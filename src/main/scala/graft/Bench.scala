package graft

/** Benchmark main (driver contract): runs every inventory query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query and
  * total wall seconds.
  *
  * Each query is executed with a `noop`-format write: unlike `count()`
  * (which Catalyst collapses to a scan-count for narrow plans) the noop
  * sink materializes every output row through the full plan, so the
  * numbers reflect real operator cost.
  *
  * Lifecycle entries (the q179/q203/q206..q219 table-format and index
  * gates) do their commits/model-training/streaming-maintenance
  * EAGERLY inside `build(...)` and return the final read as a lazy
  * plan — so each query is timed in TWO phases: `build` (the eager
  * lifecycle work) and `read` (executing the returned plan). The
  * per-query number in `queries` stays the end-to-end total (format
  * unchanged for the driver); `phases` in BENCH_FULL carries the split
  * wherever build is non-trivial, so a regression on the READ path
  * (the one a 100 TB user cares about) can never hide inside index
  * build noise. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/classloading warm-up outside the measured loop: a small scan +
    // aggregate touches the parquet reader, codegen and shuffle paths once
    // so the first measured query isn't charged for JVM warm-up. No query
    // results are cached — Spark shares nothing across jobs here beyond
    // loaded classes and compiled code.
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
      .write.mode("overwrite").format("noop").save()

    // Fixed CALIBRATION probe (additions-only, r10 verdict item 2): a
    // constant scan+aggregate+join shape timed at the start and end of
    // the run. Round-over-round PERF comparisons can normalize by it —
    // the r10 read showed the shared host drifting ~1.4x between runs,
    // which otherwise reads as 7 phantom query regressions. Computes
    // from the parquet inputs every time; nothing is cached.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = Tables.orders(spark, sfDir).select("o_orderkey")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy((li("l_orderkey") % 16).as("g"))
        .agg(org.apache.spark.sql.functions.sum(
          li("l_extendedprice") * (org.apache.spark.sql.functions.lit(1.0)
            - li("l_discount"))).as("s"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val calStart = calibrate()

    /** (build seconds, read seconds); (-1, -1) on failure. */
    def measure(q: Query): (Double, Double) = {
      val t0 = System.nanoTime()
      try {
        val df = q.build(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        (-1.0, -1.0)
      }
    }

    // order-stable run: measure each query end-to-end
    val firstPass = SparkEntry.inventory.map(q => q -> measure(q))

    // the shared VM produces sporadic 10-30x stalls on single queries
    // (GC/neighbor noise — e.g. one round recorded q72 at 15.1 s vs a
    // 1.2-4.8 s five-run band); re-measure anything far off the run's
    // own p50 once and keep the min, so BENCH reflects the engine, not
    // one descheduled JVM moment
    val oks = firstPass.collect { case (_, (b, r)) if b >= 0 => b + r }.sorted
    val p50 = if (oks.isEmpty) 0.0 else oks(oks.size / 2)
    val outlierCut = math.max(3.0, 3 * p50)
    val results: Seq[(String, (Double, Double))] =
      firstPass.map { case (q, (b, r)) =>
        if (b >= 0 && b + r > outlierCut) {
          val (b2, r2) = measure(q)
          System.err.println(
            f"[bench] ${q.name} re-measured: ${b + r}%.2f -> ${b2 + r2}%.2f")
          q.name -> (if (b2 >= 0 && b2 + r2 < b + r) (b2, r2) else (b, r))
        } else q.name -> ((b, r))
      }
    def totalOf(br: (Double, Double)): Double =
      if (br._1 < 0) -1.0 else br._1 + br._2
    val qs = results.map { case (k, br) =>
      "\"" + k + "\":" + f"${totalOf(br)}%.2f" }.mkString("{", ",", "}")
    // the build/read split, reported wherever the build phase is
    // non-trivial (>= 0.25 s): exactly the lifecycle gates whose setup
    // would otherwise mask a read-path regression
    val phases = results.collect {
      case (k, (b, r)) if b >= 0.25 =>
        "\"" + k + "\":" + f"""{"build":$b%.2f,"read":$r%.2f}"""
    }.mkString("{", ",", "}")
    val total = results.collect {
      case (_, br) if br._1 >= 0 => totalOf(br) }.sum
    val calEnd = calibrate()
    val calibration =
      f""""calibration":{"start":$calStart%.3f,"end":$calEnd%.3f}"""
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"phases":$phases,$calibration,"sf":"$sfDir"}"""
    // The harness keeps only the last ~2000 chars of process output and
    // json-parses them; with a 160+-query inventory the full line cannot
    // fit (r01's capture clipped the head of the line and lost the
    // total). So: (1) persist the full per-query JSON to a file in the
    // repo, (2) print the full line for interactive runs, (3) print
    // LAST a short line — guaranteed inside any tail window — carrying
    // the exact total, query count, p50, and the slowest 15 queries
    // (the only per-query numbers that matter for a perf read).
    // cwd-relative: sbt forks with the project base dir as working dir,
    // so this lands next to the build wherever the checkout lives
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json").toAbsolutePath,
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}") }
    println(full)
    val slowest = results.filter(_._2._1 >= 0).sortBy(p => -totalOf(p._2))
      .take(15)
      .map { case (k, br) => "\"" + k + "\":" + f"${totalOf(br)}%.2f" }
      .mkString("{", ",", "}")
    val okTimes = results.collect {
      case (_, br) if br._1 >= 0 => totalOf(br) }.sorted
    val p50out = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.size / 2)
    // PINNED headline set, fixed round-over-round: a 20-query slice
    // spanning joins/aggs, dedup, ANN, text, analytics, and the
    // lakehouse READ paths. Inventory growth shifts the full run's mix
    // every round; the pinned numbers are the comparable series. READ
    // phase only — a lifecycle gate's build cost (commits, training)
    // must never mask read-path drift here.
    val pinnedNames = Seq(
      "q01_scan_project", "q03_hyperjoin", "q04_star_join",
      "q11_groupby_agg", "q13a_rollup", "q24_cosine_topk",
      "q28_dedup_minhash", "q31b_knn_lsh", "q66_dedup_clusters",
      "q80_quality_verdict", "q98_semdedup", "q125_bm25",
      "q137_setsim_prefix", "q149_weighted_sample", "q180_basket_triples",
      "q203_ivfadc", "q212_bucketed_spj", "q219_transform_partition",
      "q224_d4_diversify", "q227_semdedup_bounded")
    val byName = results.toMap
    val pinnedReads = pinnedNames.flatMap(n =>
      byName.get(n).collect { case (b, r) if b >= 0 => n -> r })
    val pinnedTotal = pinnedReads.map(_._2).sum
    val pinnedSorted = pinnedReads.map(_._2).sorted
    val pinnedP50 =
      if (pinnedSorted.isEmpty) 0.0 else pinnedSorted(pinnedSorted.size / 2)
    val pinnedJson = pinnedReads.map { case (k, r) =>
      "\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
    val pinned =
      f""""pinned":{"read_total":$pinnedTotal%.2f,"read_p50":$pinnedP50%.2f,"n":${pinnedReads.size},"queries":$pinnedJson}"""
    val short =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"p50":$p50out%.2f,$pinned,$calibration,"queries":$slowest,"sf":"$sfDir","full":"BENCH_FULL.json"}"""
    // Both BENCH rounds so far came back `parsed: null` driver-side —
    // sbt's trailing "[success]" lines can displace even the short line
    // from a tail capture. Persist the summary to a FIXED file too, so
    // the parseable artifact exists regardless of stdout windowing.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SUMMARY.json").toAbsolutePath,
      (short + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] BENCH_SUMMARY.json write failed: ${e.getMessage}") }
    println(short)
    Console.out.flush()
    spark.stop()
  }
}
