package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hash-bucketed graft tables and STORAGE-PARTITIONED JOINS: the
  * catalog's `PARTITIONED BY (bucket(n, k))` layout routes every row to
  * `pmod(hash(k), n)` on write, the scan reports
  * `KeyGroupedPartitioning(bucket(n, k))`, and Spark's EnsureRequirements
  * plans a join of two co-bucketed tables with ZERO shuffle exchanges —
  * the plan shape that makes a 100 TB fact-to-fact join feasible.
  * Bucket pruning, layout-preserving rewrites, and the guards on
  * layout-corrupting writers are pinned alongside. */
class BucketedTableSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Walk the AQE-final physical plan. */
  private def planNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def go(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case o => o.children.flatMap(go)
      })
    go(df.queryExecution.executedPlan)
  }

  private def shuffleCount(df: DataFrame): Int = planNodes(df).count {
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
    case _ => false
  }

  /** Input partitions actually planned by the graft bucketed scans. */
  private def scanPartitions(df: DataFrame): Int = planNodes(df).collect {
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
      b.scan.toBatch.planInputPartitions().length
  }.sum

  private val N = 8

  private def freshCatalog(): (String, String) = {
    val wh = tmp("bucket-cat")
    val cat = s"bk${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def orders = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  private def lineitem = Tables.lineitem(spark, sf)
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  test("writes land _b=<id> dirs; the layout agrees with the V2 bucket " +
    "function; reads round-trip; appends keep the layout") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("bk_orders_src")
    spark.sql(s"""CREATE TABLE $cat.bo (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.bo SELECT * FROM bk_orders_src")
    val t = s"$wh/bo"
    assert(Sources.bucketSpecOf(t) === Some(("o_orderkey", N)))
    // physical layout: every data file under a _b= dir
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty && files.forall(_.toString.contains("_b=")),
      s"expected _b= layout, got ${files.take(3)}")
    // one commit writes at most one file per bucket (repartition first)
    assert(files.length <= N, s"${files.length} files for $N buckets")
    // round trip
    val back = spark.sql(s"SELECT * FROM $cat.bo")
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).count() === 0)
    // the dir a row landed in matches the V2 function's produceResult:
    // read each bucket dir raw and recompute the id over its keys
    val mismatch = spark.read.schema(back.schema)
      .parquet(files.map(_.toString): _*)
      .withColumn("actual",
        regexp_extract(input_file_name(), "_b=(\\d+)/", 1).cast("int"))
      .withColumn("expected", pmod(hash(col("o_orderkey")), lit(N)))
      .filter(col("actual") =!= col("expected")).count()
    assert(mismatch === 0L)
    // the scalar function agrees with the writer expression
    val fn = graft.sources.GraftBucketFunction
    val sample = orders.select("o_orderkey").limit(20).collect()
      .map(_.getLong(0)) :+ null.asInstanceOf[Any]
    val viaCol = spark.createDataFrame(
      sample.map(v => Tuple1(Option(v).map(_.asInstanceOf[Long]))).toSeq)
      .toDF("k")
      .select(pmod(hash(col("k")), lit(N)).as("b")).collect().map(_.getInt(0))
    val viaFn = sample.map(v =>
      fn.bucketOf(v, org.apache.spark.sql.types.LongType, N))
    assert(viaCol.toSeq === viaFn.toSeq)
    // an append adds files but keeps every file bucketed
    spark.sql(s"INSERT INTO $cat.bo SELECT * FROM bk_orders_src LIMIT 100")
    val files2 = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files2.length > files.length &&
      files2.forall(_.toString.contains("_b=")))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.bo").head().getLong(0)
      === orders.count() + 100)
  }

  test("storage-partitioned join: two co-bucketed tables join with ZERO " +
    "shuffles; result matches the shuffled join bit for bit") {
    val (cat, _) = freshCatalog()
    orders.createOrReplaceTempView("bk_o_src")
    lineitem.createOrReplaceTempView("bk_l_src")
    spark.sql(s"""CREATE TABLE $cat.o (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"""CREATE TABLE $cat.l (
                 |  l_orderkey BIGINT, l_quantity DOUBLE,
                 |  l_extendedprice DOUBLE)
                 |PARTITIONED BY (bucket($N, l_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.o SELECT * FROM bk_o_src")
    spark.sql(s"INSERT INTO $cat.l SELECT * FROM bk_l_src")
    val q =
      s"""SELECT /*+ MERGE(l) */ o.o_orderkey, o.o_totalprice,
         |       l.l_quantity, l.l_extendedprice
         |FROM $cat.o o JOIN $cat.l l ON o.o_orderkey = l.l_orderkey""".stripMargin
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val spj = spark.sql(q)
      val rows = spj.collect()
      assert(rows.length ===
        lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
          .count())
      assert(shuffleCount(spj) === 0,
        s"expected a shuffle-free SPJ plan, got\n${spj.queryExecution.executedPlan}")
      // parity against the same join with SPJ disabled (shuffled)
      val expected = withConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "false") {
        val plain = spark.sql(q)
        assert(shuffleCount({ val d = plain; d.collect(); d }) > 0,
          "control join should shuffle with SPJ off")
        plain.collect()
      }
      assert(rows.map(_.toString).sorted.toSeq ===
        expected.map(_.toString).sorted.toSeq)
    }
    // co-bucketed AGGREGATION: group-by on the bucket column also rides
    // the reported partitioning with no exchange
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.sql(
        s"SELECT l_orderkey, SUM(l_quantity) q FROM $cat.l GROUP BY 1")
      val n = agg.collect().length
      assert(n === lineitem.select("l_orderkey").distinct().count())
      assert(shuffleCount(agg) === 0,
        s"expected shuffle-free bucketed aggregation, got\n${agg.queryExecution.executedPlan}")
    }
  }

  test("one-sided SPJ: joining a bucketed table with a PLAIN view " +
    "shuffles only the view — through the V2 bucket function itself") {
    val (cat, _) = freshCatalog()
    orders.createOrReplaceTempView("bk_os_src")
    spark.sql(s"""CREATE TABLE $cat.os (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.os SELECT * FROM bk_os_src")
    val plain = lineitem
    plain.createOrReplaceTempView("bk_os_plain")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        s"""SELECT /*+ MERGE(l) */ o.o_orderkey, l.l_quantity
           |FROM $cat.os o JOIN bk_os_plain l
           |ON o.o_orderkey = l.l_orderkey""".stripMargin)
      val n = j.collect().length
      assert(n === lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey")).count())
      // exactly ONE exchange: the plain side shuffled INTO the bucketed
      // layout by EVALUATING GraftBucketBound.produceResult per row —
      // the storage side stays exchange-free
      assert(shuffleCount(j) === 1,
        s"expected one-sided shuffle, got\n${j.queryExecution.executedPlan}")
    }
  }

  test("bucket pruning: a point predicate on the bucket column plans " +
    "only that bucket's files; IN prunes to the union") {
    val (cat, _) = freshCatalog()
    orders.createOrReplaceTempView("bk_p_src")
    spark.sql(s"""CREATE TABLE $cat.p (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.p SELECT * FROM bk_p_src")
    // two commits -> up to 2 files per bucket
    spark.sql(s"INSERT INTO $cat.p SELECT * FROM bk_p_src LIMIT 500")
    val full = spark.sql(s"SELECT * FROM $cat.p")
    full.collect()
    val totalParts = scanPartitions(full)
    assert(totalParts > 2)
    val k = orders.select("o_orderkey").head().getLong(0)
    val point = spark.sql(s"SELECT * FROM $cat.p WHERE o_orderkey = $k")
    val got = point.collect()
    assert(got.length >= 1 && got.forall(_.getLong(0) == k))
    val pointParts = scanPartitions(point)
    assert(pointParts <= 2 && pointParts < totalParts,
      s"bucket pruning: $pointParts of $totalParts partitions")
    val ks = orders.select("o_orderkey").distinct().limit(3).collect()
      .map(_.getLong(0))
    val inQ = spark.sql(
      s"SELECT * FROM $cat.p WHERE o_orderkey IN (${ks.mkString(",")})")
    inQ.collect()
    assert(scanPartitions(inQ) <= 3 * 2 &&
      scanPartitions(inQ) < totalParts)
    // correctness under pruning: equals the unpruned filter
    assert(inQ.count() ===
      full.filter(col("o_orderkey").isin(ks.toIndexedSeq: _*)).count())
  }

  test("stats-sidecar skipping composes with bucket pruning: a range " +
    "predicate on a NON-bucket stats column drops whole commits' files") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("bk_s_src")
    spark.sql(s"""CREATE TABLE $cat.s (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))
                 |TBLPROPERTIES ('stats.columns' = 'o_custkey')""".stripMargin)
    val mid = orders.select("o_custkey").orderBy("o_custkey")
      .collect().map(_.getLong(0)).apply((orders.count() / 2).toInt)
    spark.sql(s"INSERT INTO $cat.s SELECT * FROM bk_s_src " +
      s"WHERE o_custkey <= $mid")
    spark.sql(s"INSERT INTO $cat.s SELECT * FROM bk_s_src " +
      s"WHERE o_custkey > $mid")
    val full = spark.sql(s"SELECT * FROM $cat.s")
    full.collect()
    val totalParts = scanPartitions(full)
    // the high-range predicate can only live in the second commit's
    // files: the first commit's are min/max-proven absent
    val hi = spark.sql(s"SELECT * FROM $cat.s WHERE o_custkey > $mid")
    val nHi = hi.collect().length
    assert(nHi === orders.filter(col("o_custkey") > mid).count())
    val hiParts = scanPartitions(hi)
    assert(hiParts < totalParts && hiParts >= 1,
      s"stats skipping on bucketed scan: $hiParts of $totalParts")
    // equality on the BUCKET column composes both tiers: one bucket,
    // and within it only the commit whose interval covers the key
    val k = orders.filter(col("o_custkey") > mid)
      .select("o_orderkey").head().getLong(0)
    val point = spark.sql(
      s"SELECT * FROM $cat.s WHERE o_orderkey = $k AND o_custkey > $mid")
    point.collect()
    assert(scanPartitions(point) <= 1,
      s"bucket+stats composed pruning: ${scanPartitions(point)}")
  }

  test("merge-on-read DELETE on a bucketed table keeps SPJ: DVs apply " +
    "inline in the bucketed scan, the group-by stays shuffle-free") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("bk_dv_src")
    spark.sql(s"""CREATE TABLE $cat.v (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.v SELECT * FROM bk_dv_src")
    val t = s"$wh/v"
    val total = orders.count()
    val nDel = orders.filter(col("o_custkey") % 9 === 3).count()
    // untranslatable predicate -> delta row-level path -> pure DV marks
    spark.sql(s"DELETE FROM $cat.v WHERE o_custkey % 9 = 3")
    val v = Sources.latestVersion(t)
    assert(Sources.dvRowCount(t, v) === nDel,
      "the delete must land as DV marks, not a rewrite")
    // the bucketed scan applies the DVs itself
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.v").head().getLong(0)
      === total - nDel)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.v WHERE o_custkey % 9 = 3")
      .head().getLong(0) === 0)
    // ... and still reports KeyGroupedPartitioning: shuffle-free agg
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.sql(
        s"SELECT o_orderkey, COUNT(*) c FROM $cat.v GROUP BY 1")
      val n = agg.collect().length
      assert(n === orders.filter(col("o_custkey") % 9 =!= 3)
        .select("o_orderkey").distinct().count())
      assert(shuffleCount(agg) === 0,
        "SPJ must survive a merge-on-read delete")
    }
    // purge absorbs the marks; content holds
    Sources.purgeDv(spark, t)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.v").head().getLong(0)
      === total - nDel)
  }

  test("an eq-pending bucketed table keeps SPJ: the bucketed scan " +
    "applies eq-retired positions inline, the join stays shuffle-free " +
    "and equals the join after purge_eq") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("bk_eq_o_src")
    lineitem.createOrReplaceTempView("bk_eq_l_src")
    spark.sql(s"""CREATE TABLE $cat.o (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"""CREATE TABLE $cat.l (
                 |  l_orderkey BIGINT, l_quantity DOUBLE,
                 |  l_extendedprice DOUBLE)
                 |PARTITIONED BY (bucket($N, l_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.o SELECT * FROM bk_eq_o_src")
    spark.sql(s"INSERT INTO $cat.l SELECT * FROM bk_eq_l_src")
    val t = s"$wh/o"
    val keys = orders.select("o_orderkey").orderBy("o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    import spark.implicits._
    val ch = Seq((keys(0), 7L, 1.5, "upsert"), (keys(1), 8L, 2.5, "upsert"),
        (keys(2), 0L, 0.0, "delete"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "op")
    Sources.mergeVersionEq(spark, t, ch, Seq("o_orderkey"))
    assert(Sources.eqOf(t, Sources.latestVersion(t)).nonEmpty)
    val q =
      s"""SELECT /*+ MERGE(l) */ o.o_orderkey, o.o_custkey, o.o_totalprice,
         |       l.l_quantity, l.l_extendedprice
         |FROM $cat.o o JOIN $cat.l l ON o.o_orderkey = l.l_orderkey""".stripMargin
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val spj = spark.sql(q)
      val rows = spj.collect().map(_.toString).sorted.toSeq
      assert(shuffleCount(spj) === 0,
        s"expected a shuffle-free SPJ plan, got\n${spj.queryExecution.executedPlan}")
      assert(rows.exists(_.startsWith(s"[${keys(0)},7,1.5,")) &&
        !rows.exists(_.startsWith(s"[${keys(2)},")))
      spark.sql(s"CALL $cat.system.purge_eq('o')")
      assert(Sources.eqOf(t, Sources.latestVersion(t)).isEmpty)
      assert(spark.sql(q).collect().map(_.toString).sorted.toSeq === rows,
        "the eq-pending join must equal the join after purge_eq")
    }
  }

  test("rewrites preserve the bucket layout: DELETE re-buckets survivors, " +
    "compaction re-buckets globally; guards refuse layout-corrupting " +
    "writers") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("bk_d_src")
    spark.sql(s"""CREATE TABLE $cat.d (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket($N, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.d SELECT * FROM bk_d_src")
    val t = s"$wh/d"
    val total = orders.count()
    // filter-TRANSLATABLE predicate: routes to the file-granular
    // Sources.deleteWhere (an untranslatable one would fall to the
    // row-level rewrite, which the layout guard below refuses)
    val cut = orders.filter(col("o_custkey") < 800).count()
    spark.sql(s"DELETE FROM $cat.d WHERE o_custkey < 800")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.d").head().getLong(0)
      === total - cut)
    def live = spark.sql(s"SELECT file FROM $cat.`d$$files`")
      .collect().map(_.getString(0)).toSeq
    assert(live.nonEmpty && live.forall(_.contains("_b=")),
      s"DELETE must keep the bucket layout, got ${live.take(3)}")
    // compaction keeps the layout and the content
    spark.sql(s"INSERT INTO $cat.d SELECT * FROM bk_d_src LIMIT 200")
    val preCompact = spark.sql(s"SELECT SUM(o_totalprice) FROM $cat.d")
      .head().getDouble(0)
    Sources.compactVersion(spark, t, targetRecordsPerFile = 1000000L)
    assert(live.forall(_.contains("_b=")),
      "compaction must keep the bucket layout")
    assert(math.abs(spark.sql(s"SELECT SUM(o_totalprice) FROM $cat.d")
      .head().getDouble(0) - preCompact) < 1e-6)
    // SPJ still engages on the compacted table
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.sql(
        s"SELECT o_orderkey, COUNT(*) c FROM $cat.d GROUP BY 1")
      agg.collect()
      assert(shuffleCount(agg) === 0)
    }
    // guards: MERGE INTO and writeStream refuse rather than corrupt
    val mergeErr = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.d t USING bk_d_src s
                   |ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET t.o_totalprice = 0.0""".stripMargin)
    }
    assert(mergeErr.getMessage.contains("BUCKETED") ||
      Option(mergeErr.getCause).exists(_.getMessage.contains("BUCKETED")))
  }
}
