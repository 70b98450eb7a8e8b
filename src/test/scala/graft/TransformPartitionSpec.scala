package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** HIDDEN partition transforms ([[Sources.PartTransform]]):
  * `PARTITIONED BY (days(ts) | months(ts) | years(ts) | hours(ts) |
  * truncate(n, c))` through the catalog — the derived value lives only
  * in `_pt=<v>` dir names, never in data files or the read schema, is
  * recomputed on every rewrite, and predicates on the RAW source
  * column prune whole time windows driver-side (numFiles-asserted
  * through both read stacks). */
class TransformPartitionSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def freshCatalog(): (String, String) = {
    val wh = tmp("xform-cat")
    val cat = s"xf${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** numFiles through the AQE-final plan (v1 + v2 scans). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def go(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case o => o.children.flatMap(go)
      })
    go(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.listFiles(f.partitionFilters, f.dataFilters)
              .map(_.files.length.toLong).sum
          case _ => 0L
        }
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
  }

  private def dataFiles(t: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(_.toString).toSeq
  }

  /** Events with a real TIMESTAMP column, spread across 6 months. */
  private def events = Tables.events(spark, sf)
    .select(col("event_id"), col("user_id"), col("value"),
      (timestamp_micros((col("ts") / 1000L).cast("long")) +
        make_interval(lit(0), (col("event_id") % 3).cast("int")))
        .as("ets"))

  test("days(ts): _pt=yyyy-MM-dd layout, hidden from reads, raw-ts " +
    "range predicates prune files through BOTH stacks") {
    val (cat, wh) = freshCatalog()
    events.createOrReplaceTempView("xf_days_src")
    spark.sql(s"""CREATE TABLE $cat.ev (
                 |  event_id BIGINT, user_id BIGINT, value DOUBLE,
                 |  ets TIMESTAMP)
                 |PARTITIONED BY (days(ets))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM xf_days_src")
    val t = s"$wh/ev"
    assert(Sources.partTransformOf(t)
      === Some(Sources.PartTransform("days", "ets", 0)))
    // physical layout: every file under a _pt=yyyy-MM-dd dir
    assert(dataFiles(t).nonEmpty && dataFiles(t).forall(
      _.matches(""".*/_pt=\d{4}-\d{2}-\d{2}/[^/]+$""")),
      s"expected _pt day dirs, got ${dataFiles(t).take(3)}")
    // the derived column is HIDDEN: schema and * both clean
    assert(spark.sql(s"SELECT * FROM $cat.ev").columns.toSet ===
      Set("event_id", "user_id", "value", "ets"))
    val n = events.count()
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").head().getLong(0) === n)
    // v2-stack pruning on a raw timestamp range (3 days of ~90)
    val all2 = spark.sql(s"SELECT event_id FROM $cat.ev")
    all2.collect()
    val total2 = scannedFiles(all2)
    val pruned2Df = spark.sql(s"""SELECT event_id FROM $cat.ev
      |WHERE ets >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ets < TIMESTAMP '2024-01-13 00:00:00'""".stripMargin)
    val got = pruned2Df.collect().length.toLong
    val expected = events.filter(
      col("ets") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ets") < lit("2024-01-13 00:00:00").cast("timestamp")).count()
    assert(got === expected, "pruning must never change results")
    val pruned2 = scannedFiles(pruned2Df)
    assert(pruned2 < total2 && pruned2 >= 1,
      s"v2 day pruning: scanned $pruned2 of $total2 files")
    // v1 stack (USING graft / readVersion) prunes the same way
    val v1All = Sources.readVersion(spark, t)
    v1All.collect()
    val v1Total = scannedFiles(v1All)
    val v1Pruned = Sources.readVersion(spark, t)
      .filter(col("ets") === lit("2024-01-10 12:00:00").cast("timestamp"))
    v1Pruned.collect()
    val v1Scanned = scannedFiles(v1Pruned)
    assert(v1Scanned < v1Total && v1Scanned <= pruned2,
      s"v1 point-day pruning: scanned $v1Scanned of $v1Total files")
  }

  test("months(ts): pruning on a raw month-range predicate; DML is " +
    "transform-aware (DV delete sidecar-only, CoW rewrite re-lands " +
    "_pt dirs, MERGE-insert + streaming refuse)") {
    val (cat, wh) = freshCatalog()
    events.createOrReplaceTempView("xf_months_src")
    spark.sql(s"""CREATE TABLE $cat.em (
                 |  event_id BIGINT, user_id BIGINT, value DOUBLE,
                 |  ets TIMESTAMP)
                 |PARTITIONED BY (months(ets))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.em SELECT * FROM xf_months_src")
    val t = s"$wh/em"
    assert(dataFiles(t).forall(_.matches(""".*/_pt=\d{4}-\d{2}/[^/]+$""")))
    val n = events.count()
    // month pruning, numFiles-asserted
    val all = spark.sql(s"SELECT event_id FROM $cat.em")
    all.collect()
    val total = scannedFiles(all)
    val prunedDf = spark.sql(s"""SELECT event_id FROM $cat.em
      |WHERE ets >= TIMESTAMP '2024-03-01 00:00:00'""".stripMargin)
    val got = prunedDf.collect().length.toLong
    assert(got === events.filter(
      col("ets") >= lit("2024-03-01 00:00:00").cast("timestamp")).count())
    val pruned = scannedFiles(prunedDf)
    assert(pruned < total && pruned >= 1,
      s"month pruning: scanned $pruned of $total files")
    // DV (merge-on-read) delete: sidecar-only, content right
    val filesBefore = dataFiles(t).toSet
    spark.sql(s"DELETE FROM $cat.em WHERE event_id IN (1, 2, 3)")
    assert(dataFiles(t).toSet === filesBefore,
      "a point delete on a transform table must stay merge-on-read")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.em").head().getLong(0)
      === n - 3)
    // CoW delete (wide predicate): rewritten files re-land _pt dirs
    // with values recomputed from the source column
    spark.sql(s"DELETE FROM $cat.em WHERE event_id % 2 = 0")
    assert(dataFiles(t).forall(_.matches(""".*/_pt=\d{4}-\d{2}/[^/]+$""")),
      "rewrites must preserve the _pt layout")
    val expectOdd = events.filter(col("event_id") % 2 =!= 0 &&
      !col("event_id").isin(1L, 3L)).count()
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.em").head().getLong(0)
      === expectOdd)
    // pruning still correct after the rewrite
    assert(spark.sql(s"""SELECT COUNT(*) FROM $cat.em
      |WHERE ets < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
      .head().getLong(0) === events.filter(col("event_id") % 2 =!= 0 &&
        !col("event_id").isin(1L, 3L) &&
        col("ets") < lit("2024-02-01 00:00:00").cast("timestamp")).count())
    // guards: an inserting MERGE and a streaming sink both refuse
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty
      else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    val eM = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.em x USING (SELECT 1 AS k) s
                   |ON x.event_id = s.k
                   |WHEN MATCHED THEN UPDATE SET value = 0.0""".stripMargin)
    }
    assert(msgs(eM).exists(_.contains("PARTITIONED/BUCKETED")))
  }

  test("truncate(n, c): string-prefix and integral-range layouts prune " +
    "on raw-column predicates") {
    val (cat, wh) = freshCatalog()
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice"))
    orders.createOrReplaceTempView("xf_trunc_src")
    // string truncate: first char of prio ('1'..'5')
    spark.sql(s"""CREATE TABLE $cat.ts (
                 |  o_orderkey BIGINT, prio STRING, o_totalprice DOUBLE)
                 |PARTITIONED BY (truncate(1, prio))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.ts SELECT * FROM xf_trunc_src")
    val tS = s"$wh/ts"
    assert(Sources.partTransformOf(tS)
      === Some(Sources.PartTransform("truncate", "prio", 1)))
    assert(dataFiles(tS).forall(_.contains("/_pt=")))
    val allS = spark.sql(s"SELECT o_orderkey FROM $cat.ts")
    allS.collect()
    val totalS = scannedFiles(allS)
    val oneS = spark.sql(
      s"SELECT o_orderkey FROM $cat.ts WHERE prio = '1-URGENT'")
    assert(oneS.collect().length.toLong ===
      orders.filter(col("prio") === "1-URGENT").count())
    val scannedS = scannedFiles(oneS)
    assert(scannedS < totalS && scannedS >= 1,
      s"string-truncate pruning: scanned $scannedS of $totalS")
    // integral truncate: 1000-wide key ranges
    spark.sql(s"""CREATE TABLE $cat.ti (
                 |  o_orderkey BIGINT, prio STRING, o_totalprice DOUBLE)
                 |PARTITIONED BY (truncate(1000, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.ti SELECT * FROM xf_trunc_src")
    val allI = spark.sql(s"SELECT o_orderkey FROM $cat.ti")
    allI.collect()
    val totalI = scannedFiles(allI)
    val oneI = spark.sql(
      s"SELECT o_orderkey FROM $cat.ti WHERE o_orderkey BETWEEN 100 AND 900")
    assert(oneI.collect().length.toLong ===
      orders.filter(col("o_orderkey").between(100, 900)).count())
    val scannedI = scannedFiles(oneI)
    assert(scannedI < totalI && scannedI >= 1,
      s"int-truncate pruning: scanned $scannedI of $totalI")
    // time travel across the transform table's versions stays pinned
    val vHead = Sources.latestVersion(tS)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ts VERSION AS OF $vHead")
      .head().getLong(0) === orders.count())
  }

  test("DDL guards: hours of a DATE, a second transform, mixing with " +
    "identity/bucket, and a reserved _pt column all refuse") {
    val (cat, _) = freshCatalog()
    def refuses(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Seq.empty
        else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(e).exists(_.contains(frag)),
        s"expected failure mentioning '$frag', got ${msgs(e)}")
    }
    refuses(s"""CREATE TABLE $cat.g1 (d DATE, x INT)
               |PARTITIONED BY (hours(d))""".stripMargin,
      "DATE/TIMESTAMP")
    refuses(s"""CREATE TABLE $cat.g2 (t TIMESTAMP, x INT)
               |PARTITIONED BY (days(t), months(t))""".stripMargin,
      "at most one")
    refuses(s"""CREATE TABLE $cat.g3 (t TIMESTAMP, x INT)
               |PARTITIONED BY (days(t), x)""".stripMargin,
      "cannot be combined")
    refuses(s"""CREATE TABLE $cat.g4 (t TIMESTAMP, x STRING)
               |PARTITIONED BY (truncate(4, t))""".stripMargin,
      "STRING or integral")
    refuses(s"""CREATE TABLE $cat.g5 (t TIMESTAMP, _pt INT)
               |PARTITIONED BY (days(t))""".stripMargin,
      "reserved")
  }

  test("spec evolution days(ets) -> hours(ets): one manifest serves both " +
    "generations, each pruning under its OWN window; DML lands on the " +
    "mixed table and OPTIMIZE converges the layout") {
    val (cat, wh) = freshCatalog()
    events.createOrReplaceTempView("xf_evolve_src")
    spark.sql(s"""CREATE TABLE $cat.ev (
                 |  event_id BIGINT, user_id BIGINT, value DOUBLE,
                 |  ets TIMESTAMP)
                 |PARTITIONED BY (days(ets))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM xf_evolve_src " +
      "WHERE event_id % 3 < 2")
    val t = s"$wh/ev"
    val gen1 = dataFiles(t).toSet
    assert(gen1.nonEmpty && gen1.forall(
      _.matches(""".*/_pt=\d{4}-\d{2}-\d{2}/[^/]+$""")))
    spark.sql(s"CALL $cat.system.set_partitioning('ev', 'hours(ets)')")
    assert(Sources.partTransformOf(t)
      === Some(Sources.PartTransform("hours", "ets", 0)))
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM xf_evolve_src " +
      "WHERE event_id % 3 = 2")
    val gen2 = dataFiles(t).toSet -- gen1
    assert(gen2.nonEmpty && gen2.forall(
      _.matches(""".*/_pt=\d{4}-\d{2}-\d{2}-\d{2}/[^/]+$""")),
      s"generation 2 must be hour-laid, got ${gen2.take(3)}")
    // correctness across mixed generations
    val n = events.count()
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").head().getLong(0) === n)
    // per-generation windows: inside one gen-2 day with several hour
    // dirs, an hour-narrow predicate scans strictly fewer files than
    // the day-wide one (gen-1 files covering that day cost BOTH the
    // same — their day window is indivisible by design)
    val hourDirs = gen2.toSeq.map(
      _.split('/').find(_.startsWith("_pt=")).get.stripPrefix("_pt="))
      .distinct
    val (day2, hrs) = hourDirs.groupBy(_.take(10)).maxBy(_._2.length)
    assert(hrs.length >= 2, "fixture too small: need a day with 2+ hours")
    val hr = hrs.sorted.head // yyyy-MM-dd-HH
    def scanOf(pred: String): (Long, Long) = {
      val df = spark.sql(s"SELECT event_id FROM $cat.ev WHERE $pred")
      val rows = df.collect().length.toLong
      (scannedFiles(df), rows)
    }
    val dayPred = s"ets >= TIMESTAMP '$day2 00:00:00' AND " +
      s"ets < TIMESTAMP '$day2 00:00:00' + INTERVAL 1 DAY"
    val hourStart = s"${hr.take(10)} ${hr.substring(11)}:00:00"
    val hourPred = s"ets >= TIMESTAMP '$hourStart' AND " +
      s"ets < TIMESTAMP '$hourStart' + INTERVAL 1 HOUR"
    val (dayScan, dayRows) = scanOf(dayPred)
    val (hourScan, hourRows) = scanOf(hourPred)
    assert(hourScan < dayScan,
      s"hour window must prune within the day: $hourScan vs $dayScan")
    // pruning never changes results — both predicates vs the source
    assert(dayRows === spark.sql(
      s"SELECT COUNT(*) FROM xf_evolve_src WHERE $dayPred").head().getLong(0))
    assert(hourRows === spark.sql(
      s"SELECT COUNT(*) FROM xf_evolve_src WHERE $hourPred").head().getLong(0))
    // gen-1 day windows still prune: a whole-table scan touches every
    // file, the day predicate must touch strictly fewer
    val all = spark.sql(s"SELECT event_id FROM $cat.ev")
    all.collect()
    assert(dayScan < scannedFiles(all),
      "day predicate must prune gen-1 days on the mixed table")
    // DML on the mixed table: a point DELETE (merge-on-read) lands
    val victims = spark.sql(s"SELECT event_id FROM $cat.ev LIMIT 2")
      .collect().map(_.getLong(0))
    spark.sql(s"DELETE FROM $cat.ev WHERE event_id IN " +
      s"(${victims.mkString(", ")})")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").head().getLong(0)
      === n - 2)
    // evolution guards: non-temporal target, column change, and a
    // transform-less table all refuse loudly
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.set_partitioning('ev', 'truncate(ets)')")
    }
    assert(msgs(e1).exists(_.contains("temporal")))
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.set_partitioning('ev', 'hours(value)')")
    }
    assert(msgs(e2).exists(_.contains("source column")))
    spark.sql(s"CREATE TABLE $cat.flat (x BIGINT, ts TIMESTAMP)")
    spark.sql(s"INSERT INTO $cat.flat VALUES (1, TIMESTAMP '2024-01-01')")
    val e3 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.set_partitioning('flat', 'days(ts)')")
    }
    assert(msgs(e3).exists(_.contains("no hidden partition transform")))
    // convergence: whole-table OPTIMIZE rewrites every file under the
    // NEW spec (the natural rewrite cadence, never a forced migration)
    spark.sql(s"CALL $cat.system.optimize('ev', 1000000)")
    val after = dataFiles(t).toSet -- gen1 -- gen2
    val vHead = Sources.latestVersion(t)
    val headFiles = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(t, s"v$vHead.manifest")).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#"))
    }
    assert(headFiles.nonEmpty && headFiles.forall(
      _.matches(""".*/_pt=\d{4}-\d{2}-\d{2}-\d{2}/[^/]+$""")),
      "OPTIMIZE must converge the whole table to the evolved spec")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ev").head().getLong(0)
      === n - 2, "compaction must preserve the DML'd state")
    assert(after.nonEmpty)
  }
}
