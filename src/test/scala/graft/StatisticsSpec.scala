package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planner-visible statistics for graft tables
  * ([[Sources.versionBytes]] surfaced through
  * `SupportsReportStatistics` / `BaseRelation.sizeInBytes`): the
  * broadcast decision must fire at PLAN time from the manifest's known
  * size — before AQE — for every read stack, including the V1-wrapped
  * DV scan that previously reported the huge V1 default. */
class StatisticsSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def freshCatalog(): (String, String) = {
    val wh = tmp("stat-cat")
    val cat = s"st${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
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

  /** Initial (pre-execution) physical plan — AQE is disabled in these
    * tests, so this IS the plan that runs; the point is precisely that
    * no runtime re-plan is needed. */
  private def initialNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    def go(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(go)
    go(df.queryExecution.executedPlan)
  }

  private def broadcastJoins(df: DataFrame): Int = initialNodes(df).count {
    case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
    case _ => false
  }

  private def sortMergeJoins(df: DataFrame): Int = initialNodes(df).count {
    case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
    case _ => false
  }

  test("a dimension-sized graft table broadcasts WITHOUT AQE; a " +
    "fact-sized one does not; a DV-carrying dimension (V1 wrap) " +
    "still broadcasts") {
    val (cat, wh) = freshCatalog()
    Tables.nation(spark, sf).createOrReplaceTempView("stat_nation_src")
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice")
      .createOrReplaceTempView("stat_fact_src")
    spark.sql(s"""CREATE TABLE $cat.dim (
                 |  n_nationkey BIGINT, n_name STRING,
                 |  n_regionkey BIGINT)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.dim SELECT * FROM stat_nation_src")
    spark.sql(s"""CREATE TABLE $cat.fact (
                 |  l_orderkey BIGINT, l_suppkey BIGINT,
                 |  l_quantity DOUBLE, l_extendedprice DOUBLE)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM stat_fact_src")
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (8 * 1024).toString) {
      // dim (~3 KB) joins fact: the planner must know the dim's size
      // from the manifest and pick a broadcast join with NO AQE help
      val dimJoin = spark.sql(
        s"""SELECT f.l_orderkey, d.n_name FROM $cat.fact f
           |JOIN $cat.dim d ON f.l_suppkey % 25 = d.n_nationkey""".stripMargin)
      assert(broadcastJoins(dimJoin) === 1 && sortMergeJoins(dimJoin) === 0,
        s"plain dim must broadcast without AQE:\n" +
          dimJoin.queryExecution.executedPlan)
      // fact (~100 KB > 32 KB threshold) joins fact: no broadcast
      val factJoin = spark.sql(
        s"""SELECT a.l_orderkey FROM $cat.fact a
           |JOIN $cat.fact b ON a.l_orderkey = b.l_orderkey""".stripMargin)
      assert(broadcastJoins(factJoin) === 0 && sortMergeJoins(factJoin) === 1,
        s"fact-fact must not broadcast at an 8 KB threshold:\n" +
          factJoin.queryExecution.executedPlan)
      // DV the dimension: the read plans through the native scan,
      // whose statistics report the kept files' manifest size — still
      // a planner-side broadcast
      val t = s"$wh/dim"
      val (_, marked, usedDv) = Sources.deleteWhereDv(spark, t,
        col("n_nationkey") === 0L)
      assert(usedDv && marked === 1L)
      val dvJoin = spark.sql(
        s"""SELECT f.l_orderkey, d.n_name FROM $cat.fact f
           |JOIN $cat.dim d ON f.l_suppkey % 25 = d.n_nationkey""".stripMargin)
      assert(broadcastJoins(dvJoin) === 1 && sortMergeJoins(dvJoin) === 0,
        s"DV'd dim must still broadcast without AQE:\n" +
          dvJoin.queryExecution.executedPlan)
      assert(dvJoin.filter(col("n_name").isNull).count() === 0)
      // and the metadata tables report their true KB-scale size to the
      // planner instead of the V1 default (which would veto broadcasts)
      val metaStats = spark.sql(s"SELECT * FROM $cat.`fact$$files`")
        .queryExecution.optimizedPlan.stats
      assert(metaStats.sizeInBytes < 1024 * 1024,
        s"the $$files metadata table must report KB-scale stats, got " +
          s"${metaStats.sizeInBytes}")
      // the DV'd dim's logical stats are the manifest's physical bytes
      val dimStats = spark.sql(s"SELECT * FROM $cat.dim")
        .queryExecution.optimizedPlan.stats
      assert(dimStats.sizeInBytes < 8 * 1024,
        s"DV'd dim must report manifest bytes, got ${dimStats.sizeInBytes}")
    }
  }

  test("numRows and per-column NDV reach the planner from the sidecar " +
    "alone: exact live rows after a DV delete, HLL-union NDV within " +
    "2% on a stats.columns table, no scan at estimate time") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.n (k BIGINT, grp BIGINT, s STRING) " +
      "TBLPROPERTIES ('stats.columns' = 'k,grp')")
    (1L to 3000L).map(i => (i, i % 97, s"s$i")).toDF("k", "grp", "s")
      .createOrReplaceTempView("ndv_src")
    spark.sql(s"INSERT INTO $cat.n SELECT * FROM ndv_src")
    // second commit: the first batch's sketches must CARRY, not rescan
    (3001L to 4000L).map(i => (i, i % 97, s"s$i")).toDF("k", "grp", "s")
      .createOrReplaceTempView("ndv_src2")
    spark.sql(s"INSERT INTO $cat.n SELECT * FROM ndv_src2")
    val t = s"$wh/n"
    // DV-delete 50 rows: numRows must fall exactly, from metadata
    Sources.deleteWhereDv(spark, t, col("k") <= 50L)
    val v = Sources.latestVersion(t)
    assert(Sources.versionRows(t, v) === Some(3950L),
      s"sidecar numRows must be exact live rows, got " +
        s"${Sources.versionRows(t, v)}")
    val ndvK = Sources.versionNdv(t, v, "k").get.toDouble
    assert(math.abs(ndvK - 4000) / 4000 < 0.02,
      s"HLL-union NDV(k) $ndvK outside 2% of 4000")
    val ndvG = Sources.versionNdv(t, v, "grp").get.toDouble
    assert(math.abs(ndvG - 97) / 97 < 0.02,
      s"HLL-union NDV(grp) $ndvG outside 2% of 97")
    // the planner sees them through the scan's reported statistics
    val stats = spark.sql(s"SELECT * FROM $cat.n")
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3950)),
      s"planner rowCount must come from the sidecar, got ${stats.rowCount}")
    assert(stats.attributeStats.exists { case (a, st) =>
      a.name == "grp" && st.distinctCount.exists(d =>
        math.abs(d.toDouble - 97) / 97 < 0.02) },
      s"planner must see NDV(grp)~97, got ${stats.attributeStats}")
    // the $ndv gauge serves the same numbers in SQL
    val gauge = spark.sql(
      s"SELECT column, ndv, live_rows FROM $cat.`n$$ndv` ORDER BY column")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(gauge.map(_._1).toSeq === Seq("grp", "k"))
    assert(gauge.forall(_._3 == 3950L))
    spark.sql(s"DROP TABLE $cat.n")
  }

  test("concurrent eq merges: exactly one wins per version, the loser " +
    "fails loudly and cleans up, a retry lands — no silent loss") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("eq-race")
    d.toFile.deleteOnExit()
    val t = d.resolve("t").toString
    Sources.commitVersion(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "s"), t)
    def change(key: Long, tag: String) =
      Seq((key, s"$tag-$key")).toDF("k", "s")
        .withColumn("op", lit("upsert"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = (1 to 4).map { i =>
      Future(scala.util.Try(
        Sources.mergeVersionEq(spark, t, change(i.toLong, "race"),
          Seq("k"))))
    }
    val done = Await.result(Future.sequence(attempts), 5.minutes)
    val (wins, losses) = done.partition(_.isSuccess)
    assert(wins.nonEmpty, "at least one racer must land")
    assert(losses.forall(_.failed.get
      .isInstanceOf[java.util.ConcurrentModificationException]),
      s"losers must fail loudly with the conflict type, got $losses")
    // every loser retries cleanly; the final state carries ALL updates
    done.zipWithIndex.foreach { case (r, idx) =>
      if (r.isFailure)
        Sources.mergeVersionEq(spark, t,
          change((idx + 1).toLong, "race"), Seq("k"))
    }
    val state = Sources.readVersion(spark, t).orderBy("k").collect()
    assert(state.length === 100)
    (1 to 4).foreach { i =>
      assert(state(i - 1).getString(1) === s"race-$i",
        s"update $i must survive the race + retry")
    }
    // no stranded batch/eqdel dirs beyond the published ones
    val entries = Sources.eqOf(t, Sources.latestVersion(t))
    assert(entries.length === 4)
  }
}
