package graft

import graft.sources.{RuntimeScanWitness, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.functions._

/** One native catalog scan: delete-carrying versions of every layout,
  * the target scan of SQL UPDATE/MERGE and plain selects of the
  * metadata columns all plan through `GraftNativeScan`. Tables are
  * tiny; the witness counts the files a scan plans, and every answer is
  * checked against a model computed here. */
class NativeScanSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def freshCatalog(): (String, String) = {
    val wh = tmp("native-cat")
    val cat = s"ns${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** The files each graft native scan of `plan` plans; a command's
    * plan is read through its executed physical plan. */
  private def plannedFiles(plan: SparkPlan): Seq[Int] =
    RuntimeScanWitness.of(plan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }).map(_.files)

  private def manifestFiles(t: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(t,
      s"v${Sources.latestVersion(t)}.manifest")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  test("an identity-partitioned API table serves its partition column " +
    "in the catalog and the graft data source, clean and DV'd") {
    val (cat, wh) = freshCatalog()
    val t = s"$wh/u"
    Sources.writeTableProperties(t, Map("partition.columns" -> "g"))
    val base = (1L to 40L).map(k => (k, k * 10, (k % 4).toInt))
    Sources.commitVersion(base.toDF("k", "x", "g"), t)
    def model(ks: Seq[(Long, Long, Int)]) =
      ks.map { case (k, x, g) => s"[$k,$x,$g]" }.sorted
    for (step <- Seq("clean", "dv")) {
      val live = if (step == "clean") base else base.filterNot(_._1 % 3 == 0)
      assert(spark.table(s"$cat.u").columns.toSet === Set("k", "x", "g"), step)
      assert(rows(spark.sql(s"SELECT k, x, g FROM $cat.u"), "k", "x", "g") ===
        model(live), s"catalog, $step")
      val ds = spark.read.format("graft").load(t)
      assert(ds.columns.toSet === Set("k", "x", "g"), s"graft source, $step")
      assert(rows(ds, "k", "x", "g") === model(live), s"graft source, $step")
      if (step == "clean") Sources.deleteWhereDv(spark, t, col("k") % 3 === 0)
    }
  }

  test("the graft data source reads a clean catalog-created " +
    "identity-partitioned table") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, x BIGINT, g INT) PARTITIONED BY (g)")
    (1L to 30L).map(k => (k, k * 2, (k % 3).toInt)).toDF("k", "x", "g")
      .createOrReplaceTempView("native_src_p")
    spark.sql(s"INSERT INTO $cat.p SELECT * FROM native_src_p")
    val ds = spark.read.format("graft").load(s"$wh/p")
    assert(rows(ds, "k", "x", "g") ===
      (1L to 30L).map(k => s"[$k,${k * 2},${k % 3}]").sorted)
    assert(ds.filter(col("g") === 1).count() === 10L)
  }

  test("a DV'd identity-partitioned read plans exactly the g = 2 files, " +
    "and serves g, _gfile and _gpos together") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ip (k BIGINT, x BIGINT, g INT) PARTITIONED BY (g)")
    (1L to 200L).map(k => (k, k * 10, (k % 5).toInt)).toDF("k", "x", "g")
      .createOrReplaceTempView("native_src_ip")
    spark.sql(s"""INSERT INTO $cat.ip
                 |SELECT /*+ REPARTITION(4) */ * FROM native_src_ip""".stripMargin)
    val t = s"$wh/ip"
    val g2 = manifestFiles(t).count(_.contains("/g=2/"))
    assert(g2 >= 2 && manifestFiles(t).length > g2, "fixture too small")
    Sources.deleteWhereDv(spark, t, col("k") % 7 === 0)
    val live = (1L to 200L).filterNot(_ % 7 == 0)
    val q = spark.sql(s"SELECT k, x FROM $cat.ip WHERE g = 2")
    assert(rows(q, "k", "x") ===
      live.filter(_ % 5 == 2).map(k => s"[$k,${k * 10}]").sorted)
    assert(plannedFiles(q.queryExecution.executedPlan) === Seq(g2))
    // the partition value, the file and the position of every live row
    val m = spark.sql(s"SELECT k, g, _gfile, _gpos FROM $cat.ip").collect()
    assert(m.map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ===
      live.map(k => (k, (k % 5).toInt)))
    assert(m.forall(r => r.getString(2).contains(s"/g=${r.getInt(1)}/")))
    assert(m.map(r => (r.getString(2), r.getLong(3))).distinct.length === m.length)
    assert(m.map(_.getString(2)).toSet === manifestFiles(t).toSet)
  }

  test("a DV'd truncate-partitioned read plans exactly the window's files") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.tr (k BIGINT, x BIGINT)
                 |PARTITIONED BY (truncate(100, k))""".stripMargin)
    (1L to 800L).map(k => (k, k * 3)).toDF("k", "x")
      .createOrReplaceTempView("native_src_tr")
    spark.sql(s"""INSERT INTO $cat.tr
                 |SELECT /*+ REPARTITION(2) */ * FROM native_src_tr""".stripMargin)
    val t = s"$wh/tr"
    val window = manifestFiles(t).count(_.contains("/_pt=300/"))
    assert(window >= 1 && manifestFiles(t).length > window, "fixture too small")
    Sources.deleteWhereDv(spark, t, col("k") % 11 === 0)
    val q = spark.sql(s"SELECT k, x FROM $cat.tr WHERE k BETWEEN 301 AND 350")
    assert(rows(q, "k", "x") === (301L to 350L).filterNot(_ % 11 == 0)
      .map(k => s"[$k,${k * 3}]").sorted)
    assert(plannedFiles(q.queryExecution.executedPlan) === Seq(window))
  }

  test("SQL UPDATE plans only the files its predicate's stats keep") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.up (k BIGINT, x BIGINT)
                 |TBLPROPERTIES ('stats.columns' = 'k')""".stripMargin)
    (1L to 640L).map(k => (k, k)).toDF("k", "x")
      .createOrReplaceTempView("native_src_up")
    spark.sql(s"""INSERT INTO $cat.up
                 |SELECT /*+ REPARTITION_BY_RANGE(32, k) */ * FROM native_src_up""".stripMargin)
    val t = s"$wh/up"
    assert(manifestFiles(t).length === 32)
    val upd = spark.sql(s"UPDATE $cat.up SET x = 0 WHERE k = 305")
    assert(plannedFiles(upd.queryExecution.executedPlan) === Seq(1))
    assert(rows(spark.sql(s"SELECT k, x FROM $cat.up"), "k", "x") ===
      (1L to 640L).map(k => s"[$k,${if (k == 305L) 0L else k}]").sorted)
  }
}
