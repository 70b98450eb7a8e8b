package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Identity-partitioned graft tables: hive-laid-out batch dirs, a real
  * partition spec in the manifest index (partitionFilters prune whole
  * directories, numFiles-asserted through BOTH read stacks), and
  * partition-aware rewrites (delete/merge/DV/compaction never null a
  * partition column). */
class PartitionedTableSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
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

  private def orders = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderpriority").as("prio"))

  test("API path: commits land hive-laid batch dirs; reads reattach the " +
    "partition column; partitionFilters prune files in the v1 stack") {
    val t = s"${tmp("part-api")}/t"
    Sources.writeTableProperties(t, Map("partition.columns" -> "prio"))
    val v1 = Sources.commitVersion(orders, t)
    // physical layout: every data file sits under a prio=... dir
    val files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
    assert(files.nonEmpty && files.forall(_.toString.contains("prio=")),
      s"expected hive layout, got ${files.take(3)}")
    val nPrio = orders.select("prio").distinct().count()
    // readVersion serves the partition column with correct values
    val back = Sources.readVersion(spark, t)
    assert(back.count() === orders.count())
    assert(back.groupBy("prio").count().count() === nPrio)
    assert(back.filter(col("prio").isNull).count() === 0)
    // content parity (column order per declared... orders original)
    assert(back.select("o_orderkey", "prio").exceptAll(
      orders.select("o_orderkey", "prio")).count() === 0)
    // partition pruning, numFiles-asserted: one prio out of nPrio
    val one = orders.select("prio").distinct().orderBy("prio")
      .head().getString(0)
    val all = Sources.readVersion(spark, t)
    val total = scannedFiles({ val d = all; d.collect(); d })
    val prunedDf = Sources.readVersion(spark, t)
      .filter(col("prio") === one)
    prunedDf.collect()
    val pruned = scannedFiles(prunedDf)
    assert(pruned < total && pruned >= 1,
      s"partition pruning: scanned $pruned of $total files")
    // an append creates a second batch; both generations still read
    val v2 = Sources.commitVersion(orders.limit(50), t)
    assert(Sources.readVersion(spark, t).count() === orders.count() + 50)
  }

  test("catalog SQL: CREATE PARTITIONED BY + INSERT + pruned SELECT + " +
    "DELETE + time travel; guards on MERGE and streaming") {
    val wh = tmp("part-cat")
    val cat = s"pc${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    orders.createOrReplaceTempView("part_src")
    spark.sql(s"""CREATE TABLE $cat.po (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, prio STRING)
                 |PARTITIONED BY (prio)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.po SELECT * FROM part_src")
    val t = s"$wh/po"
    assert(Sources.partitionColumnsOf(t) === Seq("prio"))
    val total = orders.count()
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.po").head().getLong(0)
      === total)
    // v2 stack pruning, numFiles-asserted
    val one = orders.select("prio").distinct().orderBy("prio")
      .head().getString(0)
    val fullDf = spark.sql(s"SELECT o_orderkey, prio FROM $cat.po")
    fullDf.collect()
    val allFiles = scannedFiles(fullDf)
    val oneDf = spark.sql(
      s"SELECT o_orderkey FROM $cat.po WHERE prio = '$one'")
    val nOne = oneDf.collect().length
    assert(nOne === orders.filter(col("prio") === one).count())
    val prunedFiles = scannedFiles(oneDf)
    assert(prunedFiles < allFiles && prunedFiles >= 1,
      s"v2 partition pruning: scanned $prunedFiles of $allFiles")
    // DELETE with a partition predicate (merge-on-read or CoW — either
    // way partition values survive)
    val vPre = Sources.latestVersion(t)
    spark.sql(s"DELETE FROM $cat.po WHERE prio = '$one' AND o_orderkey < 100")
    val nDel = orders.filter(col("prio") === one && col("o_orderkey") < 100)
      .count()
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.po").head().getLong(0)
      === total - nDel)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.po WHERE o_totalprice IS NULL OR prio IS NULL")
      .head().getLong(0) === 0, "a delete must not null partition columns")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.po VERSION AS OF $vPre")
      .head().getLong(0) === total)
    // guards: whole-group row-level rewrite and streaming sink refuse
    val eM = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.po t USING (SELECT 1 AS k) s
                   |ON t.o_orderkey = s.k
                   |WHEN MATCHED THEN UPDATE SET o_totalprice = 0.0
                   |""".stripMargin)
    }
    assert(eM.getMessage.contains("PARTITIONED"))
    spark.sql(s"DROP TABLE $cat.po")
  }

  test("partition-aware rewrites: CoW delete, keyed merge, DV delete + " +
    "purge, and compaction never lose partition values") {
    val t = s"${tmp("part-rw")}/t"
    Sources.writeTableProperties(t,
      Map("partition.columns" -> "prio", "stats.columns" -> "o_orderkey"))
    Sources.commitVersion(orders, t)
    Sources.commitStats(spark, t, 1, Seq("o_orderkey"))
    val total = orders.count()
    def noNulls(): Unit =
      assert(Sources.readVersion(spark, t)
        .filter(col("prio").isNull || col("o_orderkey").isNull)
        .count() === 0, "partition values must survive every rewrite")
    // CoW delete crossing partitions
    val (v2, _, _) = Sources.deleteWhere(spark, t, col("o_orderkey") < 50)
    val nDel = orders.filter(col("o_orderkey") < 50).count()
    assert(Sources.readVersion(spark, t).count() === total - nDel)
    noNulls()
    // keyed merge: upsert re-priorities one key, delete another
    val k1 = orders.filter(col("o_orderkey") >= 50)
      .agg(min("o_orderkey")).head().getLong(0)
    val changes = orders.filter(col("o_orderkey") === k1)
      .withColumn("prio", lit("0-MERGED")).withColumn("op", lit("upsert"))
    Sources.mergeVersion(spark, t, changes, "o_orderkey")
    val head = Sources.readVersion(spark, t)
    assert(head.filter(col("o_orderkey") === k1).select("prio")
      .head().getString(0) === "0-MERGED")
    assert(head.count() === total - nDel)
    noNulls()
    // DV delete with a PARTITION-COLUMN predicate, then purge
    val one = orders.filter(col("o_orderkey") >= 50)
      .select("prio").distinct().orderBy("prio").head().getString(0)
    val nOne = Sources.readVersion(spark, t)
      .filter(col("prio") === one && col("o_orderkey") % 97 === 0).count()
    val vPre = Sources.latestVersion(t)
    val (vDv, marked, usedDv) = Sources.deleteWhereDv(spark, t,
      col("prio") === one && col("o_orderkey") % 97 === 0)
    assert(usedDv && marked === nOne)
    assert(Sources.readVersion(spark, t).count() === total - nDel - nOne)
    noNulls()
    val (vP, _) = Sources.purgeDv(spark, t)
    assert(Sources.dvOf(t, vP).isEmpty)
    assert(Sources.readVersion(spark, t).count() === total - nDel - nOne)
    noNulls()
    // compaction keeps the hive layout
    Sources.compactVersion(spark, t, 100000)
    assert(Sources.readVersion(spark, t).count() === total - nDel - nOne)
    noNulls()
  }
}
