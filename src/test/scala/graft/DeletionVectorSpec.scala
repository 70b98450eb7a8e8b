package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors ([[Sources.deleteWhereDv]]): the
  * point-delete lifecycle that must NEVER rewrite a data file — marked
  * positions land in the `v<N>.dv` sidecar, every read stack filters
  * them, appends carry them, CDF emits them, purge/compaction absorb
  * them, vacuum sweeps them. */
class DeletionVectorSpec extends SparkTestBase {

  private def freshTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def ordersBase = Tables.orders(spark, sf)
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  /** The manifest's pinned file list (filesOf is private[sources]). */
  private def manifestFiles(table: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, s"v$v.manifest")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  private def dataFilesOnDisk(table: String): Set[String] = {
    val dir = java.nio.file.Paths.get(table, "data")
    if (!java.nio.file.Files.exists(dir)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    }
  }

  test("dv delete commits ONLY sidecar metadata: identical manifest, " +
    "zero data files written, rows gone at head, intact when pinned") {
    val t = freshTable("dv-point")
    val v1 = Sources.commitVersion(
      ordersBase.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), t)
    Sources.commitStats(spark, t, v1, Seq("o_orderkey"))
    val total = ordersBase.count()
    val victims = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    val filesBefore = manifestFiles(t, v1)
    val diskBefore = dataFilesOnDisk(t)
    val (v2, marked, usedDv) = Sources.deleteWhereDv(spark, t,
      col("o_orderkey").isin(victims.toIndexedSeq: _*))
    assert(usedDv, "a 3-row delete must take the DV path")
    assert(marked === 3L)
    // THE merge-on-read claim: manifest byte-identical, no file written
    assert(manifestFiles(t, v2) === filesBefore,
      "a DV delete must not change the file list")
    assert(dataFilesOnDisk(t) === diskBefore,
      "a DV delete must not write any data file")
    assert(Sources.dvRowCount(t, v2) === 3L)
    // head excludes exactly the victims; the pinned old version is intact
    val head = Sources.readVersion(spark, t)
    assert(head.count() === total - 3)
    assert(head.filter(col("o_orderkey").isin(victims.toIndexedSeq: _*))
      .count() === 0)
    assert(Sources.readVersion(spark, t, v1).count() === total)
    // the indexed (stats-skipping) read stack applies the DV too
    assert(Sources.readVersion(spark, t).count() === total - 3)
    // stats sidecar survived verbatim: pruning still works
    val (kept, skipped) = Sources.pruneFiles(t, v2, "o_orderkey",
      BigDecimal(1), BigDecimal(5))
    assert(skipped.nonEmpty, "stats must carry through a DV commit")
  }

  test("appends carry DVs (no resurrection), a second dv delete merges, " +
    "and the CDF emits exactly the newly marked rows as deletes") {
    val t = freshTable("dv-carry")
    Sources.commitVersion(ordersBase.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), t)
    val total = ordersBase.count()
    val (v2, _, _) = Sources.deleteWhereDv(spark, t, col("o_orderkey") <= 2)
    // append an unrelated batch: the DV must ride along
    val v3 = Sources.commitVersion(
      ordersBase.limit(0).withColumn("o_orderkey", col("o_orderkey") + 900000000L),
      t)
    assert(Sources.readVersion(spark, t, v3)
      .filter(col("o_orderkey") <= 2).count() === 0,
      "an append must not resurrect DV-deleted rows")
    // second dv delete MERGES into the carried sidecar
    val (v4, m4, _) = Sources.deleteWhereDv(spark, t,
      col("o_orderkey") > 2 && col("o_orderkey") <= 5)
    assert(Sources.readVersion(spark, t, v4)
      .filter(col("o_orderkey") <= 5).count() === 0)
    assert(Sources.dvRowCount(t, v4) ===
      ordersBase.filter(col("o_orderkey") <= 5).count())
    // CDF between the two DV versions: exactly the new marks, as deletes
    val feed = Sources.readChanges(spark, t, v2, v4)
    assert(feed.filter(col("_change_type") === "insert").count() === 0)
    val dels = feed.filter(col("_change_type") === "delete")
    assert(dels.count() === m4)
    assert(dels.select("o_orderkey").collect().map(_.getLong(0)).toSet ===
      ordersBase.filter(col("o_orderkey") > 2 && col("o_orderkey") <= 5)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet)
  }

  test("a bulk delete falls back to copy-on-write (usedDv=false) and " +
    "still lands the right rows") {
    val t = freshTable("dv-bulk")
    Sources.commitVersion(ordersBase.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), t)
    val (v2, marked, usedDv) = Sources.deleteWhereDv(spark, t,
      pmod(col("o_orderkey"), lit(2)) === 0, maxDvRows = 10)
    assert(!usedDv, "a table-wide delete must not bloat commit metadata")
    assert(Sources.readVersion(spark, t, v2)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0).count() === 0)
    assert(Sources.dvOf(t, v2).isEmpty, "the CoW path writes no DV")
  }

  test("purgeDv rewrites ONLY the DV'd files, clears the sidecar, and " +
    "compaction absorbs DVs too") {
    val t = freshTable("dv-purge")
    Sources.commitVersion(ordersBase.repartitionByRange(6, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), t)
    Sources.commitStats(spark, t, 1, Seq("o_orderkey"))
    val total = ordersBase.count()
    // victims clustered at the low end: with the range layout only the
    // first file(s) carry a DV
    val (v2, marked, _) = Sources.deleteWhereDv(spark, t, col("o_orderkey") <= 3)
    val dvFiles = Sources.dvOf(t, v2).keySet
    assert(dvFiles.nonEmpty && dvFiles.size < manifestFiles(t, v2).length,
      "range clustering must confine the DV to a strict file subset")
    val untouched = manifestFiles(t, v2).filterNot(dvFiles).toSet
    val (v3, purged) = Sources.purgeDv(spark, t)
    assert(purged === dvFiles.size)
    assert(Sources.dvOf(t, v3).isEmpty, "purge must clear the sidecar")
    assert(untouched.subsetOf(manifestFiles(t, v3).toSet),
      "purge must carry non-DV'd files untouched")
    assert(Sources.readVersion(spark, t, v3).count() === total - marked)
    // compaction path: fresh DV, then compact — absorbed the same way
    val (v4, _, _) = Sources.deleteWhereDv(spark, t, col("o_orderkey") === 7)
    val (v5, _, _) = Sources.compactVersion(spark, t, 100000)
    assert(Sources.dvOf(t, v5).isEmpty)
    assert(Sources.readVersion(spark, t, v5).count() ===
      total - marked - 1)
    // vacuum sweeps expired DV sidecars with their manifests
    Sources.vacuumVersions(t, keepLast = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, s"v$v2.dv")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, s"v$v4.dv")))
    assert(Sources.readVersion(spark, t).count() === total - marked - 1)
  }

  test("a CoW delete and a keyed merge on a DV'd table neither " +
    "resurrect DV'd rows nor drop the carried sidecar") {
    val t = freshTable("dv-interplay")
    Sources.commitVersion(ordersBase.repartitionByRange(6, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), t)
    Sources.commitStats(spark, t, 1, Seq("o_orderkey"))
    val total = ordersBase.count()
    val maxKey = ordersBase.agg(max("o_orderkey")).head().getLong(0)
    // DV-delete the low end, then CoW-delete the high end: the high
    // rewrite must not resurrect the low marks
    val (v2, mLow, _) = Sources.deleteWhereDv(spark, t, col("o_orderkey") <= 3)
    val nHigh = ordersBase.filter(col("o_orderkey") === maxKey).count()
    val stats = Sources.statsOf(t, v2)
    val (v3, rewritten, carried) = Sources.deleteWhere(spark, t,
      col("o_orderkey") === maxKey,
      f => stats.get((f, "o_orderkey")).forall { case (_, mx) =>
        mx >= BigDecimal(maxKey) })
    assert(rewritten < manifestFiles(t, v2).length)
    assert(Sources.readVersion(spark, t, v3).count() === total - mLow - nHigh)
    assert(Sources.readVersion(spark, t, v3)
      .filter(col("o_orderkey") <= 3).count() === 0)
    assert(Sources.dvOf(t, v3).nonEmpty,
      "carried files keep their DV entries through a CoW delete")
    // keyed merge: upsert one surviving key — DV'd rows stay deleted
    val change = ordersBase.filter(col("o_orderkey") === 7)
      .withColumn("o_orderpriority", lit("X-DV"))
      .withColumn("op", lit("upsert"))
    Sources.mergeVersion(spark, t, change, "o_orderkey")
    val head = Sources.readVersion(spark, t)
    assert(head.count() === total - mLow - nHigh)
    assert(head.filter(col("o_orderkey") <= 3).count() === 0)
    assert(head.filter(col("o_orderpriority") === "X-DV").count() ===
      ordersBase.filter(col("o_orderkey") === 7).count())
  }

  test("SQL surfaces: catalog DELETE routes merge-on-read (identical " +
    "file list), scans/time-travel/MERGE see DV semantics, USING graft too") {
    val wh = java.nio.file.Files.createTempDirectory("dv-cat")
    wh.toFile.deleteOnExit()
    val cat = s"dvc${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    ordersBase.createOrReplaceTempView("dv_orders_src")
    spark.sql(s"""CREATE TABLE $cat.t (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)
                 |TBLPROPERTIES ('stats.columns'='o_orderkey',
                 |  'layout.range'='o_orderkey')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM dv_orders_src")
    val t = s"$wh/t"
    val total = ordersBase.count()
    val vPre = Sources.latestVersion(t)
    val filesPre = manifestFiles(t, vPre)
    spark.sql(s"DELETE FROM $cat.t WHERE o_orderkey IN (1, 2, 3)")
    val vPost = Sources.latestVersion(t)
    val nVictims = ordersBase
      .filter(col("o_orderkey").isin(1L, 2L, 3L)).count()
    assert(manifestFiles(t, vPost) === filesPre,
      "SQL point DELETE must be merge-on-read: no data-file rewrite")
    assert(Sources.dvRowCount(t, vPost) === nVictims)
    // DSv2 scan applies the DV; aggregation and filters still correct
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.t").head().getLong(0)
      === total - nVictims)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.t WHERE o_orderkey <= 3")
      .head().getLong(0) === ordersBase.filter(col("o_orderkey") <= 3)
        .count() - nVictims)
    // time travel to the pre-delete version still sees everything
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF $vPre")
      .head().getLong(0) === total)
    // USING graft (V1 relation) over the DV'd version
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_v USING graft " +
      s"OPTIONS (path '$t')")
    assert(spark.sql("SELECT COUNT(*) FROM dv_v").head().getLong(0)
      === total - nVictims)
    assert(spark.sql("SELECT COUNT(*) FROM dv_v WHERE o_orderkey = 1")
      .head().getLong(0) === 0)
    // MERGE INTO through the DELTA row-level path: the scan applies the
    // existing DV (deleted rows are not match candidates), the updated
    // row's OLD position joins the marks, and the commit is DV + one
    // appended row — merge-on-read all the way down, never a rewrite
    val nfPre = Sources.history(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    spark.sql(s"""MERGE INTO $cat.t t
                 |USING (SELECT 7 AS k) s ON t.o_orderkey = s.k
                 |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'M-DV'
                 |""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      === total - nVictims)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.t WHERE o_orderkey IN (1,2,3)")
      .head().getLong(0) === 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t " +
      "WHERE o_orderpriority = 'M-DV'").head().getLong(0) >= 1)
    val vMerge = Sources.latestVersion(t)
    val dvAfter = Sources.dvOf(t, vMerge)
    assert(dvAfter.nonEmpty &&
      dvAfter.valuesIterator.map(_.cardinality()).sum > nVictims.toInt,
      "the delta MERGE marks the updated row's old position, no rewrite")
    // every pre-merge file carried byte-identical: file count grew by
    // at most the appended batch, nothing was rewritten
    val nfPost = Sources.history(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nfPost(vMerge) >= nfPre.values.max)
    // purge absorbs all marks and preserves content
    Sources.purgeDv(spark, t)
    assert(Sources.dvOf(t, Sources.latestVersion(t)).isEmpty)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      === total - nVictims)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("readVersionEvolved and readVersionPruned apply DVs") {
    val t = freshTable("dv-evolved")
    Sources.commitVersion(ordersBase.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), t)
    Sources.commitStats(spark, t, 1, Seq("o_orderkey"))
    Sources.commitVersionEvolving(
      ordersBase.limit(5).withColumn("chan", lit("B")), t)
    val total = ordersBase.count() + 5
    val (v3, marked, _) = Sources.deleteWhereDv(spark, t, col("o_orderkey") <= 2)
    assert(Sources.readVersionEvolved(spark, t).count() === total - marked)
    val lo = BigDecimal(0)
    val hi = BigDecimal(1000000000L)
    assert(Sources.readVersionPruned(spark, t, "o_orderkey", lo, hi)
      .count() === total - marked)
  }
}
