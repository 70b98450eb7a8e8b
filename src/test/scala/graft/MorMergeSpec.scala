package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read MERGE ([[Sources.mergeVersionDv]]): a keyed CDC batch
  * of point updates/deletes/inserts lands as DV marks + one appended
  * batch — NO base file rewritten — with semantics proven equal to the
  * copy-on-write [[Sources.mergeVersion]] on a twin table, the CDF
  * emitting updates as delete+insert, purge absorbing, and wide deltas
  * falling back to copy-on-write. */
class MorMergeSpec extends SparkTestBase {

  private def freshTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def ordersBase = Tables.orders(spark, sf)
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private def manifestFiles(table: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, s"v$v.manifest")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  private def mkTable(name: String): (String, Int) = {
    val t = freshTable(name)
    val v1 = Sources.commitVersion(
      ordersBase.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), t)
    Sources.commitStats(spark, t, v1, Seq("o_orderkey"))
    (t, v1)
  }

  /** upsert 2 existing keys (price bumped), insert 1 brand-new key,
    * delete 2 keys — the canonical CDC point batch. */
  private def changeSet(): (DataFrame, Seq[Long], Seq[Long], Long) = {
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(5).collect().map(_.getLong(0)).toSeq
    val (updKeys, delKeys) = (keys.take(2), keys.drop(3))
    val newKey = ordersBase.agg(max("o_orderkey")).collect()(0)
      .getLong(0) + 1000L
    val upd = ordersBase
      .filter(col("o_orderkey").isin(updKeys: _*))
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000))
      .withColumn("op", lit("upsert"))
    val ins = ordersBase.orderBy("o_orderkey").limit(1)
      .withColumn("o_orderkey", lit(newKey))
      .withColumn("op", lit("upsert"))
    val del = ordersBase
      .filter(col("o_orderkey").isin(delKeys: _*))
      .withColumn("op", lit("delete"))
    (upd.unionByName(ins).unionByName(del), updKeys, delKeys, newKey)
  }

  private def sameContent(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a point merge appends ONE batch and marks positions: every " +
    "base file carried byte-identical, content equals the CoW twin, " +
    "both read stacks agree, pinned version intact") {
    val (t, v1) = mkTable("mor-merge")
    val (changes, updKeys, delKeys, newKey) = changeSet()
    val filesBefore = manifestFiles(t, v1)
    val (v2, marked, usedDv) =
      Sources.mergeVersionDv(spark, t, changes, "o_orderkey")
    assert(usedDv, "a 5-key merge must take the DV path")
    assert(marked === 4L,
      "2 updated + 2 deleted stored rows are marked; the new key marks nothing")
    val filesAfter = manifestFiles(t, v2)
    assert(filesAfter.toSet.intersect(filesBefore.toSet) ===
      filesBefore.toSet, "every base file must carry forward")
    val appended = filesAfter.toSet -- filesBefore.toSet
    assert(appended.nonEmpty &&
      appended.forall(_.contains("batch-dvmerge-")),
      s"the only new files are the upsert batch, got $appended")
    assert(Sources.dvRowCount(t, v2) === 4L)
    // equivalence: the copy-on-write merge on a twin table
    val (tw, _) = mkTable("mor-merge-twin")
    Sources.mergeVersion(spark, tw, changes, "o_orderkey")
    val head = Sources.readVersion(spark, t)
    assert(sameContent(head, Sources.readVersion(spark, tw)),
      "merge-on-read must equal copy-on-write row for row")
    // spot semantics: updated key carries the bumped price exactly once
    assert(head.filter(col("o_orderkey") === updKeys.head).count() === 1)
    assert(head.filter(col("o_orderkey").isin(delKeys: _*)).count() === 0)
    assert(head.filter(col("o_orderkey") === newKey).count() === 1)
    // the indexed (stats-skipping) read stack applies the DVs too
    assert(sameContent(Sources.readVersion(spark, t), head))
    // pinned pre-merge version unharmed
    assert(Sources.readVersion(spark, t, v1).count() === ordersBase.count())
  }

  test("the CDF emits an updated key as delete(old)+insert(new) in one " +
    "version, a deleted key as delete only, a new key as insert only") {
    val (t, v1) = mkTable("mor-cdf")
    val (changes, updKeys, delKeys, newKey) = changeSet()
    val (v2, _, usedDv) =
      Sources.mergeVersionDv(spark, t, changes, "o_orderkey")
    assert(usedDv)
    val feed = Sources.readChanges(spark, t, v1, v2).cache()
    def keysOf(change: String): Set[Long] =
      feed.filter(col("_change_type") === change)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(keysOf("delete") === (updKeys ++ delKeys).toSet,
      "deletes = the retired stored rows of updated+deleted keys")
    assert(keysOf("insert") === (updKeys :+ newKey).toSet,
      "inserts = the appended upsert rows")
    // the insert carries the NEW value
    val bumped = feed.filter(col("_change_type") === "insert" &&
      col("o_orderkey") === updKeys.head).select("o_totalprice")
    val old = ordersBase.filter(col("o_orderkey") === updKeys.head)
      .select("o_totalprice")
    assert(bumped.exceptAll(old).count() === 1, "insert is the new row")
    feed.unpersist()
  }

  test("purgeDv absorbs the merge's marks (bounded rewrite), and a " +
    "delta wider than maxDvRows falls back to copy-on-write with " +
    "identical content") {
    val (t, _) = mkTable("mor-purge")
    val (changes, _, _, _) = changeSet()
    val (v2, _, _) = Sources.mergeVersionDv(spark, t, changes, "o_orderkey")
    val dvFiles = manifestFiles(t, v2)
      .count(f => Sources.dvRowCount(t, v2) > 0 &&
        Sources.dvOf(t, v2).contains(Sources.normalizePath(f)))
    val before = Sources.readVersion(spark, t).cache()
    val beforeRows = before.collect().toSeq
    val (v3, purged) = Sources.purgeDv(spark, t)
    assert(purged === dvFiles, "purge rewrites exactly the DV'd files")
    assert(Sources.dvRowCount(t, v3) === 0L)
    assert(sameContent(Sources.readVersion(spark, t), before))
    before.unpersist()
    // wide delta: cap maxDvRows below the matched count -> CoW fallback
    val (tw, _) = mkTable("mor-wide")
    val wide = ordersBase
      .withColumn("o_totalprice", col("o_totalprice") + lit(1))
      .withColumn("op", lit("upsert"))
    val (v2w, markedW, usedDvW) =
      Sources.mergeVersionDv(spark, tw, wide, "o_orderkey", maxDvRows = 10)
    assert(!usedDvW && markedW === -1L,
      "a table-wide update is not a point merge")
    assert(Sources.dvRowCount(tw, v2w) === 0L, "CoW path publishes no DV")
    assert(Sources.readVersion(spark, tw).count() === ordersBase.count())
    val gotSum = Sources.readVersion(spark, tw)
      .agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val wantSum = ordersBase.agg(sum(col("o_totalprice") + lit(1)))
      .collect()(0).getDouble(0)
    assert(math.abs(gotSum - wantSum) < 1e-6 * math.abs(wantSum))
  }

  test("merge-on-read on an identity-PARTITIONED table: hive dirs in " +
    "the appended batch, partition column intact, content equals CoW") {
    val root = java.nio.file.Files.createTempDirectory("mor-part")
    root.toFile.deleteOnExit()
    val t = root.resolve("t").toString
    Sources.writeTableProperties(t,
      Map("partition.columns" -> "o_orderpriority"))
    val v1 = Sources.commitVersion(ordersBase, t)
    Sources.commitStats(spark, t, v1, Seq("o_orderkey"))
    val (changes, updKeys, delKeys, newKey) = changeSet()
    val (v2, marked, usedDv) =
      Sources.mergeVersionDv(spark, t, changes, "o_orderkey")
    assert(usedDv && marked === 4L)
    val appended = manifestFiles(t, v2).toSet -- manifestFiles(t, v1).toSet
    assert(appended.nonEmpty &&
      appended.forall(_.contains("o_orderpriority=")),
      s"appended batch must be hive-laid, got ${appended.take(3)}")
    val head = Sources.readVersion(spark, t)
    assert(head.filter(col("o_orderpriority").isNull).count() === 0,
      "merge must never null a partition column")
    assert(head.filter(col("o_orderkey") === newKey).count() === 1)
    assert(head.filter(col("o_orderkey").isin(delKeys: _*)).count() === 0)
    assert(head.count() === ordersBase.count() - 1)
  }

  test("SQL MERGE/UPDATE/DELETE are DELTA row-level operations: every " +
    "base file carried byte-identical, delete-only statements append " +
    "nothing, untranslatable DELETE is pure marks on ANY layout") {
    val wh = java.nio.file.Files.createTempDirectory("mor-sql")
    wh.toFile.deleteOnExit()
    val cat = s"ms${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    ordersBase.createOrReplaceTempView("mor_sql_src")
    spark.sql(s"""CREATE TABLE $cat.t (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM mor_sql_src")
    val t = s"$wh/t"
    val vBase = Sources.latestVersion(t)
    val baseFiles = manifestFiles(t, vBase).toSet
    val total = ordersBase.count()
    // MERGE with update+insert+delete arms: carried manifest + one
    // appended batch + DV marks — NO base file rewritten
    spark.sql(s"""MERGE INTO $cat.t t
                 |USING (SELECT o_orderkey AS k FROM mor_sql_src
                 |       ORDER BY o_orderkey LIMIT 3) s
                 |ON t.o_orderkey = s.k
                 |WHEN MATCHED AND s.k % 2 = 0
                 |  THEN UPDATE SET o_orderpriority = 'SQL-MOR'
                 |WHEN MATCHED THEN DELETE""".stripMargin)
    val vM = Sources.latestVersion(t)
    assert(baseFiles.subsetOf(manifestFiles(t, vM).toSet),
      "delta MERGE must carry every base file byte-identical")
    val keys3 = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    val nUpd = keys3.count(_ % 2 == 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      === total - (3 - nUpd))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t " +
      "WHERE o_orderpriority = 'SQL-MOR'").head().getLong(0) === nUpd)
    assert(Sources.dvOf(t, vM).valuesIterator.map(_.cardinality()).sum
      === 3, "3 matched rows retire their stored positions")
    // delete-only UNTRANSLATABLE predicate: pure DV marks, zero appends
    val nMod = spark.sql(
      s"SELECT COUNT(*) FROM $cat.t WHERE o_custkey % 9 = 3")
      .head().getLong(0)
    spark.sql(s"DELETE FROM $cat.t WHERE o_custkey % 9 = 3")
    val vD = Sources.latestVersion(t)
    assert(manifestFiles(t, vD).toSet === manifestFiles(t, vM).toSet,
      "untranslatable delete-only delta must append NOTHING")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      === total - (3 - nUpd) - nMod)
    // the same untranslatable DELETE works on a PARTITIONED table
    // (delete-only deltas are layout-blind); inserts refuse loudly
    spark.sql(s"""CREATE TABLE $cat.p (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, prio STRING)
                 |PARTITIONED BY (prio)""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.p
                 |SELECT o_orderkey, o_custkey, o_totalprice,
                 |       o_orderpriority FROM mor_sql_src""".stripMargin)
    val pMod = spark.sql(
      s"SELECT COUNT(*) FROM $cat.p WHERE o_custkey % 9 = 3")
      .head().getLong(0)
    spark.sql(s"DELETE FROM $cat.p WHERE o_custkey % 9 = 3")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.p").head().getLong(0)
      === total - pMod)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.p " +
      "WHERE prio IS NULL").head().getLong(0) === 0,
      "partition values survive the DV-only delete")
    // an INSERT-ONLY merge never reaches the row-level path — Spark
    // plans it as a plain append, which the layout-aware V1 writer
    // lands hive-laid: it WORKS on a partitioned table
    val preIns = spark.sql(s"SELECT COUNT(*) FROM $cat.p").head().getLong(0)
    spark.sql(s"""MERGE INTO $cat.p t
                 |USING (SELECT * FROM mor_sql_src LIMIT 5) s
                 |ON t.o_orderkey = s.o_orderkey + 9000000
                 |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
                 |  o_totalprice, prio) VALUES (s.o_orderkey + 9000000,
                 |  s.o_custkey, s.o_totalprice, s.o_orderpriority)
                 |""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.p").head().getLong(0)
      === preIns + 5, "insert-only MERGE appends through the V1 writer")
    // a MATCHED UPDATE merge must append rewritten rows — the flat
    // executor writers would corrupt the hive layout, so it refuses
    val err = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.p t USING mor_sql_src s
                   |ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET o_totalprice = 0.0
                   |""".stripMargin)
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty
      else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(err).exists(_.contains("PARTITIONED/BUCKETED")),
      s"expected the layout guard, got $err")
    spark.sql(s"DROP TABLE $cat.t")
    spark.sql(s"DROP TABLE $cat.p")
  }

  test("SQL MERGE: WHEN NOT MATCHED BY SOURCE completes the full-sync " +
    "triad — after matched-update + unmatched-insert + " +
    "unmatched-source-delete the table IS the source image") {
    val wh = java.nio.file.Files.createTempDirectory("mor-sync")
    wh.toFile.deleteOnExit()
    val cat = s"sy${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"""CREATE TABLE $cat.t (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
    ordersBase.createOrReplaceTempView("sync_base")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM sync_base")
    // the source image: two thirds of the keys survive with doubled
    // price, one third vanishes, and three brand-new keys appear
    ordersBase.filter(col("o_orderkey") % 3 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(ordersBase.orderBy("o_orderkey").limit(3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(7000000L)))
      .createOrReplaceTempView("sync_src")
    spark.sql(s"""MERGE INTO $cat.t t USING sync_src s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET
                 |  o_totalprice = s.o_totalprice,
                 |  o_custkey = s.o_custkey,
                 |  o_orderpriority = s.o_orderpriority
                 |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
                 |  o_totalprice, o_orderpriority) VALUES (s.o_orderkey,
                 |  s.o_custkey, s.o_totalprice, s.o_orderpriority)
                 |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql(s"SELECT * FROM $cat.t")
    val want = spark.table("sync_src")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "full-sync MERGE must leave the table equal to the source image")
    // a conditional NOT MATCHED BY SOURCE UPDATE arm: only flag, never
    // delete — rows missing from the (now emptied) source keep their
    // data with the sentinel priority
    spark.sql("SELECT * FROM sync_src WHERE o_orderkey < 0")
      .createOrReplaceTempView("sync_empty")
    spark.sql(s"""MERGE INTO $cat.t t USING sync_empty s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET o_totalprice = 0.0
                 |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 2 = 0
                 |  THEN UPDATE SET o_orderpriority = 'STALE'""".stripMargin)
    val after = spark.sql(s"SELECT * FROM $cat.t")
    assert(after.count() === want.count(),
      "an update-only NOT MATCHED BY SOURCE arm must delete nothing")
    val evens = want.filter(col("o_orderkey") % 2 === 0).count()
    assert(after.filter(col("o_orderpriority") === "STALE").count()
      === evens, "exactly the even unmatched keys get flagged")
    spark.sql(s"DROP TABLE $cat.t")
  }
}
