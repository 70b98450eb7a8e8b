package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Equality deletes ([[Sources.mergeVersionEq]]): the O(keys) CDC
  * upsert commit — retired keys land as a scoped sidecar entry with NO
  * base-file scan at write time (input-metrics-witnessed), every read
  * stack filters them out, appends carry them, last-writer-wins
  * composes across commits, [[Sources.purgeEq]] absorbs them, vacuum
  * retains their scope manifests. */
class EqualityDeleteSpec extends SparkTestBase {

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

  /** Task-level records read across everything `body` runs — the
    * write-cost witness: an eq merge must never scan base files. */
  private def recordsReadDuring(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    acc.get()
  }

  /** Spark jobs started while `body` runs (suites run one at a time,
    * so every job in the window is the body's). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.waitForListeners(sc)
      (out, n.get())
    } finally sc.removeSparkListener(listener)
  }

  /** A fresh `g`-style catalog over its own warehouse: (name, dir). */
  private def freshCatalog(prefix: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(prefix).toString
    val cat = s"$prefix${math.abs(wh.hashCode)}".replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** `cat.t` created with the orders columns and loaded from `rows` in
    * one commit; returns the table dir. */
  private def catalogOrders(cat: String, wh: String,
      rows: org.apache.spark.sql.DataFrame): String = {
    val view = s"${cat}_src"
    rows.createOrReplaceTempView(view)
    spark.sql(s"CREATE TABLE $cat.t (o_orderkey BIGINT, o_custkey BIGINT," +
      " o_totalprice DOUBLE, o_orderpriority STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $view")
    s"$wh/t"
  }

  private def changes(upserts: Seq[(Long, Long, Double, String)],
      deletes: Seq[Long]) = {
    import spark.implicits._
    upserts.toDF("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderpriority").withColumn("op", lit("upsert"))
      .unionByName(deletes.toDF("o_orderkey")
        .withColumn("o_custkey", lit(null).cast("long"))
        .withColumn("o_totalprice", lit(null).cast("double"))
        .withColumn("o_orderpriority", lit(null).cast("string"))
        .withColumn("op", lit("delete")))
  }

  test("eq merge = LWW upsert semantics with ZERO base-file reads; " +
    "manifest grows only by the upsert batch") {
    val t = freshTable("eq-basic")
    val v1 = Sources.commitVersion(
      ordersBase.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), t)
    val base = ordersBase.collect()
    val total = base.length.toLong
    val k1 = base.head.getLong(0)
    val k2 = base(1).getLong(0)
    val kDel = base(2).getLong(0)
    val ch = changes(
      Seq((k1, 999L, 1.0, "X-UPD"), (k2, 998L, 2.0, "X-UPD")),
      Seq(kDel)).cache()
    ch.count()
    val filesBefore = manifestFiles(t, v1)
    var v2 = -1; var nKeys = -1L
    val read = recordsReadDuring {
      val r = Sources.mergeVersionEq(spark, t, ch,
        Seq("o_orderkey"))
      v2 = r._1; nKeys = r._2
    }
    assert(nKeys === 3L)
    // THE O(keys) claim: the commit never opened a base file — the only
    // task input is the just-written key parquet's count-back (3 rows)
    // and the cached change set
    assert(read <= 16L,
      s"eq merge read $read records — it must not scan base files " +
        s"(base table has $total rows)")
    val after = manifestFiles(t, v2)
    assert(after.take(filesBefore.length) === filesBefore,
      "base files must carry byte-identical")
    assert(after.length > filesBefore.length, "upsert batch appended")
    // semantics: LWW head state
    val head = Sources.readVersion(spark, t).collect()
    assert(head.length === total - 1, "one key deleted, two replaced")
    val k1row = head.filter(_.getLong(0) == k1)
    assert(k1row.length === 1 && k1row.head.getString(3) === "X-UPD")
    assert(!head.exists(_.getLong(0) == kDel))
    // time travel: v1 still serves the pre-merge state
    assert(Sources.readVersion(spark, t, v1).count() === total)
    ch.unpersist()
  }

  test("LWW composes across eq commits; appends carry entries; " +
    "indexed + DataSource read stacks agree") {
    val t = freshTable("eq-compose")
    Sources.commitVersion(ordersBase, t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    val total = ordersBase.count()
    // commit 1: retire keys(0), keys(1) with generation-A rows
    Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 1L, 10.0, "GEN-A"), (keys(1), 1L, 10.0, "GEN-A")),
        Nil), Seq("o_orderkey"))
    // commit 2: re-upsert keys(0) (GEN-B must shadow GEN-A), delete keys(2)
    Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 2L, 20.0, "GEN-B")), Seq(keys(2))),
      Seq("o_orderkey"))
    // unrelated append: entries must carry — no resurrection
    val v4 = Sources.commitVersion(
      ordersBase.limit(0), t) // empty append still re-publishes sidecars
    assert(Sources.eqOf(t, v4).length === 2, "append carries eq entries")
    val head = Sources.readVersion(spark, t).collect()
    assert(head.length === total - 1)
    val g0 = head.filter(_.getLong(0) == keys(0))
    assert(g0.length === 1 && g0.head.getString(3) === "GEN-B",
      "second upsert must shadow the first (LWW)")
    val g1 = head.filter(_.getLong(0) == keys(1))
    assert(g1.length === 1 && g1.head.getString(3) === "GEN-A")
    assert(!head.exists(_.getLong(0) == keys(2)))
    // every read stack serves the same state
    val indexed = Sources.readVersion(spark, t)
      .orderBy("o_orderkey").collect()
    assert(indexed.toSeq === head.sortBy(_.getLong(0)).toSeq)
    // the read tax is one row filter over the scan for every entry —
    // a key-set membership test, never a join per entry
    val plan = Sources.readVersion(spark, t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("deletefilter"), s"expected the delete filter:\n$plan")
    assert(!plan.contains("Join"), s"an eq entry must never plan a join:\n$plan")
  }

  test("purgeEq rewrites ONLY in-scope files, drops the sidecar, " +
    "and preserves the exact state; stale DVs on rewritten files absorb") {
    val t = freshTable("eq-purge")
    Sources.commitVersion(
      ordersBase.repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(2).collect().map(_.getLong(0))
    // a DV delete first, then an eq merge on top — purge must absorb both
    Sources.deleteWhereDv(spark, t, col("o_orderkey") === keys(1))
    val (v3, _) = Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 7L, 70.0, "PURGED-UPD")), Nil),
      Seq("o_orderkey"))
    val before = Sources.readVersion(spark, t).orderBy("o_orderkey").collect()
    val scopeFiles = manifestFiles(t, v3 - 1).length
    val batchFiles = manifestFiles(t, v3).length - scopeFiles
    val (v4, rewritten) = Sources.purgeEq(spark, t)
    assert(rewritten === scopeFiles,
      "exactly the in-scope (pre-merge) files rewrite; the upsert batch carries")
    assert(Sources.eqOf(t, v4).isEmpty, "purge drops the eq sidecar")
    assert(Sources.dvOf(t, v4).isEmpty,
      "rewritten files' DV entries are absorbed with them")
    val after = Sources.readVersion(spark, t).orderBy("o_orderkey").collect()
    assert(after.toSeq === before.toSeq, "purge must not change the state")
    // carried upsert-batch files stay byte-identical
    assert(manifestFiles(t, v4).count(
      manifestFiles(t, v3).contains) === batchFiles)
  }

  test("readChanges emits an eq commit as key-join deletes + batch " +
    "inserts; the streaming CDF emits the same delta as positions") {
    val t = freshTable("eq-cdf")
    val v1 = Sources.commitVersion(ordersBase, t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(2).collect().map(_.getLong(0))
    val (v2, _) = Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 5L, 50.0, "CDF-UPD")), Seq(keys(1))),
      Seq("o_orderkey"))
    val delta = Sources.readChanges(spark, t, v1, v2)
      .select("o_orderkey", "o_orderpriority", "_change_type").collect()
    val dels = delta.filter(_.getString(2) == "delete")
    val ins = delta.filter(_.getString(2) == "insert")
    assert(dels.map(_.getLong(0)).sorted.toSeq === keys.sorted.toSeq,
      "both retired keys' stored rows emit as deletes")
    assert(ins.map(_.getLong(0)).toSeq === Seq(keys(0)),
      "the upsert batch emits as the insert")
    assert(ins.head.getString(1) === "CDF-UPD")
    // a departing in-scope file later (purge) must NOT re-emit the
    // eq-dead rows as deletes
    val (v3, _) = Sources.purgeEq(spark, t)
    val purgeDelta = Sources.readChanges(spark, t, v2, v3)
      .filter(col("_change_type") === "delete")
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(!purgeDelta.contains(keys(1)),
      "eq-dead rows were already emitted — departure must not re-delete")
    // the streaming CDF turns the key-join delta into per-file position
    // partitions at planning time: the v1→v2 slice of the stream must
    // equal batch readChanges row-for-row (eq-merge commits included),
    // and the v2→v3 purge slice must reduce to a keyed no-op
    spark.readStream.format("graft-cdf")
      .option("path", t) // from version 0: the whole history replays
      .load().writeStream.format("memory").queryName("eq_cdf_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.sql("SELECT * FROM eq_cdf_stream")
    val sliceV2 = streamed.filter(col("_commit_version") === v2)
      .select("o_orderkey", "o_orderpriority", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(x => (x._1, x._3))
    val batchV2 = Sources.readChanges(spark, t, v1, v2)
      .select("o_orderkey", "o_orderpriority", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(x => (x._1, x._3))
    assert(sliceV2.toSeq === batchV2.toSeq,
      "streamed eq-merge delta must equal batch readChanges")
    // keyed LWW reduction of the WHOLE feed ≡ the table head: the
    // replica-equivalence property every generic consumer relies on
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey")
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val replica = streamed
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") === "insert")
      .select("o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val head = Sources.readVersion(spark, t)
      .select("o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(replica.toSeq === head.toSeq,
      "keyed LWW reduction of the streamed feed must equal the head")
  }

  test("streaming CDF across a purge with PENDING entries: departing " +
    "files' eq-dead rows never re-emit as deletes (no replica data loss)") {
    val t = freshTable("eq-cdf-purge")
    Sources.commitVersion(ordersBase, t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(2).collect().map(_.getLong(0))
    // k0 upserted (old row eq-retired, new row lives out-of-scope in
    // the upsert batch), k1 deleted
    val (v2, _) = Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 5L, 50.0, "LIVE-UPD")), Seq(keys(1))),
      Seq("o_orderkey"))
    // the consumer starts AFTER the eq commit — entries merely pending
    val (v3, _) = Sources.purgeEq(spark, t)
    assert(v3 > v2)
    spark.readStream.format("graft-cdf")
      .option("path", t).option("startingVersion", v2.toString)
      .load().writeStream.format("memory").queryName("eq_cdf_purge")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val feed = spark.sql("SELECT * FROM eq_cdf_purge")
    val dels = feed.filter(col("_change_type") === "delete")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    // the purge's departing files contain k0's OLD row and k1's row —
    // both eq-dead at v2; emitting either as a delete would remove a
    // key from a keyed replica (k0's live upsert row is carried, not
    // re-inserted at v3, so a spurious delete of k0 wins the LWW)
    assert(!dels.contains(keys(0)),
      "eq-retired old row of an upserted key must not re-emit on purge")
    assert(!dels.contains(keys(1)),
      "eq-deleted key must not re-emit on purge")
    // applying the feed keyed-LWW on top of the v2 snapshot ≡ head
    val snapshot = Sources.readVersion(spark, t, v2)
      .select("o_orderkey", "o_orderpriority")
      .withColumn("_commit_version", lit(v2.toLong))
      .withColumn("_change_type", lit("insert"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey")
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val replica = snapshot.unionByName(
        feed.select("o_orderkey", "o_orderpriority",
          "_commit_version", "_change_type"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") === "insert")
      .select("o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val head = Sources.readVersion(spark, t)
      .select("o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(replica.toSeq === head.toSeq,
      "snapshot + streamed purge slice must reconstruct the head exactly")
  }

  test("generic replicateTable tracks an eq-MAINTAINED source: LWW " +
    "replica equals the source head after eq merges and a purge") {
    val t = freshTable("eq-cdf-repl-src")
    val dst = freshTable("eq-cdf-repl-dst")
    val ckpt = java.nio.file.Files.createTempDirectory("eq-repl-ckpt")
    Sources.commitVersion(ordersBase, t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 5L, 50.0, "R1-UPD")), Seq(keys(1))),
      Seq("o_orderkey"))
    graft.streaming.StreamingPipeline.replicateTable(
      spark, t, dst, "o_orderkey", ckpt.toString).awaitTermination()
    // second eq batch + purge, then resume the SAME checkpoint
    Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(2), 6L, 60.0, "R2-UPD")), Nil),
      Seq("o_orderkey"))
    Sources.purgeEq(spark, t)
    graft.streaming.StreamingPipeline.replicateTable(
      spark, t, dst, "o_orderkey", ckpt.toString).awaitTermination()
    val got = Sources.readVersion(spark, dst)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    val want = Sources.readVersion(spark, t)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq === want.toSeq,
      "generic replication over an eq-maintained source must converge")
  }

  test("readChanges over a range with TWO eq commits: the first " +
    "batch's re-retired upsert never surfaces; deletes emit once") {
    val t = freshTable("eq-cdf2")
    val v1 = Sources.commitVersion(ordersBase, t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(2).collect().map(_.getLong(0))
    // entry 1 upserts k0; entry 2 re-upserts k0 (LWW) and deletes k1
    Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 1L, 10.0, "GEN-A")), Nil), Seq("o_orderkey"))
    val (v3, _) = Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 2L, 20.0, "GEN-B")), Seq(keys(1))),
      Seq("o_orderkey"))
    val delta = Sources.readChanges(spark, t, v1, v3)
      .select("o_orderkey", "o_orderpriority", "_change_type").collect()
    val dels = delta.filter(_.getString(2) == "delete")
    val ins = delta.filter(_.getString(2) == "insert")
    // deletes: each retired key's ORIGINAL row exactly once
    assert(dels.map(_.getLong(0)).sorted.toSeq === keys.sorted.toSeq,
      s"expected one delete per retired key, got ${dels.toSeq}")
    // inserts: ONLY the surviving GEN-B row — GEN-A was born and
    // retired inside the range and must never surface
    assert(ins.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((keys(0), "GEN-B")),
      s"expected only the LWW survivor as insert, got ${ins.toSeq}")
  }

  test("vacuum retains eq scope manifests and pinned key parquets; " +
    "rollback restores the pre-merge state") {
    val t = freshTable("eq-vacuum")
    val v1 = Sources.commitVersion(ordersBase, t)
    val k = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(1).collect().head.getLong(0)
    val (v2, _) = Sources.mergeVersionEq(spark, t,
      changes(Nil, Seq(k)), Seq("o_orderkey"))
    // bury the eq commit under appends (rows NOT keyed k — an appended
    // k-row would be out of scope and correctly visible), then vacuum
    val filler = ordersBase.filter(col("o_orderkey") =!= k).limit(1)
    Sources.commitVersion(filler, t)
    val v4 = Sources.commitVersion(filler, t)
    Sources.vacuumVersions(t, 2)
    // v1 (the entry's scope) must survive the sweep: the head read
    // still resolves the scope and keeps k deleted
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, s"v$v1.manifest")),
      "the pinned scope manifest survives vacuum")
    assert(Sources.readVersion(spark, t)
      .filter(col("o_orderkey") === k).count() === 0L,
      "the eq delete still applies after vacuum")
    // rollback to the pre-merge version drops the delete
    val t2 = freshTable("eq-rollback")
    val w1 = Sources.commitVersion(ordersBase, t2)
    Sources.mergeVersionEq(spark, t2, changes(Nil, Seq(k)),
      Seq("o_orderkey"))
    val w3 = Sources.rollbackTo(t2, w1)
    assert(Sources.readVersion(spark, t2, w3)
      .filter(col("o_orderkey") === k).count() === 1L,
      "rollback restores the pre-merge delete state")
  }

  test("eq merges compose with identity-partitioned and hash-bucketed " +
    "layouts: upsert batches land laid out, reads stay correct") {
    // identity-partitioned: the upsert batch must land hive-laid and
    // the partition-aware read must serve the LWW state
    val pt = freshTable("eq-part")
    Sources.writeTableProperties(pt,
      Map("partition.columns" -> "o_orderpriority"))
    Sources.commitVersion(ordersBase, pt)
    val k = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(1).collect().head.getLong(0)
    Sources.mergeVersionEq(spark, pt,
      changes(Seq((k, 11L, 110.0, "1-URGENT")), Nil), Seq("o_orderkey"))
    val row = Sources.readVersion(spark, pt)
      .filter(col("o_orderkey") === k).collect()
    assert(row.length === 1 && row.head.getString(3) === "1-URGENT")
    assert(Sources.readVersion(spark, pt).count() === ordersBase.count())
    // the appended batch is hive-laid under its partition dir
    val latest = Sources.eqOf(pt, Sources.latestVersion(pt))
    assert(latest.length === 1)
    import scala.jdk.CollectionConverters._
    val laid = java.nio.file.Files.walk(
      java.nio.file.Paths.get(pt, "data")).iterator().asScala
      .exists(_.toString.contains("o_orderpriority=1-URGENT"))
    assert(laid, "the eq upsert batch must land hive-partitioned")
    // hash-bucketed: the batch re-buckets; purge restores SPJ layout
    val bt = freshTable("eq-bucket")
    Sources.writeTableProperties(bt,
      Map("bucket.column" -> "o_orderkey", "bucket.count" -> "4"))
    Sources.commitVersion(ordersBase, bt)
    Sources.mergeVersionEq(spark, bt,
      changes(Seq((k, 12L, 120.0, "B-UPD")), Nil), Seq("o_orderkey"))
    val brow = Sources.readVersion(spark, bt)
      .filter(col("o_orderkey") === k).collect()
    assert(brow.length === 1 && brow.head.getString(3) === "B-UPD")
    val (_, rewritten) = Sources.purgeEq(spark, bt)
    assert(rewritten > 0)
    assert(Sources.readVersion(spark, bt)
      .filter(col("o_orderkey") === k).head().getString(3) === "B-UPD")
    assert(Sources.readVersion(spark, bt).count() === ordersBase.count())
  }

  test("replicateTableEq: streaming CDC replication lands every batch " +
    "as an O(keys) eq merge; purged replica == CoW replica == source") {
    val root = java.nio.file.Files.createTempDirectory("eq-repl")
    root.toFile.deleteOnExit()
    val src = root.resolve("src").toString
    val dstEq = root.resolve("dst_eq").toString
    val dstCow = root.resolve("dst_cow").toString
    import spark.implicits._
    def drain(dst: String, ckpt: String,
        f: (org.apache.spark.sql.SparkSession, String, String, String,
          String) => org.apache.spark.sql.streaming.StreamingQuery): Unit =
      f(spark, src, dst, "k", ckpt).awaitTermination()
    // three source commits: base, keyed CoW merge (upsert+delete), append
    Sources.commitVersion(
      (1L to 40L).map(i => (i, s"v1-$i")).toDF("k", "payload"), src)
    drain(dstEq, root.resolve("ck1").toString,
      graft.streaming.StreamingPipeline.replicateTableEq)
    drain(dstCow, root.resolve("ck2").toString,
      graft.streaming.StreamingPipeline.replicateTable)
    val changes = (1L to 10L).map(i => (i, s"v2-$i", "upsert"))
      .toDF("k", "payload", "op")
      .unionByName(Seq((39L, null: String, "delete"), (40L, null: String, "delete"))
        .toDF("k", "payload", "op"))
    Sources.mergeVersion(spark, src, changes, "k")
    Sources.commitVersion(
      (41L to 45L).map(i => (i, s"v3-$i")).toDF("k", "payload"), src)
    drain(dstEq, root.resolve("ck1").toString,
      graft.streaming.StreamingPipeline.replicateTableEq)
    drain(dstCow, root.resolve("ck2").toString,
      graft.streaming.StreamingPipeline.replicateTable)
    // the eq replica accrued pending entries; absorb and compare all three
    assert(Sources.eqOf(dstEq, Sources.latestVersion(dstEq)).nonEmpty,
      "eq replication must land entries, not rewrites")
    Sources.purgeEq(spark, dstEq)
    val srcState = Sources.readVersion(spark, src)
      .orderBy("k").collect().toSeq
    assert(Sources.readVersion(spark, dstEq).orderBy("k").collect().toSeq
      === srcState, "purged eq replica must equal the source")
    assert(Sources.readVersion(spark, dstCow).orderBy("k").collect().toSeq
      === srcState, "CoW replica must equal the source")
    assert(srcState.length === 43) // 40 - 2 deleted + 5 appended
  }

  test("catalog SQL reads apply eq deletes; row-level DML works WITH " +
    "pending entries (eq-retired rows are never match candidates); " +
    "the $eq gauge reports the pending entries") {
    val wh = java.nio.file.Files.createTempDirectory("eq-cat").toString
    spark.conf.set("spark.sql.catalog.eqcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.eqcat.warehouse", wh)
    ordersBase.createOrReplaceTempView("eq_orders_src")
    spark.sql("CREATE TABLE eqcat.t (o_orderkey BIGINT, o_custkey BIGINT," +
      " o_totalprice DOUBLE, o_orderpriority STRING)")
    spark.sql("INSERT INTO eqcat.t SELECT * FROM eq_orders_src")
    val table = s"$wh/t"
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(2).collect().map(_.getLong(0))
    Sources.mergeVersionEq(spark, table,
      changes(Seq((keys(0), 3L, 30.0, "SQL-UPD")), Seq(keys(1))),
      Seq("o_orderkey"))
    val row = spark.sql(
      s"SELECT o_orderpriority FROM eqcat.t WHERE o_orderkey = ${keys(0)}")
      .collect()
    assert(row.length === 1 && row.head.getString(0) === "SQL-UPD",
      "the SQL read stack must serve the eq-merged state")
    assert(spark.sql(
      s"SELECT * FROM eqcat.t WHERE o_orderkey = ${keys(1)}").count() === 0L)
    val gauge = spark.sql("SELECT key_columns, n_keys FROM eqcat.`t$eq`")
      .collect()
    assert(gauge.length === 1 && gauge.head.getString(0) === "o_orderkey"
      && gauge.head.getLong(1) === 2L)
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    // row-level DML on the eq-PENDING table: the delta scan folds the
    // eq-retired positions into its skip bitsets, so (a) UPDATE hits
    // only the live upserted generation of keys(0), never the retired
    // original, and (b) MERGE sees the eq-deleted keys(1) as NOT
    // MATCHED and re-inserts it
    spark.sql(s"UPDATE eqcat.t SET o_orderpriority = 'SQL-UPD2' " +
      s"WHERE o_orderkey = ${keys(0)}")
    val upd2 = spark.sql(
      s"SELECT o_orderpriority FROM eqcat.t WHERE o_orderkey = ${keys(0)}")
      .collect()
    assert(upd2.length === 1 && upd2.head.getString(0) === "SQL-UPD2",
      "UPDATE with pending entries must hit exactly the live row")
    spark.sql(s"MERGE INTO eqcat.t t USING (SELECT ${keys(1)}L AS k) s " +
      "ON t.o_orderkey = s.k " +
      "WHEN MATCHED THEN UPDATE SET o_orderpriority = 'SQL-GHOST' " +
      "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, " +
      "o_totalprice, o_orderpriority) VALUES (s.k, 9L, 99.0, 'SQL-MERGED')")
    val merged = spark.sql(
      s"SELECT o_orderpriority FROM eqcat.t WHERE o_orderkey = ${keys(1)}")
      .collect()
    assert(merged.length === 1 && merged.head.getString(0) === "SQL-MERGED",
      "the eq-deleted key must be NOT MATCHED — its dead row is no " +
        "match candidate")
    assert(Sources.eqOf(table, Sources.latestVersion(table)).nonEmpty,
      "the DML commits must CARRY the pending entries")
    // renaming/dropping the pending entry's KEY column would skip the
    // key match at read time and resurrect the deleted rows — refused
    // on both schema-change paths (SQL DROP COLUMN and the evolving
    // commit's rename); a NON-key change stays allowed
    val exAlter = intercept[Exception] {
      spark.sql("ALTER TABLE eqcat.t DROP COLUMN o_orderkey")
    }
    assert(msgs(exAlter).exists(_.contains("purge_eq")),
      s"key-column drop must refuse while entries are pending: $exAlter")
    val exEvolve = intercept[IllegalArgumentException] {
      Sources.commitVersionEvolving(
        Sources.readVersion(spark, table).limit(0)
          .withColumnRenamed("o_orderkey", "okey"),
        table, renames = Map("o_orderkey" -> "okey"))
    }
    assert(exEvolve.getMessage.contains("purge_eq"))
    spark.sql("ALTER TABLE eqcat.t DROP COLUMN o_totalprice") // non-key: fine
    spark.sql("CALL eqcat.system.purge_eq('t')")
    assert(Sources.eqOf(table, Sources.latestVersion(table)).isEmpty)
    spark.sql(s"DELETE FROM eqcat.t WHERE o_orderkey = ${keys(0)} " +
      s"AND o_custkey = 3")
    assert(spark.sql(
      s"SELECT * FROM eqcat.t WHERE o_orderkey = ${keys(0)}").count() === 0L)
    spark.sql("DROP TABLE eqcat.t")
  }

  test("wide eq CDF range with MIXED file generations plans with ZERO " +
    "driver-side parquet footer opens (writer-recorded _COLS sidecars)") {
    import spark.implicits._
    val t = freshTable("eq-cdf-nofooter")
    val v1 = Sources.commitVersion(ordersBase, t)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(4).collect().map(_.getLong(0))
    // widen the range: appends interleaved with eq commits, plus an
    // EVOLVING append (new column `gen2_tag`) and an eq entry KEYED on
    // the new column — the generation split in eqRetiredPositions must
    // resolve every file's footer columns (old files lack the key and
    // are skipped) WITHOUT opening a single footer
    Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(0), 1L, 10.0, "G-A")), Seq(keys(1))),
      Seq("o_orderkey"))
    Sources.commitVersion(ordersBase
      .filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 90000000L), t)
    Sources.commitVersionEvolving(
      ordersBase.limit(20)
        .withColumn("o_orderkey", col("o_orderkey") + 80000000L)
        .withColumn("gen2_tag", concat(lit("t"),
          col("o_orderkey").cast("string"))),
      t)
    val tagKeys = Seq("t" + (keys(2) + 80000000L))
    val eqTag = tagKeys.toDF("gen2_tag").withColumn("op", lit("delete"))
    Sources.mergeVersionEq(spark, t, eqTag, Seq("gen2_tag"))
    val (vLast, _) = Sources.mergeVersionEq(spark, t,
      changes(Seq((keys(3), 2L, 20.0, "G-B")), Nil), Seq("o_orderkey"))
    assert(vLast > v1 + 3)
    // fresh table, fresh uuid-named files: nothing can be pre-cached,
    // so any footer open below must show up in the counter
    val before = Sources.footerProbes.get()
    spark.readStream.format("graft-cdf")
      .option("path", t) // whole history: the widest range there is
      .load().writeStream.format("memory").queryName("eq_cdf_nofooter")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val feed = spark.sql("SELECT * FROM eq_cdf_nofooter")
    assert(feed.count() > 0)
    // the semantic half: the gen2-keyed delete landed (only the new-
    // generation file served that key) and old generations were skipped
    // without resurrection
    assert(feed.filter(col("_change_type") === "delete" &&
      col("o_orderkey") === keys(2) + 80000000L).count() === 1L)
    val after = Sources.footerProbes.get()
    assert(after === before,
      s"CDF range opened ${after - before} parquet footers driver-side " +
        "— per-file schemas must come from the _COLS sidecars")
  }

  test("building Sources.readVersion over three pending eq entries " +
    "starts no Spark job (key sets read under their footer schema)") {
    // a declared-schema (catalog) table: its data files need no
    // inference either, so every job would be the eq entries'
    val (cat, wh) = freshCatalog("eqbuild")
    val t = catalogOrders(cat, wh, ordersBase)
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    keys.foreach(k => Sources.mergeVersionEq(spark, t,
      changes(Seq((k, 1L, 1.0, s"B-$k")), Nil), Seq("o_orderkey")))
    val v = Sources.latestVersion(t)
    assert(Sources.eqOf(t, v).length === 3)
    val (df, jobs) = jobsDuring(Sources.readVersion(spark, t))
    assert(jobs === 0, s"building the frame started $jobs Spark jobs")
    assert(df.count() === ordersBase.count())
    assert(df.filter(col("o_orderpriority").startsWith("B-")).count() === 3L)
    assert(Sources.eqKeyCount(spark, t, v) === 3L)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("catalog lookups on an eq-pending table plan with at most one " +
    "Spark job, and none while the memo holds the kept (entry, file) " +
    "pairs") {
    val (cat, wh) = freshCatalog("eqbudget")
    // one base file: every lookup keeps it, plus the upsert batches
    // whose stats cover its key
    val table = catalogOrders(cat, wh, ordersBase.coalesce(1))
    val keys = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(6).collect().map(_.getLong(0))
    Sources.deleteWhereDv(spark, table, col("o_orderkey") === keys(3))
    Sources.mergeVersionEq(spark, table,
      changes(Seq((keys(0), 1L, 1.0, "J-1")), Seq(keys(1))),
      Seq("o_orderkey"))
    Sources.mergeVersionEq(spark, table,
      changes(Seq((keys(2), 2L, 2.0, "J-2")), Nil), Seq("o_orderkey"))
    Sources.mergeVersionEq(spark, table,
      changes(Seq((keys(0), 3L, 3.0, "J-3")), Nil), Seq("o_orderkey"))
    assert(Sources.dvOf(table, Sources.latestVersion(table)).nonEmpty)
    assert(Sources.eqOf(table, Sources.latestVersion(table)).length === 3)
    def lookup(k: Long) = spark.sql(
      s"SELECT o_orderkey, o_custkey, o_orderpriority FROM $cat.t " +
        s"WHERE o_orderkey = $k")
    def check(k: Long): Unit = {
      val expected = Sources.readVersion(spark, table)
        .filter(col("o_orderkey") === k)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .collect().map(_.toString).sorted.toSeq
      assert(lookup(k).collect().map(_.toString).sorted.toSeq === expected,
        s"lookup of $k")
    }
    val (_, first) = jobsDuring(lookup(keys(0)).queryExecution.executedPlan)
    assert(first === 0, s"first eq-pending plan started $first jobs")
    val opens = Sources.keyParquetOpens.get()
    val (_, second) = jobsDuring(lookup(keys(4)).queryExecution.executedPlan)
    assert(second === 0, s"a plan with nothing new started $second jobs")
    assert(Sources.keyParquetOpens.get() === opens,
      "a second plan of the version opened eq key parquets")
    Sources.mergeVersionEq(spark, table,
      changes(Seq((keys(4), 4L, 4.0, "J-4")), Nil), Seq("o_orderkey"))
    val (_, third) = jobsDuring(lookup(keys(4)).queryExecution.executedPlan)
    assert(third === 0, s"a plan after one new entry started $third jobs")
    keys.foreach(check)
    assert(lookup(keys(0)).head().getString(2) === "J-3", "LWW")
    assert(lookup(keys(1)).isEmpty && lookup(keys(3)).isEmpty)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("the eq position memo is sound: every VERSION AS OF equals " +
    "readVersion through eq merges, DV deletes, purge and compaction; " +
    "_gfile/_gpos/_row_id match the physical rows; concurrent plans " +
    "agree") {
    val (cat, wh) = freshCatalog("eqmemo")
    val small = ordersBase.orderBy("o_orderkey").limit(300)
    val table = catalogOrders(cat, wh, small.coalesce(2))
    graft.sources.RowIds.enableRowIds(table)
    val keys = small.select("o_orderkey").collect().map(_.getLong(0))
    def eqMerge(tag: String, ups: Seq[Long], dels: Seq[Long]): Unit =
      Sources.mergeVersionEq(spark, table,
        changes(ups.map(k => (k, 9L, 9.0, s"$tag-$k")), dels),
        Seq("o_orderkey"))
    eqMerge("A", keys.slice(0, 5), Seq(keys(5)))
    Sources.deleteWhereDv(spark, table, col("o_orderkey") === keys(10))
    eqMerge("B", keys.slice(3, 8), Seq(keys(20)))
    Sources.purgeEq(spark, table)
    eqMerge("C", keys.slice(30, 34), Seq(keys(40)))
    Sources.compactVersion(spark, table, 1000L)
    eqMerge("D", keys.slice(31, 33) ++ keys.slice(50, 52), Seq(keys(60)))
    Sources.deleteWhereDv(spark, table, col("o_orderkey") === keys(70))
    val head = Sources.latestVersion(table)
    assert(Sources.eqOf(table, head).nonEmpty)
    val dataCols = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderpriority")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    (1 to head).foreach { v =>
      assert(sorted(spark.sql(s"SELECT ${dataCols.mkString(", ")} " +
          s"FROM $cat.t VERSION AS OF $v")) ===
        sorted(Sources.readVersion(spark, table, v).select(dataCols.map(col): _*)),
        s"VERSION AS OF $v")
    }
    // metadata columns: every served row's (file, position) is where
    // that exact row physically sits (row contents are unique here)
    Seq(head - 1, head).foreach { v =>
      val physical = manifestFiles(table, v).map(f =>
        spark.read.parquet(f).select(dataCols.map(col) :+
          lit(f).as("_gfile") :+ col("_metadata.row_index").as("_gpos"): _*))
        .reduce(_ unionByName _)
      val expected = physical.join(
        Sources.readVersion(spark, table, v).select(dataCols.map(col): _*),
        dataCols, "left_semi")
      assert(sorted(spark.sql(s"SELECT ${dataCols.mkString(", ")}, " +
          s"_gfile, _gpos FROM $cat.t VERSION AS OF $v")) ===
        sorted(expected.select((dataCols :+ "_gfile" :+ "_gpos").map(col): _*)),
        s"_gfile/_gpos at v$v")
      assert(sorted(spark.sql(s"SELECT o_orderkey, _row_id FROM $cat.t " +
          s"VERSION AS OF $v")) ===
        sorted(graft.sources.RowIds.readVersionWithRowIds(spark, table, v)
          .select("o_orderkey", "_row_id")),
        s"_row_id at v$v")
    }
    // two threads plan the same table while a brand-new entry's pairs
    // are still unprobed: both must serve the merged state
    eqMerge("E", keys.slice(100, 104), Seq(keys(110)))
    val q = s"SELECT ${dataCols.mkString(", ")} FROM $cat.t " +
      s"WHERE o_orderkey BETWEEN ${keys(95)} AND ${keys(115)}"
    val expected = sorted(Sources.readVersion(spark, table)
      .filter(col("o_orderkey").between(keys(95), keys(115)))
      .select(dataCols.map(col): _*))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val answers = Seq.fill(2)(pool.submit(
        new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = sorted(spark.sql(q))
        })).map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      answers.foreach(a => assert(a === expected))
      assert(expected.exists(_.contains("E-")) &&
        !expected.exists(_.startsWith(s"[${keys(110)},")))
    } finally pool.shutdown()
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("entries keyed INT and BIGINT over a widened key column retire " +
    "their rows in files of both generations: clone and streaming CDF") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def schemaOf(k: DataType) = StructType(Seq(
      StructField("k", k), StructField("v", StringType)))
    def parquetIn(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    // a table whose INT-typed generation sorts before its BIGINT one,
    // with one entry of each key type, each retiring a row of the other
    // generation's file; every probe that meets both entries sees the
    // INT file first
    def build(name: String): String = {
      val t = freshTable(name)
      val a = s"$t/data/a-int"
      (1 to 4).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
        .write.parquet(a)
      Sources.commitVersionFiles(t, parquetIn(a),
        batchSchema = Some(schemaOf(IntegerType)))
      Sources.alterSchema(t, schemaOf(LongType))
      val b = s"$t/data/b-long"
      (11 to 14).map(i => (i.toLong, s"b$i")).toDF("k", "v").coalesce(1)
        .write.parquet(b)
      Sources.commitVersionFiles(t, parquetIn(b),
        batchSchema = Some(schemaOf(LongType)))
      Sources.mergeVersionEq(spark, t,
        Seq((2L, "delete")).toDF("k", "op"), Seq("k"))
      Sources.mergeVersionEq(spark, t,
        Seq((12, "delete")).toDF("k", "op"), Seq("k"))
      assert(Sources.eqOf(t, Sources.latestVersion(t)).length === 2)
      t
    }
    val model = Seq(1L -> "a1", 3L -> "a3", 4L -> "a4",
      11L -> "b11", 13L -> "b13", 14L -> "b14")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
        .toSeq.sorted
    // clone: the cut's eq entries become DV marks through one probe
    val src = build("eq-widen-clone")
    assert(rowsOf(Sources.readVersion(spark, src)) === model)
    val dst = src + "-clone"
    Sources.cloneTable(spark, src, dst)
    assert(rowsOf(Sources.readVersion(spark, dst)) === model,
      "the clone must drop both entries' rows")
    // streaming CDF over a purge: the departing files' eq-dead rows are
    // not re-emitted, so the slice deletes exactly the rows it re-inserts
    val t = build("eq-widen-cdf")
    val before = Sources.latestVersion(t)
    Sources.purgeEq(spark, t)
    assert(rowsOf(Sources.readVersion(spark, t)) === model)
    spark.readStream.format("graft-cdf")
      .option("path", t).option("startingVersion", before.toString)
      .load().writeStream.format("memory").queryName("eq_cdf_widened")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val feed = spark.sql("SELECT * FROM eq_cdf_widened")
    def side(kind: String) =
      rowsOf(feed.filter(col("_change_type") === kind))
    assert(side("delete") === model,
      "the purge slice deletes only rows that were live")
    assert(side("insert") === model)
  }
}
