package graft

import graft.operators.DedupOps
import graft.sources.Sources
import graft.streaming.NearDupStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming near-dup index ([[NearDupStore.maintainQuery]]):
  * MinHash-LSH signatures, band rows, and verified candidate pairs
  * maintained off the change feed. The load-bearing invariant is
  * incremental ≡ batch — after ANY mutation sequence the pair view
  * equals q28's whole-corpus recompute ([[DedupOps.minhashPairsOf]],
  * the one shared definition) — plus the self-describing strip (old
  * band keys derive from the STORED signature, never the departed
  * text) and the single-atomic-merge crash contract.
  */
class NearDupStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(tag: String) = {
    val r = java.nio.file.Files.createTempDirectory(tag)
    r.toFile.deleteOnExit()
    r
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .select("doc_id", "lang", "text")

  private def expectedPairs(corpus: DataFrame): Seq[(Long, Long, Double)] =
    DedupOps.minhashPairsOf(DedupOps.sigsOf(corpus))
      .orderBy("a_doc", "b_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def storedPairs(store: String): Seq[(Long, Long, Double)] =
    NearDupStore.pairs(spark, store).orderBy("a_doc", "b_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def drain(src: String, store: String, ck: String): Unit =
    NearDupStore.maintainQuery(spark, src, store, ck).awaitTermination()

  private def storeRows(store: String): Seq[(String, Long, Long, String)] =
    Sources.readVersion(spark, store)
      .select("k", "a", "b", "v").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq

  private val base = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy dog tonight",
    3L -> "the quick brown fox jumps over the lazy dog today",
    4L -> "alpha beta gamma delta epsilon zeta kappa",
    5L -> "alpha beta gamma delta epsilon eta kappa")

  test("incremental == batch at every step: inserts, a re-text update, " +
    "a DV erasure — and the strip leaves no stale key behind") {
    val root = freshRoot("ndstore")
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    val ck = root.resolve("ck").toString

    Sources.commitVersion(docsDf(base.filter(_._1 <= 2)), src)
    drain(src, store, ck)
    assert(storedPairs(store) == expectedPairs(docsDf(base.filter(_._1 <= 2))))

    // later arrivals probe the indexed earlier docs: (1,3) is an exact
    // dup (est 1.0) found ACROSS batches — the LSH invariant
    Sources.commitVersion(docsDf(base.filter(_._1 > 2)), src)
    drain(src, store, ck)
    val full = expectedPairs(docsDf(base))
    assert(storedPairs(store) == full)
    assert(full.contains((1L, 3L, 1.0)), s"fixture must collide: $full")
    // the genuine near-dup (one differing token, deterministic hashes)
    assert(full.exists(p => p._1 == 1L && p._2 == 2L && p._3 < 1.0),
      s"near-dup 1-2 must collide: $full")

    // re-text doc 2 away from group 1: stale band rows must strip off
    // the STORED signature, its pairs recompute
    Sources.updateWhere(spark, src, col("doc_id") === 2L,
      Map("text" -> lit("omega psi chi phi upsilon tau sigma")))
    drain(src, store, ck)
    val afterEdit = Seq(1L -> base(0)._2, 2L -> "omega psi chi phi upsilon tau sigma",
      3L -> base(2)._2, 4L -> base(3)._2, 5L -> base(4)._2)
    assert(storedPairs(store) == expectedPairs(docsDf(afterEdit)))
    // no band/pair row of doc 2's OLD signature survives: every stored
    // band row of doc 2 matches its new signature's band sigs
    val sig2 = NearDupStore.sigs(spark, store)
      .filter(col("doc_id") === 2L).head.getSeq[Long](1)
    val band2 = Sources.readVersion(spark, store)
      .filter(col("k").startsWith("b:") && col("a") === 2L)
      .select("b", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(band2.length == DedupOps.NumBands)
    band2.foreach { case (j, s) =>
      val want = sig2.slice(j.toInt * 4, j.toInt * 4 + 4).mkString(",")
      assert(s == want, s"band $j stale: stored $s, signature says $want")
    }

    // DV erasure of doc 1: the exact-dup pair (1,3) dies, doc 3's other
    // state survives; no key referencing doc 1 remains
    Sources.deleteWhereDv(spark, src, col("doc_id") === 1L)
    drain(src, store, ck)
    val afterDel = afterEdit.filter(_._1 != 1L)
    assert(storedPairs(store) == expectedPairs(docsDf(afterDel)))
    // column b is a doc reference only on pair rows (band rows reuse it
    // as the band index) — check each section by its own key meaning
    val doc1Keys = Sources.readVersion(spark, store)
      .filter(col("a") === 1L ||
        (col("k").startsWith("p:") && col("b") === 1L)).count()
    assert(doc1Keys == 0L, "erased doc still referenced in the index")
  }

  test("a compaction rewrite (delete+insert of identical rows) nets to " +
    "idempotent re-upserts: signatures, bands and pairs bit-identical") {
    val root = freshRoot("ndstore-compact")
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    val ck = root.resolve("ck").toString
    // many small commits -> fragmented table worth compacting
    base.foreach(d => Sources.commitVersion(docsDf(Seq(d)), src))
    drain(src, store, ck)
    val before = storeRows(store)
    Sources.compactVersion(spark, src, targetRecordsPerFile = 1000L)
    drain(src, store, ck)
    val after = storeRows(store)
    assert(after == before,
      "a pure rewrite churned the index — rewrites must net to no-ops")
    // the store holds data rows only; the applied position lives in
    // its `#txn` ledger, at the compacted source version
    assert(Sources.appliedVersion(store,
      Sources.txnConsumer("neardup", src)) ==
      Sources.latestVersion(src).toLong)
    assert(storedPairs(store) == expectedPairs(docsDf(base)))
  }

  test("the store survives its own maintenance: purging the pending eq " +
    "entries and compacting mid-life changes nothing, and the next " +
    "drains keep maintaining the purged layout") {
    val root = freshRoot("ndstore-purge")
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    val ck = root.resolve("ck").toString
    Sources.commitVersion(docsDf(base.filter(_._1 <= 3)), src)
    drain(src, store, ck)
    Sources.commitVersion(docsDf(base.filter(_._1 > 3)), src)
    drain(src, store, ck)
    val before = storeRows(store)
    // absorb the accumulated eq-merge debt, then re-pack the files —
    // the operational pass a long-lived index table runs periodically
    Sources.purgeEq(spark, store)
    Sources.compactVersion(spark, store, targetRecordsPerFile = 10000L)
    assert(storeRows(store) == before,
      "purge+compact must preserve the store's content exactly")
    // maintenance continues on the purged layout
    Sources.updateWhere(spark, src, col("doc_id") === 2L,
      Map("text" -> lit("omega psi chi phi upsilon tau sigma")))
    drain(src, store, ck)
    val head = Seq(1L -> base(0)._2, 2L -> "omega psi chi phi upsilon tau sigma",
      3L -> base(2)._2, 4L -> base(3)._2, 5L -> base(4)._2)
    assert(storedPairs(store) == expectedPairs(docsDf(head)))
  }

  test("no partial application: a crash before the single merge leaves " +
    "the store bitwise untouched and the range replays verbatim") {
    val root = freshRoot("ndstore-crash")
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    val ck = root.resolve("ck").toString
    Sources.commitVersion(docsDf(base.filter(_._1 <= 3)), src)
    drain(src, store, ck)
    val vBefore = Sources.latestVersion(store)
    val rowsBefore = storeRows(store)

    Sources.commitVersion(docsDf(base.filter(_._1 > 3)), src)
    NearDupStore.preMergeCrashHook =
      () => throw new RuntimeException("injected: die before the merge")
    try {
      val q = NearDupStore.maintainQuery(spark, src, store, ck)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
    } finally NearDupStore.preMergeCrashHook = () => ()
    assert(Sources.latestVersion(store) == vBefore,
      "crash before the merge must not publish a version")
    assert(storeRows(store) == rowsBefore,
      "crash before the merge must leave the store bitwise untouched")

    // recovery replays the WHOLE range and converges to the batch truth
    drain(src, store, ck)
    assert(storedPairs(store) == expectedPairs(docsDf(base)))
  }

  test("replay safety: a drained store ignores already-applied versions " +
    "(fresh checkpoint, same table) instead of double-applying them") {
    val root = freshRoot("ndstore-replay")
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    Sources.commitVersion(docsDf(base), src)
    drain(src, store, root.resolve("ck1").toString)
    val v1 = Sources.latestVersion(store)
    val before = storeRows(store)
    // a FRESH checkpoint re-delivers the full history; the high-water
    // ledger must drop it before any work (and commit nothing)
    drain(src, store, root.resolve("ck2").toString)
    assert(Sources.latestVersion(store) == v1,
      "replayed range must be a provable no-op, not a new version")
    assert(storeRows(store) == before)
  }

  test("a doc_id committed twice in one version fails loudly at ingestion") {
    val root = freshRoot("ndstore-dup")
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    Sources.commitVersion(
      docsDf(Seq(7L -> "one two three four", 7L -> "five six seven eight")),
      src)
    val q = NearDupStore.maintainQuery(spark, src, store,
      root.resolve("ck").toString)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("doc_id") ||
      e.getCause != null && e.getCause.getMessage.contains("doc_id"))
  }
}
