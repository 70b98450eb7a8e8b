package graft

import graft.sources.Sources
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._

/** The streaming DSIR distribution store's exactly-once ledger
  * ([[StreamingPipeline.maintainDsirQuery]]): an ADDITIVE store
  * double-counts a replayed add, so each store commit records its
  * applied source version in the `#txn` ledger of the same manifest —
  * replays of any shape are no-ops. */
class DsirStoreSpec extends SparkTestBase {

  test("fresh-checkpoint replay of the whole feed is a provable no-op; " +
    "a genuinely new commit still folds in exactly once") {
    val root = java.nio.file.Files.createTempDirectory("dsir-eo")
    root.toFile.deleteOnExit()
    val src = root.resolve("docs").toString
    val store = root.resolve("store").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0), src)
    Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 1), src)
    StreamingPipeline.maintainDsirQuery(spark, src, store,
      root.resolve("ck1").toString).awaitTermination()
    def buckets(): Seq[(Long, Long, Long)] =
      Sources.readVersion(spark, store).filter(col("b") >= 0L)
        .orderBy("b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val s1 = buckets()
    assert(s1.nonEmpty && s1.map(_._2).sum > 0)
    // FRESH checkpoint: the stream replays versions 1..2 from scratch —
    // without the ledger this would double every count
    StreamingPipeline.maintainDsirQuery(spark, src, store,
      root.resolve("ck2").toString).awaitTermination()
    assert(buckets() === s1,
      "a full fresh-checkpoint replay must leave the store untouched")
    // and a third drain on the SAME checkpoint stays a no-op
    StreamingPipeline.maintainDsirQuery(spark, src, store,
      root.resolve("ck2").toString).awaitTermination()
    assert(buckets() === s1)
    // a genuinely new commit folds in exactly once, and equals the
    // batch recompute over the full corpus (counts are additive)
    Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 2), src)
    StreamingPipeline.maintainDsirQuery(spark, src, store,
      root.resolve("ck2").toString).awaitTermination()
    val s2 = buckets()
    val full = graft.functions.TextOps
      .dsirBuckets(docs, passthrough = Seq("lang"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_r"),
        count_if(col("lang") === "en").as("n_t"))
      .orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(s2 === full,
      "the incremental store must equal the batch recompute bitwise")
  }
}
