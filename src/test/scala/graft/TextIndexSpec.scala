package graft

import graft.functions.{TextIndex, TextOps}
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted inverted text index ([[TextIndex]]): CDF-maintained
  * postings/docstore/termstats ≡ full recompute across inserts,
  * in-place updates, and deletes; fresh-checkpoint replay is a bitwise
  * no-op; index-served BM25 equals the full-scan q125 exactly. */
class TextIndexSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def dump(t: String, cols: String*): Set[Seq[Any]] =
    Sources.readVersion(spark, t).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet

  /** Expected index content recomputed from scratch on `docs`. */
  private def expected(docs: DataFrame):
      (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val posts = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    (posts.collect().map(_.toSeq).toSet,
      posts.groupBy("doc_id").agg(sum("tf").as("dl"))
        .collect().map(_.toSeq).toSet,
      toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .collect().map(_.toSeq).toSet)
  }

  private def assertIndexEquals(idx: String, docs: DataFrame): Unit = {
    val (p, d, t) = expected(docs)
    assert(dump(s"$idx/postings", "doc_id", "term", "tf") === p,
      "postings must equal the from-scratch tokenization")
    assert(dump(s"$idx/docstore", "doc_id", "dl") === d,
      "docstore must equal the from-scratch per-doc lengths")
    assert(Sources.readVersion(spark, s"$idx/termstats")
      .filter(col("term").isNotNull).select("term", "cnt")
      .collect().map(_.toSeq).toSet === t,
      "termstats must equal the from-scratch per-term totals")
  }

  test("incrementally maintained index tracks inserts, an in-place " +
    "update, and a delete; equals the full recompute at every step") {
    val root = tmp("text-idx")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Sources.commitVersion(docs.filter(col("doc_id") < 100), src)
    TextIndex.init(idx)
    def drain(ckpt: String = s"$root/ckpt"): Unit =
      TextIndex.maintainQuery(spark, src, idx, ckpt).awaitTermination()
    drain()
    assertIndexEquals(idx, docs.filter(col("doc_id") < 100))
    // second insert batch + an in-place rewrite of 10 docs in ONE drain
    Sources.commitVersion(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), src)
    val edited = docs.filter(col("doc_id") < 10)
      .withColumn("text", concat(lit("zz rewrite "), col("text")))
    Sources.mergeVersionEq(spark, src,
      edited.withColumn("op", lit("upsert")), Seq("doc_id"))
    drain()
    assertIndexEquals(idx,
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 200)
        .unionByName(edited))
    // a hard delete (DV path) subtracts everywhere
    Sources.deleteWhereDv(spark, src, col("doc_id") < 5)
    drain()
    assertIndexEquals(idx,
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 200)
        .unionByName(edited.filter(col("doc_id") >= 5)))
  }

  test("a fresh-checkpoint full-feed replay is a bitwise no-op on all " +
    "three tables (eq merges idempotent, additive merge ledger-gated)") {
    val root = tmp("text-idx-replay")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").filter(col("doc_id") < 120)
    Sources.commitVersion(docs.filter(col("doc_id") < 60), src)
    Sources.commitVersion(docs.filter(col("doc_id") >= 60), src)
    Sources.deleteWhereDv(spark, src, col("doc_id") === 7)
    TextIndex.init(idx)
    TextIndex.maintainQuery(spark, src, idx, s"$root/ckpt1")
      .awaitTermination()
    val before = Seq("postings", "docstore", "termstats")
      .map(t => Sources.readVersion(spark, s"$idx/$t")
        .collect().map(_.toSeq).toSet)
    // brand-new checkpoint: the whole change feed replays from v1
    TextIndex.maintainQuery(spark, src, idx, s"$root/ckpt2")
      .awaitTermination()
    val after = Seq("postings", "docstore", "termstats")
      .map(t => Sources.readVersion(spark, s"$idx/$t")
        .collect().map(_.toSeq).toSet)
    assert(before === after,
      "full replay must not change any index table")
    assertIndexEquals(idx, docs.filter(col("doc_id") =!= 7))
  }

  test("a term-keyed posting fetch opens only the files whose term " +
    "stats can hold it, and returns exactly the unpruned rows") {
    val root = tmp("text-idx-prune")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Sources.commitVersion(docs, src)
    TextIndex.init(idx)
    TextIndex.maintainQuery(spark, src, idx, s"$root/ckpt")
      .awaitTermination()
    val postings = s"$idx/postings"
    // OPTIMIZE re-clusters by term (layout.range): disjoint term runs
    val rows = Sources.readVersion(spark, postings).count()
    Sources.compactVersion(spark, postings, math.max(1L, rows / 4))
    val all = Sources.readVersion(spark, postings)
    val probe = all.agg(max("term")).head.getString(0)
    val (pruned, kept, total) = Sources.readVersionForKeys(spark,
      postings, "term", Seq(probe))
    assert(total > 1, "the re-clustered index must span >1 file")
    assert(kept < total,
      s"a single-term fetch must skip files ($kept of $total read)")
    assert(pruned.collect().map(_.toSeq).toSet ===
      all.filter(col("term") === probe).collect().map(_.toSeq).toSet)
  }

  test("net maintenance off a lineage source: source OPTIMIZE commits " +
    "NOTHING on any index table; updates/deletes still track exactly") {
    val root = tmp("text-idx-net")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Sources.commitVersion(docs.filter(col("doc_id") < 150), src)
    graft.sources.RowIds.enableRowIds(src)
    Sources.commitVersion(docs.filter(col("doc_id") >= 150), src)
    TextIndex.init(idx)
    def drain(ckpt: String = s"$root/ckpt"): Unit =
      TextIndex.maintainNetQuery(spark, src, idx, ckpt).awaitTermination()
    drain()
    assertIndexEquals(idx, docs)
    // pure layout work on the source: zero DATA commits — postings
    // and docstore untouched, termstats gains only its ledger bookmark
    Sources.compactVersion(spark, src, 64L)
    val vs0 = Seq("postings", "docstore")
      .map(t => Sources.latestVersion(s"$idx/$t"))
    val terms0 = Sources.readVersion(spark, s"$idx/termstats")
      .filter(col("term").isNotNull).collect().map(_.toSeq).toSet
    drain()
    assert(Seq("postings", "docstore")
      .map(t => Sources.latestVersion(s"$idx/$t")) === vs0,
      "a source compaction drain must not commit on postings/docstore")
    assert(Sources.readVersion(spark, s"$idx/termstats")
      .filter(col("term").isNotNull).collect().map(_.toSeq).toSet
      === terms0, "…and must not change a single term total")
    assertIndexEquals(idx, docs)
    // an id-preserving update + a delete still flow (as update pairs)
    Sources.updateWhere(spark, src, col("doc_id") % 17 === 0,
      Map("text" -> concat(lit("zz netedit "), col("text"))))
    Sources.deleteWhereDv(spark, src, col("doc_id") % 41 === 0)
    drain()
    val expectedDocs = docs.filter(col("doc_id") % 41 =!= 0)
      .withColumn("text", when(col("doc_id") % 17 === 0,
        concat(lit("zz netedit "), col("text"))).otherwise(col("text")))
    assertIndexEquals(idx, expectedDocs)
    // fresh-checkpoint full replay: the ledger high-water mark makes
    // the re-netted range empty — bitwise no-op
    val before = Seq("postings", "docstore", "termstats")
      .map(t => Sources.readVersion(spark, s"$idx/$t")
        .collect().map(_.toSeq).toSet)
    drain(s"$root/ckpt2")
    assert(Seq("postings", "docstore", "termstats")
      .map(t => Sources.readVersion(spark, s"$idx/$t")
        .collect().map(_.toSeq).toSet) === before)
  }

  test("index-served BM25 equals the full-scan q125 ranking exactly") {
    val root = tmp("text-idx-bm25")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Sources.commitVersion(docs, src)
    TextIndex.init(idx)
    TextIndex.maintainQuery(spark, src, idx, s"$root/ckpt")
      .awaitTermination()
    val served = TextIndex.searchFromIndex(spark, idx)
      .collect().map(_.toSeq).toSeq
    val scanned = TextOps.q125.build(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served === scanned,
      "the index-served ranking must be bit-identical to the full scan")
  }

  test("the termstats ledger holds ONE `#txn` entry per consumer, " +
    "however many source versions apply") {
    val root = tmp("text-idx-ledger")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Sources.commitVersion(docs.filter(col("doc_id") < 100), src)
    Sources.commitVersion(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), src)
    Sources.commitVersion(docs.filter(col("doc_id") >= 200), src)
    TextIndex.init(idx)
    val consumer = Sources.txnConsumer("text_index", src)
    def ledger(): Seq[String] = {
      val ts = s"$idx/termstats"
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(ts,
        s"v${Sources.latestVersion(ts)}.manifest")).asScala.toSeq
        .filter(_.startsWith("#txn"))
    }
    TextIndex.maintainQuery(spark, src, idx, s"$root/ckpt")
      .awaitTermination()
    assert(ledger() === Seq(s"#txn\t$consumer\t${Sources.latestVersion(src)}"),
      s"expected one entry at the source head, got ${ledger()}")
    // the table itself holds term rows only
    assert(Sources.readVersion(spark, s"$idx/termstats")
      .filter(!col("tk").startsWith("t:")).isEmpty)
    // more commits + another drain: the SAME entry advances in place
    Sources.commitVersion(docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 500000L), src)
    Sources.commitVersion(docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 600000L), src)
    TextIndex.maintainQuery(spark, src, idx, s"$root/ckpt")
      .awaitTermination()
    assert(ledger() === Seq(s"#txn\t$consumer\t${Sources.latestVersion(src)}"),
      s"the ledger must not grow with applied versions: ${ledger()}")
    assertIndexEquals(idx, docs.unionByName(
      docs.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 500000L))
      .unionByName(
        docs.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 600000L)))
  }
}
