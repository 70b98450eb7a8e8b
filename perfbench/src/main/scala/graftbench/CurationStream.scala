package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextIndex, TextOps}
import graft.operators.DedupOps
import graft.sources.Sources
import graft.streaming.{ClusterView, DedupStore, NearDupStore, VerdictView}

/** The LLM-data curation path, traced as a probe.
  *
  * A seeded document stream (new documents, exact duplicates, token-edit
  * near-duplicates, re-texts and takedowns) is applied in cycles: each
  * appends the new documents, merges the edits and takedowns by
  * equality delete, then drains the derived chain DedupStore →
  * NearDupStore → ClusterView → VerdictView and the TextIndex. The
  * probe loads an initial corpus, drains one edit batch through the
  * chain, times a few searches of the index, and checks every store
  * against the `DedupOps` batch forms and the index against the
  * full-scan BM25 (q125) on the corpus it leaves.
  *
  * Why: many small key-value eq merges, MinHash/LSH and a change feed
  * chained through derived tables use `sources` very differently from
  * fact appends, and these stores are the engine's slowest paths. One
  * cycle takes tens of seconds on a 4-core host, so no timed workload
  * runs them; the traced `olap_read` run calls [[CurationStream.probe]].
  *
  * The document counts and shares below are chosen, not recorded: the
  * reference has no document stream. */
object CurationStream {
  val Vocab = 4000
  val InitialDocs = 1000
  val BatchDocs = 100
  val ExactDupShare = 0.04
  val NearDupShare = 0.10
  val UpdateShare = 0.08
  val DeleteShare = 0.04
  val MinTokens = 12
  val MaxTokens = 40
  val Searches = 4

  def traffic: Map[String, Any] = Map(
    "curation_initial_docs" -> InitialDocs, "curation_batch_docs" -> BatchDocs,
    "curation_exact_dup_share" -> ExactDupShare,
    "curation_near_dup_share" -> NearDupShare,
    "curation_update_share" -> UpdateShare,
    "curation_delete_share" -> DeleteShare)

  val OpSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType),
    StructField("text", StringType),
    StructField("op", StringType, nullable = false)))

  /** Batches of document operations (index 0 = the initial corpus), the
    * search terms, and the corpus they leave. */
  final case class Inputs(batches: IndexedSeq[Seq[Row]],
      queries: IndexedSeq[Seq[String]], finalCorpus: Map[Long, String])

  def generate(seed: Long, editBatches: Int): Inputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val langs = Array("en", "fr", "es", "zh", "de")
    def word(): String = s"w${rnd.nextInt(Vocab)}"
    def text(): String =
      Seq.fill(MinTokens + rnd.nextInt(MaxTokens - MinTokens + 1))(word())
        .mkString(" ")
    val live = mutable.LinkedHashMap.empty[Long, String]
    val liveIds = mutable.ArrayBuffer.empty[Long]
    var nextId = 1L
    var seq = 0L
    def pick(): Long = liveIds(rnd.nextInt(liveIds.size))
    def op(id: Long, t: String, kind: String): Row = {
      seq += 1
      kind match {
        case "delete" => live.remove(id); liveIds -= id
        case "insert" => live(id) = t; liveIds += id
        case _ => live(id) = t
      }
      Row(seq, id, langs((id % langs.length).toInt), t, kind)
    }
    def fresh(t: String): Row = { val id = nextId; nextId += 1; op(id, t, "insert") }
    def batch(n: Int, edits: Boolean): Seq[Row] = Seq.fill(n) {
      val r = rnd.nextDouble()
      if (r < ExactDupShare) fresh(live(pick()))
      else if (r < ExactDupShare + NearDupShare) {
        val toks = live(pick()).split(" ")
        toks(rnd.nextInt(toks.length)) = word()
        fresh(toks.mkString(" "))
      } else if (edits && r < ExactDupShare + NearDupShare + UpdateShare)
        op(pick(), text(), "upsert")
      else if (edits && r < ExactDupShare + NearDupShare + UpdateShare +
          DeleteShare && liveIds.size > 1) {
        val id = pick(); op(id, null, "delete")
      } else fresh(text())
    }
    val initial = Seq.fill(InitialDocs)(fresh(text()))
    val stream = (1 to editBatches).map(_ => batch(BatchDocs, edits = true))
    val queries = IndexedSeq.fill(Searches)(Seq.fill(2 + rnd.nextInt(2))(word()))
    Inputs(initial +: stream, queries, live.toMap)
  }

  /** Trace the `stores` and `text_index` maintenance layers once: build
    * the chain over the initial corpus, drain one edit batch through it
    * and check the result; returns the checks. */
  def probe(ctx: Ctx): Seq[(String, Boolean)] = new CurationStream(ctx).probe()
}

final class CurationStream(ctx: Ctx) {
  import CurationStream._

  private def spark = ctx.spark
  private def bname(i: Int) = s"batch=$i"

  final class Store(root: Path) {
    val docs = root.resolve("lake/docs").toString
    val dedup = root.resolve("lake/dedup_store").toString
    val neardup = root.resolve("lake/neardup_store").toString
    val clusters = root.resolve("lake/cluster_view").toString
    val verdicts = root.resolve("lake/verdict_view").toString
    val index = root.resolve("lake/text_index").toString
    def ck(n: String) = root.resolve(s"ck/$n").toString
    val staging = root.resolve("staging")
    val loop = new OpenLoop(staging, root.resolve("inbox"))
  }

  private def cycle(s: Store, ids: Seq[Int]): Unit = ctx.span("curation.cycle") {
    val ops = spark.read.parquet(ids.map(i => s.loop.path(bname(i))): _*)
    ctx.span("sources.commit") {
      Sources.commitVersion(ops.filter(col("op") === "insert")
        .select("doc_id", "lang", "text"), s.docs)
    }
    ctx.span("sources.merge_eq") {
      val edits = ops.filter(col("op") =!= "insert")
        .withColumn("__rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("seq").desc)))
        .filter(col("__rn") === 1)
        .select("doc_id", "lang", "text", "op")
      Sources.mergeVersionEq(spark, s.docs, edits, Seq("doc_id"))
    }
    ctx.drain("stores.dedup_drain")(DedupStore.maintainQuery(spark, s.docs,
      s.dedup, s.ck("dedup")))
    ctx.drain("stores.neardup_drain")(NearDupStore.maintainQuery(spark, s.docs,
      s.neardup, s.ck("neardup")))
    ctx.drain("stores.cluster_drain")(ClusterView.maintainQuery(spark, s.neardup,
      s.clusters, s.ck("clusters")))
    ctx.drain("stores.verdict_drain")(VerdictView.maintainQuery(spark, s.docs,
      s.clusters, s.verdicts, s.ck("verdicts")))
    ctx.drain("text_index.drain")(TextIndex.maintainQuery(spark, s.docs, s.index,
      s.ck("text_index")))
  }

  private def setup(root: Path): (Store, Inputs) = {
    val s = new Store(root)
    val in = generate(ctx.seed, 1)
    val rows = in.batches.zipWithIndex.flatMap { case (b, i) =>
      b.map(r => Row.fromSeq(r.toSeq :+ i)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        OpSchema.add("batch", IntegerType))
      .repartition(col("batch")).write.partitionBy("batch")
      .parquet(s.staging.toString)
    Sources.createEmptyTable(s.docs, StructType(OpSchema.fields
      .filter(f => Set("doc_id", "lang", "text")(f.name))))
    TextIndex.init(s.index)
    s.loop.release(Seq(bname(0) -> ctx.now())).join()
    cycle(s, Seq(0))
    (s, in)
  }

  def probe(): Seq[(String, Boolean)] = {
    ctx.tracer.traceId = "curation-probe"
    val (s, in) = setup(ctx.work.resolve("curation_probe"))
    s.loop.release(Seq(bname(1) -> ctx.now())).join()
    cycle(s, Seq(1))
    in.queries.foreach(t => ctx.span("text_index.search") {
      TextIndex.search(spark, s.index, t, 10).collect() })
    gate(s, in)
  }

  /** In-run correctness on the final corpus: the documents table equals
    * the generator's replay of every operation; exact-dup survivors,
    * near-dup pairs, clusters and verdicts equal the DedupOps batch
    * forms (q28 pairs; q66/q68's connected components and keeper rule
    * over the store's verified-edge threshold); the index-served BM25
    * top 50 for the corpus's top-3 terms equals q125's full scan. */
  private def gate(s: Store, in: Inputs): Seq[(String, Boolean)] = {
    val sp = spark
    import sp.implicits._
    val corpus = in.finalCorpus.toSeq.sortBy(_._1).toDF("doc_id", "text")
      .withColumn("lang", element_at(array(Seq("en", "fr", "es", "zh", "de")
        .map(lit): _*), (col("doc_id") % 5 + 1).cast("int")))
    val dir = ctx.work.resolve("curation_oracle")
    val docsDir = dir.resolve("documents.parquet").toString
    corpus.write.mode("overwrite").parquet(docsDir)
    val docs = spark.read.parquet(docsDir)
    val pairs = DedupOps.q28.build(spark, dir.toString)
    val edges = pairs.filter(col("est_jaccard") >= ClusterView.EdgeThreshold)
    val labels =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
      else DedupOps.connectedComponents(edges)
        .select(col("n").as("doc_id"), col("l").as("cluster_id"))
    val expClusters = labels.join(labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize")), "cluster_id")
    val expVerdicts = labels.join(VerdictView.tokenCount(docs), "doc_id")
      .withColumn("keep", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(col("n_tokens").desc, col("doc_id").asc)) === 1)
    val expSurvivors = docs.groupBy(DedupStore.fullDigest(col("text")).as("digest"))
      .agg(min("doc_id").as("survivor_id"))
    def eq(name: String, got: DataFrame, exp: DataFrame): (String, Boolean) = {
      val ok = Common.contentHash(got) == Common.contentHash(exp)
      if (!ok) System.err.println(s"[curation] gate $name MISMATCH")
      name -> ok
    }
    Seq(
      eq("curation_documents", Sources.readVersion(spark, s.docs), docs),
      eq("curation_exact_dup_survivors", DedupStore.survivors(spark, s.dedup),
        expSurvivors),
      eq("curation_near_dup_pairs", NearDupStore.pairs(spark, s.neardup), pairs),
      eq("curation_clusters", ClusterView.clusters(spark, s.clusters), expClusters),
      eq("curation_verdicts", VerdictView.verdicts(spark, s.verdicts), expVerdicts),
      eq("text_search", TextIndex.searchFromIndex(spark, s.index, 50),
        TextOps.q125.build(spark, dir.toString)))
  }
}
