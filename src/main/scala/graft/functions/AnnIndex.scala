package graft.functions

import graft.plans.VectorExpressions.dotNative
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The PERSISTED IVFADC index: cell assignments + PQ codes materialized
  * as a first-class graft table and MAINTAINED off the source table's
  * change feed — the piece that turns q203's query-time side effect
  * (re-train + re-encode the corpus on every call) into a real index.
  *
  * Layout:
  *  - `indexTable` is a versioned graft table `(b_id, cell, codes)` —
  *    8 B of code + one small int per vector instead of 256 B of
  *    floats; stats sidecar on `b_id` keeps keyed maintenance merges
  *    file-granular.
  *  - the MODEL (coarse centroids + per-subspace codebooks, trained
  *    once by [[SimilarityOps.lloyd]] on the bounded deterministic
  *    sample) is pinned in an `ann.model` sidecar next to the index
  *    manifests. Pinning is correctness, not convenience: incremental
  *    batches encoded under a re-trained model would be incomparable
  *    with the existing codes — exactly why faiss freezes its
  *    quantizers at index build.
  *  - maintenance ([[maintainQuery]]) tails the SOURCE table's
  *    `graft-cdf` feed: per micro-batch, each vector's outcome is its
  *    LAST change (the replicateTable apply rule), upserts are encoded
  *    map-side under the pinned model, and the net change lands on the
  *    index through [[Sources.mergeVersion]]'s file-granular keyed
  *    merge — re-embedded vectors re-encode, deleted vectors leave the
  *    index, untouched index files carry forward. Each merge records
  *    the highest applied source version in the index's `#txn`
  *    ledger, and every batch first drops the versions the ledger
  *    covers, so replays and fresh checkpoints apply nothing twice.
  *
  * 100 TB shape: per commit the work is O(changed vectors) encode +
  * O(affected index files) merge — the corpus is never re-read, the
  * model never re-trained. Search ([[searchFromIndex]]) joins probes
  * to the index on cell id (candidates = the probed cells' posting
  * lists) and only re-ranks the final top-k against full vectors. */
object AnnIndex {

  /** IVFADC geometry — 64 dims = 16 sub-spaces × 4, 16 codewords each,
    * 8 coarse cells (the q203-proven setting for the fixture). */
  val M = 16; val K = 16; val sub = 4; val kCells = 8

  case class Model(cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]) {
    lazy val c2: Array[Array[Double]] =
      Array.tabulate(M, K)((m, k) => cb(m)(k).map(x => x * x).sum)
  }

  /** Train both quantizers from the bounded deterministic sample (the
    * first `sampleN` vectors by id) — one scan, driver-held model
    * state (8×64 + 16×16×4 doubles), never data-scale. */
  def train(emb: DataFrame, sampleN: Int = 2048): Model = {
    val sample = emb.filter(col("vec_id") < sampleN).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    Model(
      SimilarityOps.lloyd(sample, kCells),
      Array.tabulate(M)(m =>
        SimilarityOps.lloyd(sample.map(_.slice(m * sub, (m + 1) * sub)), K)))
  }

  /** Persist the model next to the index manifests (atomic move) — the
    * quantizers are part of the index's identity. */
  def saveModel(indexTable: String, m: Model): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(indexTable))
    val sb = new StringBuilder
    m.cents.zipWithIndex.foreach { case (c, i) =>
      sb.append(s"cent\t$i\t${c.mkString(",")}\n") }
    for (mm <- 0 until M; k <- 0 until K)
      sb.append(s"cb\t$mm\t$k\t${m.cb(mm)(k).mkString(",")}\n")
    val dir = java.nio.file.Paths.get(indexTable)
    val tmp = java.nio.file.Files.createTempFile(dir, ".annmodel", ".tmp")
    java.nio.file.Files.write(tmp, sb.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve("ann.model"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def loadModel(indexTable: String): Model = {
    val p = java.nio.file.Paths.get(indexTable, "ann.model")
    require(java.nio.file.Files.exists(p),
      s"$indexTable has no pinned ann.model — run init first")
    val cents = Array.fill(kCells)(Array.empty[Double])
    val cb = Array.fill(M, K)(Array.empty[Double])
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala
      .filter(_.nonEmpty).foreach { line =>
        line.split("\t") match {
          case Array("cent", i, vs) =>
            cents(i.toInt) = vs.split(",").map(_.toDouble)
          case Array("cb", m, k, vs) =>
            cb(m.toInt)(k.toInt) = vs.split(",").map(_.toDouble)
          case other => throw new IllegalStateException(
            s"unparsable ann.model line: ${other.mkString("\t")}")
        }
      }
    Model(cents, cb)
  }

  // ---- shared expression builders (the q203 math, model-parametric) --

  private def centroidCol(c: Array[Double]): Column = array(c.map(lit): _*)
  private def cellScore(c: Array[Double]): Column =
    dotNative(col("embedding"), centroidCol(c)) -
      lit(c.map(x => x * x).sum / 2.0)
  private def cwCol(m: Model, mm: Int, k: Int): Column =
    array(m.cb(mm)(k).map(x => lit(x.toFloat)): _*)
  private def subv(mm: Int): Column =
    slice(col("embedding"), mm * sub + 1, sub)
  private def pqScore(m: Model, mm: Int, k: Int): Column =
    lit(m.c2(mm)(k)) - lit(2.0) * dotNative(subv(mm), cwCol(m, mm, k))

  private def nearestCellCol(m: Model): Column =
    greatest(m.cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(cellScore(c).as("s"), lit(i.toLong).as("cell"))
    }: _*).getField("cell")

  private def codesCol(m: Model): Column =
    array((0 until M).map { mm =>
      least((0 until K).map { k =>
        struct(pqScore(m, mm, k).as("d"), lit(k).as("k"))
      }: _*).getField("k")
    }: _*)

  /** TEST ONLY — crash injection for ExactlyOnceFaultSpec, fired just
    * before the net maintainer's single atomic merge. No-op in
    * production. */
  private[graft] var preMergeCrashHook: () => Unit = () => ()

  /** Map-side encode of `(vec_id, embedding)` rows to index rows
    * `(b_id, cell, codes)` under the pinned model — embarrassingly
    * parallel, the only per-vector work maintenance ever does. */
  def encode(df: DataFrame, m: Model): DataFrame =
    df.select(col("vec_id").as("b_id"), nearestCellCol(m).as("cell"),
      codesCol(m).as("codes"))

  /** Create the index: train the model from the source table's current
    * head, pin it, and publish an EMPTY index version (v1 declared
    * schema). Content arrives through [[maintainQuery]] — creation is
    * metadata-only even over a huge source. */
  def init(spark: SparkSession, srcTable: String,
      indexTable: String): Unit = {
    val emb = Sources.readVersion(spark, srcTable)
    saveModel(indexTable, train(emb))
    Sources.createEmptyTable(indexTable,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("codes",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)))))
    Sources.writeTableProperties(indexTable,
      Map("stats.columns" -> "b_id"))
  }

  /** Tail the SOURCE table's change feed and keep the index current:
    * last-change-wins per vector, upserts encoded under the pinned
    * model, net change keyed-merged into the index table. Exactly once
    * via the index's `#txn` ledger. */
  def maintainQuery(spark: SparkSession, srcTable: String,
      indexTable: String, checkpoint: String): StreamingQuery = {
    val model = loadModel(indexTable)
    spark.readStream.format("graft-cdf").option("path", srcTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("ann_index", srcTable)
        val w = Window.partitionBy("vec_id")
          .orderBy(col("_commit_version").desc,
            when(col("_change_type") === "insert", 1).otherwise(0).desc)
        val last = graft.streaming.FeedProbe
          .unapplied(batch, indexTable, consumer)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
        val ups = encode(
          last.filter(col("_change_type") === "insert"), model)
          .withColumn("op", lit("upsert"))
        val dels = last.filter(col("_change_type") =!= "insert")
          .select(col("vec_id").as("b_id"),
            lit(null).cast("long").as("cell"),
            lit(null).cast("array<int>").as("codes"),
            lit("delete").as("op"))
        // UNPINNED (r11 A/B, verdict item 1): the emptiness count and
        // the merge's key probe both PRUNE the codes column away, so
        // only the single rewrite pass ever evaluates the PQ encode —
        // pinning forced a full-column cache build that measured
        // 13-17x MORE task time than the recompute (q203 49 vs 3.4
        // task-seconds) and one extra job. The count over `last` is
        // the count of ups + dels; its max is the ledger position.
        val changes = ups.unionByName(dels)
        val pr = last.agg(count(lit(1)),
          max(col("_commit_version").cast("long"))).head
        if (pr.getLong(0) > 0L) {
          Sources.mergeVersion(spark, indexTable, changes, "b_id",
            txn = Some(consumer -> pr.getLong(1)))
          ()
        }
      }
      .start()
  }

  /** NET maintenance off a LINEAGE source
    * ([[graft.sources.RowIds.readChangesLineage]]) — [[maintainQuery]]'s
    * rewrite-transparent sibling: each micro-batch applies the net
    * endpoint diff of the not-yet-applied version range, so a source
    * compaction/purge drain re-encodes NOTHING (an empty net lands
    * only a manifest-only ledger bookmark), where the file-granular
    * feed would re-encode the whole rewritten byte volume. Unlike the
    * text index's three tables, the ANN index is ONE table — the
    * range's upserts and deletes ride ONE atomic keyed merge whose
    * manifest records the range's end in the `#txn` ledger, so there
    * is no partial-application crash window and no intent journal: a
    * crashed range replays whole (ExactlyOnceFaultSpec injects exactly
    * that crash), an applied range is ledger-skipped. Use ONE
    * maintainer per index (this or [[maintainQuery]]) — they share one
    * ledger entry. */
  def maintainNetQuery(spark: SparkSession, srcTable: String,
      indexTable: String, checkpoint: String): StreamingQuery = {
    val model = loadModel(indexTable)
    spark.readStream.format("graft-cdf").option("path", srcTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one feed job: the version-range max is the emptiness probe
        // too (NULL max = empty batch, no separate isEmpty scan)
        val hiRow = batch.agg(max(col("_commit_version").cast("long")))
          .head
        if (!hiRow.isNullAt(0)) {
          val hi = hiRow.getLong(0)
          val consumer = Sources.txnConsumer("ann_index", srcTable)
          val from = math.max(0L, Sources.appliedVersion(indexTable, consumer))
          if (hi > from) {
            val net = graft.sources.RowIds.readChangesLineage(spark,
                srcTable, from.toInt, hi.toInt)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val ups = encode(net.filter(col("_change_type")
                  .isin("insert", "update_postimage")), model)
                .withColumn("op", lit("upsert"))
              // preimages retire too: a vec_id-changing update must
              // drop the old key, not just upsert the new one
              val dels = net.filter(col("_change_type")
                  .isin("delete", "update_preimage"))
                .select(col("vec_id").as("b_id"),
                  lit(null).cast("long").as("cell"),
                  lit(null).cast("array<int>").as("codes"),
                  lit("delete").as("op"))
              // UNPINNED (r11 A/B, same pathology as maintainQuery):
              // the key probe prunes the codes column, so only the
              // rewrite evaluates the PQ encode — and the net range is
              // already pinned above, so nothing upstream re-reads
              val changes = ups.unionByName(dels)
              val txn = Some(consumer -> hi)
              // TEST-ONLY crash injection (ExactlyOnceFaultSpec): the
              // window before the single atomic commit — a crash here
              // must replay the whole range on the next drain
              preMergeCrashHook()
              // the count materializes the pinned range; a range that
              // nets to nothing (a pure rewrite) only bookmarks
              if (net.agg(count(lit(1))).head.getLong(0) == 0L)
                Sources.commitVersionFiles(indexTable, Nil, txn = txn)
              else
                Sources.mergeVersion(spark, indexTable, changes, "b_id",
                  txn = txn)
              ()
            } finally { net.unpersist(); () }
          }
        }
      }
      .start()
  }

  /** Cross-label MUTUAL-kNN against the persisted index — the q140
    * semantics (pairs from different labels that are each other's
    * cross-label cosine top-1) restated without the cross product:
    *
    *  - every vector probes its `nprobe` nearest cells (map-side, the
    *    model is literal expressions — no shuffle to assign);
    *  - candidate EDGES come from the probed cells' POSTING LISTS: one
    *    shuffle equi-join `probeCells ⋈ index ON cell`, then the edge
    *    set is SYMMETRIZED (union with its swap + distinct) — a pair
    *    is a candidate if either endpoint probed into the other's home
    *    cell, which squares down the miss probability of the mutual
    *    check (measured pair recall 0.65 → ≥0.9 on the fixture at the
    *    same nprobe);
    *  - ranking is the exact cosine on the candidate pairs (ids-only
    *    edges first, embeddings fetched by two id equi-joins — and the
    *    argmax window is the UNCHANGED q140 device: row_number per
    *    a_id, ties on b_id);
    *  - the mutual check is the unchanged 1-row-per-vector self-join.
    *
    * 100 TB shape: with k ≈ √N cells, each posting list is ~√N rows —
    * per-vector candidate work is nprobe·√N instead of N, every join
    * is an equi-join, and nothing is ever broadcast at corpus scale
    * (the fixture's k=8 makes the ratio nprobe/8 of the corpus; the
    * STRUCTURE is what survives the scale-up). Approximate by design:
    * a true mutual pair is found iff both endpoints' exact top-1 lies
    * inside their probed cells — recall vs the exact q140 is gated in
    * AnnIndexSpec. */
  def mutualKnnFromIndex(spark: SparkSession, emb: DataFrame,
      indexTable: String, nprobe: Int = 4): DataFrame = {
    val m = loadModel(indexTable)
    val index = Sources.readVersion(spark, indexTable)
      .select("b_id", "cell")
    val probeCells = emb.select(col("vec_id").as("a_id"),
        slice(reverse(array_sort(array(m.cents.toSeq.zipWithIndex.map {
          case (c, i) => struct(cellScore(c).as("s"), lit(i.toLong).as("cell"))
        }: _*))), 1, nprobe).getField("cell").as("probed"))
      .select(col("a_id"), explode(col("probed")).as("cell"))
    // candidate edges: a probed b's home cell — then SYMMETRIZED
    // (a pair is a candidate if EITHER endpoint probed into the
    // other's cell), which squares down the miss probability of the
    // mutual check: both directions rank over the same pair set, so a
    // pair survives iff it is a candidate at all and is genuinely
    // mutual. distinct() is one shuffle of compact id pairs.
    val edges0 = probeCells.join(index, Seq("cell")).select("a_id", "b_id")
    val edges = edges0.union(
      edges0.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .distinct()
    val aSide = emb.select(col("vec_id").as("a_id"),
      col("label").as("a_label"), col("embedding").as("ea"),
      sqrt(dotNative(col("embedding"), col("embedding"))).as("na"))
    val bSide = emb.select(col("vec_id").as("b_id"),
      col("label").as("b_label"), col("embedding").as("eb"),
      sqrt(dotNative(col("embedding"), col("embedding"))).as("nb"))
    val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    val best = edges.join(aSide, "a_id").join(bSide, "b_id")
      .filter(col("a_label") =!= col("b_label"))
      .select(col("a_id"), col("a_label"), col("b_id"), col("b_label"),
        (dotNative(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("a_id", "a_label", "b_id", "b_label", "sim")
    best.join(
        best.select(col("a_id").as("rb"), col("b_id").as("ra")),
        col("a_id") === col("ra") && col("b_id") === col("rb"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "a_label", "b_id", "b_label", "sim")
      .orderBy("a_id")
  }

  /** MARGIN-BASED BITEXT MINING against the persisted index — the
    * ratio-margin criterion of Artetxe & Schwenk 2019 ("Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings"),
    * the standard way multilingual LLM pipelines mine parallel pairs:
    * raw cosine over-selects hubs (vectors close to EVERYTHING), so a
    * candidate pair (x, y) is scored by its cosine NORMALIZED by the
    * two endpoints' neighborhood density,
    * `margin = sim(x,y) / ((avgK(x) + avgK(y)) / 2)`, and a pair is
    * mined iff it is margin-MUTUAL-best and its margin clears the
    * threshold (margin > 1 ⇔ the pair is tighter than its endpoints'
    * average neighborhoods).
    *
    * Composed with the index exactly like [[mutualKnnFromIndex]]:
    * sides A (`sideA` predicate) and B (its complement) generate
    * candidates from shared probed cells (posting-list equi-join,
    * symmetrized), never a cross product; avgK is the mean
    * side-crossing top-K cosine among candidates — the approximation
    * the AnnIndexSpec recall gate measures against the exact form.
    * Everything downstream of the candidate join is per-endpoint
    * windows over candidate edges, shuffle-keyed by vector id. */
  def marginMineFromIndex(spark: SparkSession, emb: DataFrame,
      indexTable: String, sideA: Column, k: Int = 4, nprobe: Int = 4,
      threshold: Double = 1.0): DataFrame = {
    val m = loadModel(indexTable)
    val index = Sources.readVersion(spark, indexTable)
      .select("b_id", "cell")
    val sided = emb.withColumn("side",
      when(sideA, lit("A")).otherwise(lit("B")))
    val probeCells = sided.select(col("vec_id").as("a_id"),
        slice(reverse(array_sort(array(m.cents.toSeq.zipWithIndex.map {
          case (c, i) => struct(cellScore(c).as("s"), lit(i.toLong).as("cell"))
        }: _*))), 1, nprobe).getField("cell").as("probed"))
      .select(col("a_id"), explode(col("probed")).as("cell"))
    val edges0 = probeCells.join(index, Seq("cell")).select("a_id", "b_id")
    val edges = edges0.union(
      edges0.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .distinct()
    val aSide = sided.select(col("vec_id").as("a_id"),
      col("side").as("a_side"), col("embedding").as("ea"),
      sqrt(dotNative(col("embedding"), col("embedding"))).as("na"))
    val bSide = sided.select(col("vec_id").as("b_id"),
      col("side").as("b_side"), col("embedding").as("eb"),
      sqrt(dotNative(col("embedding"), col("embedding"))).as("nb"))
    // side-crossing candidate sims, ORIENTED a ∈ A, b ∈ B (one row per
    // unordered pair — both normalizations join back onto it)
    val sims = edges.join(aSide, "a_id").join(bSide, "b_id")
      .filter(col("a_side") === "A" && col("b_side") === "B")
      .select(col("a_id"), col("b_id"),
        (dotNative(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("sim"))
    // per-endpoint neighborhood density: mean of the top-K candidate
    // cosines (windows keyed by the endpoint id — never global)
    val wa = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    val avgA = sims.withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= k).groupBy("a_id")
      .agg(avg(col("sim")).as("avg_a"))
    val wb = Window.partitionBy("b_id").orderBy(col("sim").desc, col("a_id").asc)
    val avgB = sims.withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k).groupBy("b_id")
      .agg(avg(col("sim")).as("avg_b"))
    val margins = sims.join(avgA, "a_id").join(avgB, "b_id")
      .select(col("a_id"), col("b_id"), col("sim"),
        (col("sim") / ((col("avg_a") + col("avg_b")) / 2)).as("margin"))
    val fwd = margins.withColumn("rn", row_number().over(
        Window.partitionBy("a_id")
          .orderBy(col("margin").desc, col("b_id").asc)))
      .filter(col("rn") === 1).drop("rn")
    val bwd = margins.withColumn("rn", row_number().over(
        Window.partitionBy("b_id")
          .orderBy(col("margin").desc, col("a_id").asc)))
      .filter(col("rn") === 1)
      .select(col("a_id").as("fa"), col("b_id").as("fb"))
    fwd.join(bwd, col("a_id") === col("fa") && col("b_id") === col("fb"))
      .filter(col("margin") > threshold)
      .select("a_id", "b_id", "sim", "margin")
      .orderBy("a_id")
  }

  /** IVFADC search AGAINST THE PERSISTED INDEX: probes compute their
    * nprobe nearest cells + ADC table from the pinned model; candidates
    * come from the index table's probed posting lists (equi-join on
    * cell, 16-nibble codes — never a full-precision vector); the final
    * `rerank` survivors re-rank exactly against the full embeddings. */
  def searchFromIndex(spark: SparkSession, emb: DataFrame,
      indexTable: String, probeFilter: Column, nprobe: Int = 4,
      rerank: Int = 40): DataFrame = {
    val m = loadModel(indexTable)
    val index = Sources.readVersion(spark, indexTable)
    val probes = emb.filter(probeFilter)
      .select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        slice(reverse(array_sort(array(m.cents.toSeq.zipWithIndex.map {
          case (c, i) => struct(cellScore(c).as("s"), lit(i.toLong).as("cell"))
        }: _*))), 1, nprobe).getField("cell").as("probed"),
        array((for (mm <- 0 until M; k <- 0 until K)
          yield pqScore(m, mm, k)): _*).as("tbl"))
    val probeCells = probes
      .select(col("a_id"), col("tbl"), explode(col("probed")).as("cell"))
    val adcSum = (0 until M).map(mm =>
      element_at(col("tbl"),
        (lit(mm * K) + element_at(col("codes"), mm + 1) + 1).cast("int")))
      .reduce(_ + _)
    val adc = index.join(broadcast(probeCells), Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), adcSum.as("adc"))
    val wAdc = Window.partitionBy("a_id").orderBy(col("adc").asc, col("b_id").asc)
    val cand = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank).drop("rn", "adc")
    val full = emb
      .select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        sqrt(dotNative(col("embedding"), col("embedding"))).as("nb"))
    val wSim = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    cand.join(broadcast(probes.select(col("a_id"), col("ea"))), "a_id")
      .join(full, "b_id")
      .select(col("a_id"), col("b_id"),
        (dotNative(col("ea"), col("eb")) /
          (sqrt(dotNative(col("ea"), col("ea"))) * col("nb"))).as("sim"))
      .withColumn("rn", row_number().over(wSim))
      .filter(col("rn") === 1)
      .select("a_id", "b_id", "sim")
      .orderBy("a_id")
  }
}
