package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

import graft.operators.DedupOps
import graft.sources.Sources

/** The STREAMING-MAINTAINED NEAR-DUP (MinHash-LSH) INDEX: the
  * approximate sibling of [[DedupStore]], completing the persisted
  * incremental-index family (exact dedup, inverted text, ANN). One
  * derived table holds, per live document, its minhash signature and
  * LSH band rows, plus every verified candidate pair — kept current off
  * the source table's change feed, so near-dup detection over a growing
  * corpus costs O(changed docs), never a corpus re-LSH.
  *
  * The batch semantics it maintains are EXACTLY q28's
  * ([[DedupOps.q28]]): 16 minhashes over distinct 3-token shingles,
  * 4 bands of 4, candidate pairs share a band signature, estimated
  * Jaccard = matching-minhash fraction. The incremental invariant is
  * the standard LSH one: two live docs collide iff the LATER arrival
  * found the earlier one's band rows already indexed — so per batch
  * only the arriving docs probe the index, and the pair set equals the
  * batch recompute at every version (the q251 gate hash-proves it).
  *
  * Self-describing strip: a deleted or re-texted doc's OLD band keys
  * are derived from its STORED signature row (the signature determines
  * the bands), so removal never needs the departed text re-shingled;
  * its pairs are found by a doc-keyed probe of the pair section. Both
  * are bounded by the affected docs' index footprint.
  *
  * One table, one merge: signature rows (`g:<doc>`), band rows
  * (`b:<band>:<sig>:<doc>`) and pair rows (`p:<a>:<b>`) share the key
  * space and land in a SINGLE atomic [[Sources.mergeVersionEq]] per
  * fresh version range, whose manifest records the range's high-water
  * source version in the store's `#txn` ledger — no
  * partial-application crash window (the [[DedupStore]] contract; the
  * fault spec kills before the merge and proves the store bitwise
  * untouched + verbatim replay).
  *
  * 100 TB shape: per batch the work is O(changed docs) shingling +
  * minhashing, a band-key equi-join against the indexed band rows
  * (key-grouped, never all-pairs), a signature join on the bounded
  * candidate set, and doc-keyed semi-joins for the strip. `layout.range`
  * on `k` keeps each section (g/b/p) in disjoint file ranges so the
  * prefix-filtered reads prune to their section's files.
  *
  * KNOWN HAZARD, by design: an exact-duplicate clique of size m makes
  * its band buckets m-hot and its pair section m²/2 rows — inherent to
  * materialized LSH pairs, not to this maintainer (the batch q28 pays
  * the same). The production order of operations absorbs it: run the
  * EXACT dedup pass ([[DedupStore]]) upstream and feed this index the
  * survivors, so cliques collapse to size 1 before banding; residual
  * hot (band, sig) join keys are runtime skew AQE splits.
  */
object NearDupStore {

  private val RowsPerBand = DedupOps.NumHashes / DedupOps.NumBands

  /** Test seam: fires immediately before the single atomic merge. */
  private[graft] var preMergeCrashHook: () => Unit = () => ()

  def init(storeTable: String): Unit =
    if (Sources.latestVersion(storeTable) == 0) {
      Sources.createEmptyTable(storeTable, StructType(Seq(
        StructField("k", StringType, nullable = false),
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false),
        StructField("v", StringType, nullable = false),
        StructField("e", DoubleType, nullable = true))))
      Sources.writeTableProperties(storeTable, Map(
        "stats.columns" -> "k,a,b",
        "bloom.columns" -> "a,b",
        "layout.range" -> "k"))
      ()
    }

  /** Live signatures: (doc_id, sig array<long> ordered by hash index). */
  def sigs(spark: SparkSession, storeTable: String): DataFrame =
    Sources.readVersion(spark, storeTable)
      .filter(col("k").startsWith("g:"))
      .select(col("a").as("doc_id"),
        transform(split(col("v"), ","), x => x.cast("long")).as("sig"))

  /** The product view: every live near-dup candidate pair with its
    * estimated Jaccard — q28's exact output, served from the index. */
  def pairs(spark: SparkSession, storeTable: String): DataFrame =
    Sources.readVersion(spark, storeTable)
      .filter(col("k").startsWith("p:"))
      .select(col("a").as("a_doc"), col("b").as("b_doc"),
        col("e").as("est_jaccard"))

  /** Indexed band rows: (band, sig, doc_id). */
  private def bandRows(spark: SparkSession, storeTable: String): DataFrame =
    Sources.readVersion(spark, storeTable)
      .filter(col("k").startsWith("b:"))
      .select(col("b").as("band"), col("v").as("sig"), col("a").as("doc_id"))

  /** Tail the source table's change feed and keep the index current. */
  def maintainQuery(spark: SparkSession, docsTable: String,
      storeTable: String, checkpoint: String): StreamingQuery = {
    init(storeTable)
    spark.readStream.format("graft-cdf").option("path", docsTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("neardup", docsTable)
        // null-text inserts carry no indexable content; deletes are
        // kept regardless (the strip works off the stored signature,
        // not text)
        val fresh = FeedProbe.unapplied(batch, storeTable, consumer)
          .filter(col("_change_type") =!= "insert" || col("text").isNotNull)
          .persist()
        try applyFresh(spark, storeTable, consumer, fresh)
        finally { fresh.unpersist() }
      }
      .start()
  }

  private def applyFresh(spark: SparkSession, storeTable: String,
      consumer: String, fresh: DataFrame): Unit = {
    // ONE driver action ([[FeedProbe]], the contract shared with
    // DedupStore) for the emptiness probe, high water, and the
    // doc_id-uniqueness guard
    val newHw = FeedProbe.probe(fresh, "near-dup store") match {
      case None => return
      case Some(hw) => hw
    }
    // net outcome per doc: LAST change wins, insert preferred within a
    // version (a rewrite emits delete+insert of the same doc in one
    // version — it must net to an idempotent re-upsert). Old state is
    // stripped from the STORE, so the delete image's text is unused.
    val w = Window.partitionBy("doc_id")
      .orderBy(col("_commit_version").cast("long").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    // EAGER: the drain's merge plan references the netted batch from
    // many concurrent leaf stages (strips, gRows, candidates) — see
    // [[graft.Tuning.pinEager]] on the cache-stampede this prevents
    val net = graft.Tuning.pinEager(fresh
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("text"),
        when(col("_change_type") === "insert", "upsert")
          .otherwise("delete").as("op")), "chainfresh")
    try applyNet(spark, storeTable, net, consumer -> newHw)
    finally { net.unpersist() }
  }

  private def applyNet(spark: SparkSession, storeTable: String,
      net: DataFrame, txn: (String, Long)): Unit = {
    // already unique: the netting window keeps exactly one row per
    // doc_id, so a distinct here would be a pure extra exchange
    val affected = net.select(col("doc_id"))
    // ---- strip: old state of every affected doc, derived from the
    // store itself (signature → band keys; doc-keyed pair probe)
    val oldSigs = sigs(spark, storeTable)
      .join(affected, Seq("doc_id"), "left_semi")
    val oldBandDeletes = oldSigs
      .withColumn("band0", explode(sequence(lit(0),
        lit(DedupOps.NumBands - 1))))
      .withColumn("band", col("band0").cast("long"))
      .withColumn("bsig", array_join(transform(
        slice(col("sig"), col("band0") * RowsPerBand + 1,
          lit(RowsPerBand)), x => x.cast("string")), ","))
      .select(bandKey(col("band"), col("bsig"), col("doc_id")).as("k"),
        col("doc_id").as("a"), col("band").as("b"), col("bsig").as("v"),
        lit(null).cast("double").as("e"), lit("delete").as("op"))
    val pRows = Sources.readVersion(spark, storeTable)
      .filter(col("k").startsWith("p:"))
    // disjoint by construction (branch 2 anti-joins branch 1's
    // predicate), so no distinct: store keys are unique per k and the
    // two branches can only have overlapped on pairs with BOTH
    // endpoints affected — the anti join excludes those from branch 2
    // with a map-side (broadcastable) join instead of a full exchange
    val affA = affected.withColumnRenamed("doc_id", "a")
    val oldPairDeletes = pRows
      .join(affA, Seq("a"), "left_semi")
      .unionByName(pRows
        .join(affected.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
        .join(affA, Seq("a"), "left_anti")
        .select(pRows.columns.map(col).toIndexedSeq: _*))
      .select(col("k"), col("a"), col("b"), col("v"), col("e"))
      .withColumn("op", lit("delete"))
    // ---- new state: signatures + bands of the upserted docs (the
    // identical pipeline q28 runs over the whole corpus)
    // the shared shingle pipeline keys by (doc_id, lang, text); the
    // store is language-agnostic, so a placeholder lang suffices
    val ups = net.filter(col("op") === "upsert")
      .select(col("doc_id"), lit("").as("lang"), col("text"))
    // ONE pinned shuffle: sigsOf aggregates straight to the signature
    // array (no (doc, i) row blowup), and the band rows derive from the
    // cached signatures map-side — bandsFromSigs needs no persist of
    // its own. EAGER: the merge plan references the signatures from
    // ~13 concurrent leaf stages (gRows, bands, both candidate sides,
    // allSigs twice) — unmaterialized, each stage recomputed the whole
    // minhash aggregate (measured: 13 parallel ~2 s jobs per drain)
    val newSigs = graft.Tuning.pinEager(DedupOps.sigsOf(ups), "chainsigs")
    try {
        // g rows: upsert with the new signature when one exists (>=1
        // shingle), else delete — covers deletions AND docs whose new
        // text dropped below shingle length
        val gRows = affected
          .join(newSigs, Seq("doc_id"), "left")
          .select(concat(lit("g:"), col("doc_id")).as("k"),
            col("doc_id").as("a"), lit(-1L).as("b"),
            coalesce(array_join(transform(col("sig"),
              x => x.cast("string")), ","), lit("")).as("v"),
            lit(null).cast("double").as("e"),
            when(col("sig").isNull, "delete").otherwise("upsert").as("op"))
        val newBands = DedupOps.bandsFromSigs(newSigs)
        val newBandRows = newBands
            .select(bandKey(col("band"), col("sig"), col("doc_id")).as("k"),
              col("doc_id").as("a"), col("band").cast("long").as("b"),
              col("sig").as("v"), lit(null).cast("double").as("e"),
              lit("upsert").as("op"))
          // ---- candidates: arriving docs probe the indexed band rows
          // (minus the affected docs' stale rows) + collide among
          // themselves; verified pairs carry q28's estimated Jaccard.
          // ONE band-key equi-join covers both: newBands probes
          // (indexed ∪ newBands) — an old–new collision surfaces once
          // (indexed excludes affected docs, so the doc-inequality is
          // vacuous there), a new–new collision twice (once per side)
          // and collapses to one row under least/greatest in the
          // existing distinct. Was two joins = two probe-side
          // exchanges of the same newBands (guide §2.4).
          val indexed = bandRows(spark, storeTable)
            .join(affected, Seq("doc_id"), "left_anti")
          val cands = newBands.as("n")
            .join(indexed.unionByName(newBands).as("o"),
              col("n.band") === col("o.band") && col("n.sig") === col("o.sig")
                && col("n.doc_id") =!= col("o.doc_id"))
            .select(least(col("n.doc_id"), col("o.doc_id")).as("pa"),
              greatest(col("n.doc_id"), col("o.doc_id")).as("pb"))
            .distinct()
          val allSigs = newSigs.unionByName(
            sigs(spark, storeTable).join(affected, Seq("doc_id"), "left_anti"))
          val pairUpserts = cands
            .join(allSigs.select(col("doc_id").as("pa"), col("sig").as("sa")),
              Seq("pa"))
            .join(allSigs.select(col("doc_id").as("pb"), col("sig").as("sb")),
              Seq("pb"))
            .select(concat(lit("p:"), col("pa"), lit(":"), col("pb")).as("k"),
              col("pa").as("a"), col("pb").as("b"), lit("").as("v"),
              (aggregate(zip_with(col("sa"), col("sb"),
                (x, y) => when(x === y, 1L).otherwise(0L)),
                lit(0L), (acc, x) => acc + x).cast("double")
                / DedupOps.NumHashes).as("e"),
              lit("upsert").as("op"))
          // NO per-key resolution pass: a key carrying both a delete
          // (sig-unchanged rewrite, re-created pair) and an upsert is
          // already resolved BY mergeVersionEq itself — the key retires
          // once (the key set is distinct over both ops) and the single
          // upsert row is appended, bit-identical to filtering the
          // delete out first. The producing stages each emit at most
          // one upsert per key (gRows/newBandRows/pairUpserts key
          // spaces are disjoint and internally unique), so the old
          // row_number window was a full exchange+sort of the whole
          // union that changed nothing (guide §2.4).
          // pinned: mergeVersionEq consumes its input twice (the key
          // write, the batch write) — without the pin each action
          // re-runs the whole 5-branch union and five store-section
          // scans (measured: the recomputes dominated the drain)
          val merged = oldBandDeletes
            .unionByName(oldPairDeletes).unionByName(gRows)
            .unionByName(newBandRows).unionByName(pairUpserts)
            .sortWithinPartitions("k").persist()
          try {
            preMergeCrashHook()
            Sources.mergeVersionEq(spark, storeTable, merged, Seq("k"),
              txn = Some(txn))
            ()
          } finally { merged.unpersist() }
    } finally { newSigs.unpersist(); () }
  }

  private def bandKey(band: Column, sig: Column, doc: Column): Column =
    concat(lit("b:"), band, lit(":"), sig, lit(":"), doc)
}
