package graft.functions

import graft.sources.Sources
import graft.{Query, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType => _, _}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The PERSISTED INVERTED TEXT INDEX: postings + document lengths +
  * corpus term totals materialized as first-class graft tables and
  * MAINTAINED off the source documents table's change feed — the piece
  * that turns q125's query-time side effect (re-tokenize the corpus on
  * every search) into a real index, the text-side sibling of
  * [[AnnIndex]].
  *
  * Layout (three versioned graft tables under one index root):
  *  - `postings` `(doc_id, term, tf)` — one row per (document, term)
  *    with the EXACT term frequency. Maintained by O(keys)
  *    equality-delete merges keyed on `doc_id` (a changed document
  *    retires all its postings as ONE eq entry — no base file opened).
  *    Each appended batch is range-laid and sorted by `term`, and the
  *    table declares `stats.columns`/`bloom.columns` on `term`, so a
  *    query-term fetch prunes to the files that can hold those
  *    posting lists.
  *  - `docstore` `(doc_id, dl)` — exact token count per document
  *    (only documents with ≥1 token, the BM25 length-normalization
  *    denominator population). Same eq-merge maintenance.
  *  - `termstats` `(tk, term, cnt)` — corpus-wide occurrence totals
  *    per term (`tk = "t:" + term`), maintained by ADDITIVE keyed
  *    merges (the [[graft.streaming.StreamingPipeline.maintainDsirQuery]]
  *    device): inserts add their token counts, deletes subtract.
  *    Additive arithmetic cannot tolerate replays, so each termstats
  *    commit records the highest applied source version in the
  *    table's `#txn` ledger — the same atomic manifest publish as the
  *    delta; versions apply strictly in order, so one position per
  *    consumer carries the full replay guarantee.
  *
  * Crash/replay contract (spec-pinned in TextIndexSpec): postings and
  * docstore merges are IDEMPOTENT by construction — an eq merge
  * retires the change keys' stored rows (including a previous replay's
  * appends, which the entry's pre-commit scope covers) and re-appends
  * the same rows, so re-running a batch is a state no-op. The additive
  * termstats commit is EXACTLY-once via its ledger and runs LAST, so
  * every crash window replays either idempotent work or
  * ledger-filtered work; a fresh-checkpoint full-feed replay is a
  * bitwise no-op on all three tables.
  *
  * 100 TB shape: per source commit the maintenance work is O(changed
  * documents) tokenize + O(affected index files) merge — the corpus is
  * never re-read. A search reads the 3-row term-totals top-k, the
  * probed terms' posting lists (file-pruned by the term stats + bloom
  * sidecars), and the slim 2-column docstore — never the document
  * text. Ranking math is bit-identical to q125's order-free decimal
  * AST, so index-served search is gated by the SAME DuckDB oracle as
  * the full-scan form: exact, not recall-bounded.
  *
  * Reference anchor: the reference has no text index at all (its
  * documents never leave MySQL rows, `createDW.sql:43`); this is the
  * "switch to the library and keep your queries" surface extended the
  * way its ETL users would need at crawl scale.
  */
object TextIndex {

  /** `(doc_id, term)` token stream — q125's tokenizer verbatim
    * (lowercase, split on whitespace runs, empties dropped), with the
    * caller's extra columns carried through. */
  private def toks(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs
      .select((Seq(col("doc_id")) ++ carry.map(col) :+
        explode(split(lower(col("text")), "\\s+")).as("term")): _*)
      .filter(col("term") =!= "")

  private def postingsT(root: String) = s"$root/postings"
  private def docstoreT(root: String) = s"$root/docstore"
  private def termstatsT(root: String) = s"$root/termstats"

  /** Create the three empty index tables (v1 declared schemas) and pin
    * their skipping metadata. Metadata-only — content arrives through
    * [[maintainQuery]], so creation costs nothing over a huge source. */
  def init(indexRoot: String): Unit = {
    Sources.createEmptyTable(postingsT(indexRoot), StructType(Seq(
      StructField("doc_id", LongType),
      StructField("term", StringType),
      StructField("tf", LongType))))
    Sources.writeTableProperties(postingsT(indexRoot),
      Map("stats.columns" -> "term,doc_id", "bloom.columns" -> "term",
        // OPTIMIZE re-clusters the postings globally by term, so each
        // file holds one tight term run and the stats/bloom sidecars
        // skip everything a query's terms can't live in
        "layout.range" -> "term"))
    Sources.createEmptyTable(docstoreT(indexRoot), StructType(Seq(
      StructField("doc_id", LongType),
      StructField("dl", LongType))))
    Sources.writeTableProperties(docstoreT(indexRoot),
      Map("stats.columns" -> "doc_id"))
    Sources.createEmptyTable(termstatsT(indexRoot), StructType(Seq(
      StructField("tk", StringType),
      StructField("term", StringType),
      StructField("cnt", LongType))))
    Sources.writeTableProperties(termstatsT(indexRoot),
      Map("stats.columns" -> "tk"))
  }

  /** Tail the SOURCE documents table's change feed and keep the index
    * current. Per micro-batch: versions already in the termstats
    * ledger are dropped (replay filter); each remaining document's
    * outcome is its LAST change; postings/docstore land as O(keys)
    * eq merges; the signed term-count delta lands as ONE additive
    * keyed merge that records the batch's ledger position, last. */
  def maintainQuery(spark: SparkSession, srcTable: String,
      indexRoot: String, checkpoint: String): StreamingQuery = {
    spark.readStream.format("graft-cdf").option("path", srcTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // replay filter against the termstats ledger: versions apply
        // strictly in order (the ledger entry commits last, atomically
        // with its range), so the applied set is always a contiguous
        // prefix — one position, read from the manifest
        val consumer = Sources.txnConsumer("text_index", srcTable)
        val pinned = graft.streaming.FeedProbe
          .unapplied(batch, termstatsT(indexRoot), consumer)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // one aggregate both materializes the pin and answers
          // "anything fresh?" — a NULL max IS the emptiness probe (it
          // also covers an entirely-empty batch)
          val hwAgg = pinned
            .agg(max(col("_commit_version").cast("long"))).head
          if (!hwAgg.isNullAt(0)) {
            val newHw = hwAgg.getLong(0)
            // last-change-wins per document (the replicateTable rule),
            // decided over LIGHT columns only — the text itself never
            // crosses the netting exchange (guide §8: decide with small
            // rows); the winner rows join back by (doc, version, type)
            val w = Window.partitionBy("doc_id")
              .orderBy(col("_commit_version").desc,
                when(col("_change_type") === "insert", 1)
                  .otherwise(0).desc)
            val winners = pinned
              .select(col("doc_id"), col("_commit_version"),
                col("_change_type"))
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1 &&
                col("_change_type") === "insert")
              .select(col("doc_id"), col("_commit_version"),
                col("_change_type"), lit(true).as("__w"))
            // ONE tokenize pass per drain: tokens aggregate map-side to
            // (doc, version, type, term) counts; postings take the
            // winner rows, the signed term delta takes them all.
            // ASSUMPTION (ADVICE r10): a source commit contains at most
            // one row per doc_id per version — the same contract
            // FeedProbe.probe enforces loudly for the doc-keyed stores;
            // a duplicated (doc_id, version, type) row would sum both
            // rows' tokens into the winner group. Every producer in
            // this engine (commitVersion slices, mergeVersion*,
            // replicate*) writes one row per key per version.
            val tokAgg = toks(pinned,
              carry = Seq("_commit_version", "_change_type"))
              .groupBy(col("doc_id"), col("_commit_version"),
                col("_change_type"), col("term"))
              .agg(count(lit(1)).as("cnt"))
            val tokCounts = tokAgg
              .join(winners,
                Seq("doc_id", "_commit_version", "_change_type"), "left")
              .select(col("doc_id"), col("term"), col("cnt"),
                when(col("_change_type") === "insert", lit(1L))
                  .otherwise(lit(-1L)).as("__s"),
                coalesce(col("__w"), lit(false)).as("__new"))
            applyIndexChanges(spark, indexRoot,
              tokCounts = tokCounts,
              changedDocIds = pinned.select("doc_id").distinct(),
              txn = consumer -> newHw)
          }
        } finally { pinned.unpersist(); () }
      }
      .start()
  }

  /** The shared merge pass of both maintainers: changed docs retire as
    * ONE eq key each, their final postings/lengths re-append (batches
    * land term-sorted so the stats/bloom sidecars stay selective), and
    * the signed token delta lands as ONE atomic additive commit that
    * records `txn` in the termstats ledger, LAST — so every crash
    * window replays either idempotent eq merges or ledger-gated
    * additive work. A range that changes no document (a net range over
    * a pure rewrite) writes no data: its ledger entry lands as a
    * manifest-only termstats version, the bookmark the net
    * maintainer's next range starts from. */
  /** TEST ONLY — see the call site in [[applyIndexChanges]]. */
  private[graft] var midApplyCrashHook: () => Unit = () => ()

  private def applyIndexChanges(spark: SparkSession, indexRoot: String,
      tokCounts: DataFrame, changedDocIds: DataFrame,
      txn: (String, Long)): Unit = {
    val ts = termstatsT(indexRoot)
    // tokenization is the drain's only data-proportional work; callers
    // hand it in as ONE aggregated (doc, term, cnt, __s, __new) pass —
    // postings/docstore read the __new rows, the signed term delta
    // reads them all. Pinned because the merges below consume these
    // through SEVERAL actions each (key write, upsert write, stats
    // harvest), so the text is tokenized once per drain, not once per
    // downstream job.
    val tokPinned = tokCounts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newPosts = tokPinned.filter(col("__new"))
      .select(col("doc_id"), col("term"), col("cnt").as("tf"))
    val delta = tokPinned
      .groupBy("term").agg(sum(col("__s") * col("cnt")).as("dc"))
      .filter(col("dc") =!= 0L)
      .withColumn("tk", concat(lit("t:"), col("term")))
    try {
    val retire = changedDocIds.select(col("doc_id"),
      lit(null).cast("string").as("term"),
      lit(null).cast("long").as("tf"), lit("delete").as("op"))
    // each ASSEMBLED merge input is pinned: mergeVersionEq consumes it
    // through two actions (key write, batch write), and the postings
    // input's repartitionByRange would otherwise re-run its sampling
    // job + exchange per action
    val postIn = newPosts.withColumn("op", lit("upsert"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id")
      .unionByName(retire)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, retired) =
      try Sources.mergeVersionEq(spark, postingsT(indexRoot), postIn,
        Seq("doc_id"))
      finally { postIn.unpersist(); () }
    if (retired == 0L) { // no document changed: bookmark only
      Sources.commitVersionFiles(ts, Nil, txn = Some(txn))
      return
    }
    val dlIn = newPosts.groupBy("doc_id").agg(sum("tf").as("dl"))
      .withColumn("op", lit("upsert"))
      .unionByName(retire.drop("term", "tf")
        .select(col("doc_id"),
          lit(null).cast("long").as("dl"), col("op")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Sources.mergeVersionEq(spark, docstoreT(indexRoot), dlIn,
      Seq("doc_id"))
    finally { dlIn.unpersist(); () }
    // additive term totals: +new tokens, -old tokens (a change's old
    // half carries the old text, so counts subtract without reading
    // the index)
    val cur = Sources.readVersion(spark, ts)
      .select(col("tk"), col("cnt").as("cur"))
    val merged = delta.join(cur, Seq("tk"), "left")
      .select(col("tk"), col("term"),
        (coalesce(col("cur"), lit(0L)) + col("dc")).as("cnt"))
      .withColumn("op",
        when(col("cnt") > 0L, "upsert").otherwise("delete"))
    // TEST-ONLY crash injection (ExactlyOnceFaultSpec): fires in the
    // exact window the replay contract reasons about — the idempotent
    // eq merges have landed, the atomic termstats+ledger commit has
    // NOT. A no-op in production.
    midApplyCrashHook()
    val tsIn = merged
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Sources.mergeVersion(spark, ts, tsIn, "tk", txn = Some(txn))
    finally { tsIn.unpersist(); () }
    ()
    } finally { tokPinned.unpersist(); () }
  }

  /** NET maintenance off a LINEAGE source
    * ([[graft.sources.RowIds.readChangesLineage]]): the stream supplies
    * version offsets; each batch applies the net endpoint diff of the
    * not-yet-applied range. The payoff over [[maintainQuery]] is
    * rewrite transparency — a source compaction/purge drain nets to
    * ZERO data changes and commits NOTHING on postings/docstore (a
    * manifest-only termstats version bookmarks the ledger so the next
    * drain never re-diffs the rewritten range), where the file-granular feed
    * would re-tokenize and re-merge the whole rewritten byte volume.
    * At 100 TB: nightly OPTIMIZE on the corpus is free for the index.
    *
    * Crash/replay contract: a net range is PINNED in an intent journal
    * BEFORE its merges run — a crashed half-applied range replays
    * verbatim (the net over a fixed range is deterministic, the eq
    * merges idempotent, the additive commit ledger-gated) instead of
    * being silently re-netted into a WIDER range whose endpoint diff
    * could cancel the half-applied changes and strand them. The
    * termstats ledger position is the journal's stale test, so
    * fresh-checkpoint replays are no-ops. Use ONE maintainer per index
    * (this or [[maintainQuery]]) — they share one ledger entry. */
  def maintainNetQuery(spark: SparkSession, srcTable: String,
      indexRoot: String, checkpoint: String): StreamingQuery = {
    spark.readStream.format("graft-cdf").option("path", srcTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one feed job: the version-range max is the emptiness probe
        // too (NULL max = empty batch)
        val hiRow = batch.agg(max(col("_commit_version").cast("long"))).head
        if (!hiRow.isNullAt(0)) {
          val ts = termstatsT(indexRoot)
          val consumer = Sources.txnConsumer("text_index", srcTable)
          def ledgerMax(): Long =
            math.max(0L, Sources.appliedVersion(ts, consumer))
          val intentDir = java.nio.file.Paths.get(indexRoot, "_netmaintain")
          java.nio.file.Files.createDirectories(intentDir)
          def applyRange(from: Long, hi: Long): Unit = {
            val intent = intentDir.resolve(s"range-$from-$hi.intent")
            if (!java.nio.file.Files.exists(intent))
              java.nio.file.Files.write(intent, Array.emptyByteArray)
            val net = graft.sources.RowIds.readChangesLineage(spark,
                srcTable, from.toInt, hi.toInt)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              // the feed is already per-doc net (one pre + one post
              // image at most), so the new-content rows are exactly the
              // positive-signed ones — no winner join needed
              val signed = net.withColumn("__s",
                when(col("_change_type")
                  .isin("insert", "update_postimage"), lit(1L))
                  .otherwise(lit(-1L)))
              applyIndexChanges(spark, indexRoot,
                tokCounts = toks(signed, carry = Seq("__s"))
                  .groupBy(col("doc_id"), col("__s"), col("term"))
                  .agg(count(lit(1)).as("cnt"))
                  .select(col("doc_id"), col("term"), col("cnt"),
                    col("__s"), (col("__s") === 1L).as("__new")),
                changedDocIds = net.select("doc_id").distinct(),
                txn = consumer -> hi)
            } finally { net.unpersist(); () }
            java.nio.file.Files.deleteIfExists(intent)
            ()
          }
          // replay an unfinished PINNED range first; sweep stale pins
          var lm = ledgerMax()
          val pat = "range-(\\d+)-(\\d+)\\.intent".r
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(intentDir).iterator().asScala.toSeq
            .sortBy(_.getFileName.toString).foreach { p =>
              p.getFileName.toString match {
                case pat(f, h) =>
                  val (iFrom, iHi) = (f.toLong, h.toLong)
                  if (iHi <= lm) { // applied through: the commit landed
                    java.nio.file.Files.deleteIfExists(p); ()
                  } else if (iFrom == lm) {
                    applyRange(iFrom, iHi)
                    lm = ledgerMax()
                  } else { // orphaned (ledger moved past its from)
                    java.nio.file.Files.deleteIfExists(p); ()
                  }
                case _ => ()
              }
            }
          val hi = hiRow.getLong(0)
          if (hi > lm) applyRange(lm, hi)
        }
      }
      .start()
  }

  /** BM25 top-`k` served ENTIRELY from the index tables — the q125
    * plan with every corpus-scan input replaced by its materialized
    * form: query terms from the 3-row term-totals top-k, tf from the
    * pruned posting fetch, df counted on the fetched lists, dl/N/avgdl
    * from the slim docstore. The scoring AST is q125's bit-for-bit
    * (libm-rounded idf, per-term DECIMAL(18,6) clamp, order-free
    * decimal sum), so the result is hash-identical to the full scan. */
  def searchFromIndex(spark: SparkSession, indexRoot: String,
      k: Int = 50): DataFrame = {
    val qterms = Sources.readVersion(spark, termstatsT(indexRoot))
      .orderBy(col("cnt").desc, col("term").asc).limit(3)
      .select("term").collect().map(_.getString(0)).toSeq
    search(spark, indexRoot, qterms, k)
  }

  /** BM25 top-`k` for EXPLICIT query `terms` — the real search API
    * (the gate's corpus-derived terms are [[searchFromIndex]]'s
    * fixture device). The posting fetch goes through
    * [[Sources.readVersionForKeys]]: files whose term stats/bloom
    * sidecars cannot hold any query term are never opened, and the
    * residual IN pushes into the parquet reader for row-group pruning
    * — at 100 TB a 3-term query opens the 3 posting-list runs, not the
    * index (TextIndexSpec witnesses the skip). */
  def search(spark: SparkSession, indexRoot: String,
      terms: Seq[String], k: Int = 50): DataFrame = {
    val (posts, _, _) = Sources.readVersionForKeys(spark,
      postingsT(indexRoot), "term", terms)
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = Sources.readVersion(spark, docstoreT(indexRoot))
    val nAvg = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val scored = posts.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nAvg))
      .withColumn("idf",
        round(log(lit(1.0) +
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5))), 6))
      .withColumn("contrib",
        col("idf") * ((col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
      .groupBy("doc_id")
      .agg(sum(round(col("contrib"), 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)").as("score_dec"))
    graft.plans.TopKOps.rankedTopK(scored,
        Seq(col("score_dec").desc, col("doc_id").asc), k)
      .select(col("rank"), col("doc_id"),
        col("score_dec").cast("double").as("score"))
      .orderBy("rank")
  }

  /** Q235 — the index-backed BM25 lifecycle gate: build the documents
    * table in two commits, create the index, and maintain it through
    * three change-feed drains that cover an in-place UPDATE (perturbed
    * text, then restored), a DV DELETE, and a re-insert — the final
    * corpus equals the fixture, so the index-served search is gated by
    * q125's EXACT DuckDB oracle. Build work is the lifecycle; the
    * returned plan is the pure index read. */
  val q235 = Query(
    "q235_bm25_indexed",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-textidx-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val src = root.resolve("docs_t").toString
      val idx = root.resolve("index").toString
      val ckpt = root.resolve("ckpt").toString
      // pinned: the gate's lifecycle consumes the documents relation
      // through SIX actions (three commits, two eq merges at two
      // actions each) — one parquet scan serves them all (guide §5)
      val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), src)
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0), src)
      init(idx)
      maintainQuery(s, src, idx, ckpt).awaitTermination()
      // an in-place edit + a hard delete land, then are reverted /
      // refilled ACROSS ONE multi-version drain (last-change-wins and
      // the signed term sums must telescope) — the oracle stays the
      // fixture corpus
      val touched = pmod(col("doc_id"), lit(31)) === 0
      Sources.mergeVersionEq(s, src,
        docs.filter(touched)
          .withColumn("text", concat(lit("edited "), col("text")))
          .withColumn("op", lit("upsert")), Seq("doc_id"))
      Sources.deleteWhereDv(s, src, pmod(col("doc_id"), lit(97)) === 3)
      Sources.mergeVersionEq(s, src,
        docs.filter(touched).withColumn("op", lit("upsert")), Seq("doc_id"))
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(97)) === 3
        && pmod(col("doc_id"), lit(31)) =!= 0), src)
      } finally { docs.unpersist(); () }
      maintainQuery(s, src, idx, ckpt).awaitTermination()
      searchFromIndex(s, idx)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, tok
           |  FROM (SELECT doc_id,
           |               unnest(string_split_regex(lower(text), '\s+')) AS tok
           |        FROM documents)
           |  WHERE tok <> ''),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
           |navg AS (
           |  SELECT COUNT(*) AS n_docs,
           |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           |  FROM dl),
           |qterms AS (
           |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1)
           |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 3),
           |dfreq AS (
           |  SELECT tok, COUNT(DISTINCT doc_id) AS df
           |  FROM toks SEMI JOIN qterms USING (tok) GROUP BY 1),
           |tf AS (
           |  SELECT doc_id, tok, COUNT(*) AS tf
           |  FROM toks SEMI JOIN qterms USING (tok) GROUP BY 1, 2),
           |scored AS (
           |  SELECT t.doc_id,
           |         CAST(SUM(CAST(round(
           |           round(ln(1.0 + (CAST(n.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
           |                          / (CAST(f.df AS DOUBLE) + 0.5)), 6)
           |           * ((CAST(t.tf AS DOUBLE) * 2.2)
           |              / (CAST(t.tf AS DOUBLE)
           |                 + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / n.avgdl)))), 6)
           |           AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS score_dec
           |  FROM tf t JOIN dl d USING (doc_id) JOIN dfreq f USING (tok), navg n
           |  GROUP BY 1)
           |SELECT CAST(row_number() OVER (ORDER BY score_dec DESC, doc_id ASC)
           |            AS BIGINT) AS rank,
           |       doc_id, CAST(score_dec AS DOUBLE) AS score
           |FROM scored
           |QUALIFY row_number() OVER (ORDER BY score_dec DESC, doc_id ASC) <= 50
           |ORDER BY rank""".stripMargin)
  )
}
