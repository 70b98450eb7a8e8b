package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.Sources

/** The STREAMING-MAINTAINED EXACT-DEDUP STORE: a derived table holding,
  * per content digest, the canonical survivor (MIN live doc_id) plus
  * the live membership that backs it — kept current off the source
  * documents table's change feed.
  *
  * Why members at all: the survivor rule is an ARGMIN, and unlike the
  * DSIR store's counts ([[StreamingPipeline.maintainDsirQuery]]) an
  * argmin is NOT invertible — deleting the survivor cannot be
  * "subtracted", the next-lowest member must be PROMOTED. So the store
  * keeps the (digest, doc_id) membership and re-derives survivors per
  * batch for exactly the AFFECTED digests: a keyed semi-join against
  * the batch's digest set, never a corpus rescan. This is the standard
  * shape for incrementally maintaining any non-invertible aggregate
  * (MIN/MAX/argmax): re-aggregate the touched groups only.
  *
  * One table, one merge: member rows (`m:<digest>:<doc_id>`) and
  * survivor rows (`s:<digest>`) share the key space and land in a
  * SINGLE atomic [[Sources.mergeVersionEq]] per fresh version range,
  * whose manifest also records the range's high-water source version
  * in the store's `#txn` ledger. There is no partial-application crash
  * window: either the whole batch (members + survivors + ledger entry)
  * is visible or none of it is, and a replayed range is dropped by the
  * ledger filter before any work runs.
  *
  * 100 TB shape: per batch the work is O(changed docs) digesting +
  * O(affected digests) membership re-read (digest-keyed semi-join
  * against a `layout.range`/stats/bloom-on-digest table, so OPTIMIZE
  * keeps each digest's members in a narrow file range) + one O(keys)
  * eq merge. A source compaction drain re-feeds rewritten rows as
  * delete+insert of IDENTICAL (digest, doc_id) pairs, which net to
  * idempotent upserts — membership and survivors do not churn.
  */
object DedupStore {

  /** Test seam: fires immediately before the single atomic merge, so
    * fault specs can prove the no-partial-application contract (the
    * AnnIndex pattern — one merge means a crash leaves the store
    * bitwise untouched and the range replays whole). */
  private[graft] var preMergeCrashHook: () => Unit = () => ()

  /** Full-text digest — the default content key. Gates over the
    * synthetic corpus (distinct texts by construction) use a coarser
    * head fingerprint to manufacture duplicate groups; the maintenance
    * logic is key-agnostic. */
  def fullDigest(text: Column): Column = md5(text)

  /** Head fingerprint: first 12 chars of the lower-cased text. */
  def headDigest(text: Column): Column =
    md5(substring(lower(text), 1, 12))

  def init(storeTable: String): Unit =
    if (Sources.latestVersion(storeTable) == 0) {
      Sources.createEmptyTable(storeTable, StructType(Seq(
        StructField("k", StringType, nullable = false),
        StructField("digest", StringType, nullable = false),
        StructField("doc_id", LongType, nullable = false))))
      Sources.writeTableProperties(storeTable, Map(
        "stats.columns" -> "k,digest",
        "bloom.columns" -> "digest",
        "layout.range" -> "k"))
      ()
    }

  /** The clean view: one (digest, survivor_id) per live digest. */
  def survivors(spark: SparkSession, storeTable: String): DataFrame =
    Sources.readVersion(spark, storeTable)
      .filter(col("k").startsWith("s:"))
      .select(col("digest"), col("doc_id").as("survivor_id"))

  /** Live membership: every (digest, doc_id) currently in the corpus. */
  def members(spark: SparkSession, storeTable: String): DataFrame =
    Sources.readVersion(spark, storeTable)
      .filter(col("k").startsWith("m:"))
      .select(col("digest"), col("doc_id"))

  /** Tail the source table's change feed and keep the store current.
    * `digestOf` maps the text column to the content key; null-text
    * rows are ignored (no content to key). */
  def maintainQuery(spark: SparkSession, docsTable: String,
      storeTable: String, checkpoint: String,
      digestOf: Column => Column = fullDigest): StreamingQuery = {
    init(storeTable)
    spark.readStream.format("graft-cdf").option("path", docsTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("dedup", docsTable)
        // pin the ledger-filtered range once: everything downstream
        // (the emptiness probe, the high-water max, the dup guard, the
        // netting window) reads this cache instead of re-scanning the
        // CDF parquet
        val fresh = FeedProbe.unapplied(batch, storeTable, consumer)
          .filter(col("text").isNotNull).persist()
        try applyFresh(spark, storeTable, consumer, fresh, digestOf)
        finally { fresh.unpersist() }
      }
      .start()
  }

  private def applyFresh(spark: SparkSession, storeTable: String,
      consumer: String, fresh: DataFrame,
      digestOf: Column => Column): Unit = {
    // ONE driver action ([[FeedProbe]]) for the emptiness probe, high
    // water, and the doc_id-uniqueness guard — every driver action is
    // a full Spark job, per-micro-batch fixed latency at scale
    val newHw = FeedProbe.probe(fresh, "dedup store") match {
      case None => return
      case Some(hw) => hw
    }
    // net outcome per (digest, doc_id) PAIR — not per doc: a text edit
    // moves the doc between digest groups, and both the departure
    // (delete of the old pair, from the delete row's image) and the
    // arrival (insert of the new pair) must land. Within a pair the
    // LAST change wins, insert preferred inside one version (a file
    // rewrite emits delete+insert of the same pair in the same
    // version — it must net to a no-op upsert, not a delete).
    val w = Window.partitionBy("digest", "doc_id")
      .orderBy(col("_commit_version").cast("long").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    // EAGER: the merge plan references the netted batch from four
    // concurrent leaf stages (touched-digest semi, delete anti, upsert
    // union, member rows) — see [[graft.Tuning.pinEager]]
    val net = graft.Tuning.pinEager(fresh
      .withColumn("digest", digestOf(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("digest"), col("doc_id"),
        when(col("_change_type") === "insert", "upsert")
          .otherwise("delete").as("op")), "chainfresh")
    try {
      val affected = net.select("digest").distinct()
      // current members of ONLY the touched digests, batch net applied
      val cur = members(spark, storeTable)
        .join(affected, Seq("digest"), "left_semi")
      // no distinct: `live` feeds ONLY the min aggregate below, and
      // MIN over a multiset equals MIN over its set — the dedup was a
      // pure extra exchange of the touched groups (guide §2.4)
      val live = cur
        .join(net.filter(col("op") === "delete").select("digest", "doc_id"),
          Seq("digest", "doc_id"), "left_anti")
        .unionByName(
          net.filter(col("op") === "upsert").select("digest", "doc_id"))
      val surv = live.groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
      // a touched digest with no remaining member retires its survivor
      val survRows = affected.join(surv, Seq("digest"), "left")
        .select(concat(lit("s:"), col("digest")).as("k"), col("digest"),
          coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
          when(col("doc_id").isNull, "delete").otherwise("upsert").as("op"))
      val memberRows = net.select(
        concat(lit("m:"), col("digest"), lit(":"), col("doc_id")).as("k"),
        col("digest"), col("doc_id"), col("op"))
      // pinned: mergeVersionEq consumes its input three times (key
      // write, upsert probe, batch write) — without the pin each action
      // re-runs the touched-digest membership re-read and the survivor
      // re-aggregation
      val merged =
        memberRows.unionByName(survRows)
          .sortWithinPartitions("k").persist()
      try {
        preMergeCrashHook()
        Sources.mergeVersionEq(spark, storeTable, merged, Seq("k"),
          txn = Some(consumer -> newHw))
        ()
      } finally { merged.unpersist() }
    } finally { net.unpersist() }
  }
}
