package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared per-drain feed probes of the change-feed maintainers:
  * the ledger filter every one of them applies first, and the
  * one-driver-action probes of the doc-keyed stores ([[DedupStore]],
  * [[NearDupStore]]) and the derived views ([[ClusterView]],
  * [[VerdictView]]). The store probe also runs the doc_id-uniqueness
  * guard (a doc_id committed twice in one version is ambiguous under
  * replay — keyed state cannot tell "second copy inserted" from "same
  * copy replayed" — so ingestion fails loudly). One definition keeps
  * the maintainers' replay contracts in lockstep.
  */
private[graft] object FeedProbe {

  /** The feed rows `table` has not applied yet: source versions above
    * `consumer`'s `#txn` entry ([[graft.sources.Sources.appliedVersion]],
    * a manifest read — no Spark job). A replayed batch, a crash after
    * the commit and a fresh checkpoint's full replay all filter down to
    * exactly the unapplied suffix. */
  def unapplied(batch: DataFrame, table: String,
      consumer: String): DataFrame = {
    val applied = graft.sources.Sources.appliedVersion(table, consumer)
    batch.filter(col("_commit_version").cast("long") > applied)
  }

  /** ONE driver action over a ledger-filtered view feed: Some(new high
    * water) when the range carries rows of the maintainer's key
    * section, None when it is empty or changes nothing in the view. */
  def probeSection(fresh: DataFrame,
      sectionPrefix: String): Option[Long] = {
    val a = fresh.agg(max(col("_commit_version").cast("long")).as("hw"),
      sum(when(col("k").startsWith(sectionPrefix), 1L).otherwise(0L))
        .as("ns")).head
    if (a.isNullAt(1) || a.getLong(1) == 0L) None else Some(a.getLong(0))
  }

  /** Returns None when the range carries no changes; otherwise
    * Some(newHw). `who` names the store in the guard's error. */
  def probe(fresh: DataFrame, who: String): Option[Long] = {
    val agg = fresh
      .groupBy(col("_commit_version").cast("long").as("v"), col("doc_id"),
        (col("_change_type") === "insert").as("ins"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(when(col("ins"), col("n")).otherwise(0L)).as("insRows"),
        sum(when(!col("ins"), col("n")).otherwise(0L)).as("delRows"),
        max(when(col("ins"), col("n"))).as("dupes"),
        max(col("v")).as("hw")).head
    val insRows = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val delRows = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    if (insRows == 0L && delRows == 0L) return None
    require(agg.isNullAt(2) || agg.getLong(2) == 1L,
      s"$who source committed the same doc_id twice in one version — " +
        "live doc_ids must be unique")
    Some(agg.getLong(3))
  }
}
