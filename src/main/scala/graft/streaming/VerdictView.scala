package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.sources.Sources

/** The INCREMENTAL DEDUP-VERDICT VIEW: q68's keep/drop rule (inside
  * each duplicate cluster keep exactly one doc — most tokens, min
  * doc_id on ties) maintained off the [[ClusterView]]'s OWN change
  * feed. This is the last link of the fully-incremental dedup chain
  * — documents → LSH index ([[NearDupStore]]) → components
  * ([[ClusterView]]) → per-doc verdicts — and the table a training
  * pipeline actually consumes.
  *
  * The keeper is an argmax, as non-invertible as the MIN/MAX views
  * ([[MaterializedView]]), so per drained range the TOUCHED clusters
  * re-pick their keeper: touched = every cluster id appearing in the
  * range's assignment changes — delete rows carry the OLD cluster,
  * insert rows the NEW one, so both sides of a doc's move re-verdict.
  * Token counts come from a doc-keyed semi-join against the source
  * table's head — O(touched clusters' members), never a corpus scan.
  *
  * Text edits propagate without a direct source subscription: a
  * re-texted doc re-lands its pairs in the near-dup store (upserted
  * docs always do), the cluster view re-solves its component and
  * re-upserts the assignment rows, and those view changes put the
  * doc's cluster in this maintainer's touched set — where the fresh
  * token count is re-read. One table, one atomic merge carrying the
  * range's `#txn` ledger position: the family's crash contract.
  */
object VerdictView {

  /** Test seam: fires immediately before the single atomic merge. */
  private[graft] var preMergeCrashHook: () => Unit = () => ()

  def init(verdictTable: String): Unit =
    if (Sources.latestVersion(verdictTable) == 0) {
      Sources.createEmptyTable(verdictTable, StructType(Seq(
        StructField("k", StringType, nullable = false),
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("kp", LongType, nullable = false))))
      Sources.writeTableProperties(verdictTable, Map(
        "stats.columns" -> "k,a,b",
        "bloom.columns" -> "a,b",
        "layout.range" -> "k"))
      ()
    }

  /** The product view: q68's shape — (doc_id, cluster_id, n_tokens,
    * keep) for every clustered doc. */
  def verdicts(spark: SparkSession, verdictTable: String): DataFrame =
    Sources.readVersion(spark, verdictTable)
      .filter(col("k").startsWith("v:"))
      .select(col("a").as("doc_id"), col("b").as("cluster_id"),
        col("n").as("n_tokens"), (col("kp") === 1L).as("keep"))

  /** q68's quality signal — whitespace-token count — over any
    * doc_id+text relation. ONE definition shared with the oracle. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"))

  /** Tail the CLUSTER VIEW's change feed and keep the verdicts
    * current; `srcTable` supplies token counts at head. */
  def maintainQuery(spark: SparkSession, srcTable: String,
      clusterTable: String, verdictTable: String,
      checkpoint: String): StreamingQuery = {
    init(verdictTable)
    spark.readStream.format("graft-cdf").option("path", clusterTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, srcTable, clusterTable, verdictTable,
          Sources.txnConsumer("verdict", clusterTable), batch)
      }
      .start()
  }

  private def applyBatch(spark: SparkSession, srcTable: String,
      clusterTable: String, verdictTable: String, consumer: String,
      batch: DataFrame): Unit = {
    val fresh = FeedProbe.unapplied(batch, verdictTable, consumer).persist()
    try {
      // one driver action ([[FeedProbe.probeSection]], the contract
      // shared with ClusterView): emptiness, high water, and the
      // assignment-section count (none -> the verdicts do not change
      // and nothing commits)
      val newHw = FeedProbe.probeSection(fresh, "c:") match {
        case Some(hw) => hw
        case None => return
      }
      // every cluster id the range mentions — deletes carry the OLD
      // assignment, inserts the NEW, so a doc's move touches both.
      // No distinct: touched is only ever the RIGHT side of semi
      // joins, where duplicates cannot change the output (guide §2.4)
      val touched = fresh.filter(col("k").startsWith("c:"))
        .select(col("b").as("cluster_id"))
      val members = ClusterView.assignments(spark, clusterTable)
        .join(touched, Seq("cluster_id"), "left_semi")
      val lens = tokenCount(
        Sources.readVersion(spark, srcTable)
          .join(members.select("doc_id"), Seq("doc_id"), "left_semi"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      // pinned: the re-verdict feeds the stale anti-join AND the merge
      // (which reads its input once for keys, once for upserts)
      // EAGER: the merge references the re-verdict from two concurrent
      // stages (its own union branch + the stale anti-join) — see
      // [[graft.Tuning.pinEager]]
      val fresh2 = graft.Tuning.pinEager(members.join(lens, Seq("doc_id"))
        .withColumn("kp",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .select(concat(lit("v:"), col("doc_id")).as("k"),
          col("doc_id").as("a"), col("cluster_id").as("b"),
          col("n_tokens").as("n"), col("kp"),
          lit("upsert").as("op")), "chainmerged")
      try {
        // verdicts of docs that LEFT the touched clusters (and were
        // not re-seated anywhere) retire
        val stale = Sources.readVersion(spark, verdictTable)
          .filter(col("k").startsWith("v:"))
          .join(touched.withColumnRenamed("cluster_id", "b"),
            Seq("b"), "left_semi")
          .join(fresh2.select("k"), Seq("k"), "left_anti")
          .select(col("k"), col("a"), col("b"), col("n"), col("kp"),
            lit("delete").as("op"))
        // pinned: mergeVersionEq consumes its input per action (key
        // write, batch write) — without the pin each one re-runs the
        // stale anti-join and the view scan behind it
        val merged = fresh2.unionByName(stale)
          .sortWithinPartitions("k").persist()
        try {
          preMergeCrashHook()
          Sources.mergeVersionEq(spark, verdictTable, merged, Seq("k"),
            txn = Some(consumer -> newHw))
          ()
        } finally { merged.unpersist() }
      } finally { fresh2.unpersist() }
    } finally { fresh.unpersist() }
  }
}
