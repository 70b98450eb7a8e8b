package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.operators.DedupOps
import graft.sources.Sources

/** The INCREMENTAL DUPLICATE-CLUSTER VIEW: connected components over
  * the near-dup graph, maintained off the [[NearDupStore]]'s OWN
  * change feed — a derived-of-derived chain (documents → LSH index →
  * cluster assignment) in which every link is incremental.
  *
  * Graph maintenance is the non-invertible-aggregate problem in its
  * hardest costume: a new edge can MERGE two components (monotone — a
  * union-find could absorb it), but a deleted edge can SPLIT one, and
  * no per-edge bookkeeping can answer "is the component still
  * connected without it" locally. The store therefore generalizes the
  * MIN/MAX-view strategy ([[MaterializedView]] q247) from groups to
  * components: per drained batch it re-runs connected components over
  * ONLY the affected components' subgraph.
  *
  * The subgraph is CLOSED by construction: a live edge incident to a
  * member doc has its other endpoint in the member set too — either
  * the edge predates the batch (then both endpoints shared a component,
  * so the old assignment pulls the partner in) or it arrived in the
  * batch (then the partner is a touched endpoint). So collecting
  * (touched endpoints) ∪ (docs assigned to touched endpoints' roots)
  * and the live edges on them is a complete, bounded re-solve — never
  * the whole graph.
  *
  * Edges are the store's VERIFIED pairs at estimated Jaccard ≥
  * [[EdgeThreshold]] (the verify step a production LSH pipeline runs
  * before clustering); a pair re-estimated below the bar is an edge
  * DELETION even though the pair row itself was upserted.
  *
  * One table, one merge ([[DedupStore]]'s contract): assignment rows
  * (`c:<doc>` → component root = min member id) land in a single
  * atomic [[Sources.mergeVersionEq]] that also records the range's
  * `#txn` ledger position; a crash before it leaves the view bitwise
  * untouched and the store range replays verbatim. A range with no
  * pair changes commits nothing.
  */
object ClusterView {

  /** Minimum estimated Jaccard for a verified pair to count as an edge. */
  val EdgeThreshold = 0.5

  /** Test seam: fires immediately before the single atomic merge. */
  private[graft] var preMergeCrashHook: () => Unit = () => ()

  def init(viewTable: String): Unit =
    if (Sources.latestVersion(viewTable) == 0) {
      Sources.createEmptyTable(viewTable, StructType(Seq(
        StructField("k", StringType, nullable = false),
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))))
      Sources.writeTableProperties(viewTable, Map(
        "stats.columns" -> "k,a,b",
        "bloom.columns" -> "a,b",
        "layout.range" -> "k"))
      ()
    }

  /** The product view: q66's shape — (doc_id, cluster_id, csize) for
    * every doc in at least one ≥-threshold near-dup pair. The size
    * aggregation runs over the clustered docs only (the view), never
    * the corpus. */
  def clusters(spark: SparkSession, viewTable: String): DataFrame = {
    val asg = assignments(spark, viewTable)
    asg.join(asg.groupBy("cluster_id").agg(count(lit(1)).as("csize")),
      Seq("cluster_id"))
      .select("doc_id", "cluster_id", "csize")
  }

  /** Raw assignment rows: (doc_id, cluster_id). */
  def assignments(spark: SparkSession, viewTable: String): DataFrame =
    Sources.readVersion(spark, viewTable)
      .filter(col("k").startsWith("c:"))
      .select(col("a").as("doc_id"), col("b").as("cluster_id"))

  /** Tail the NEAR-DUP STORE's change feed and keep the clusters
    * current. `storeTable` is read twice per batch: its feed supplies
    * the edge delta, its head version the affected subgraph's live
    * edges. */
  def maintainQuery(spark: SparkSession, storeTable: String,
      viewTable: String, checkpoint: String): StreamingQuery = {
    init(viewTable)
    spark.readStream.format("graft-cdf").option("path", storeTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, storeTable, viewTable,
          Sources.txnConsumer("cluster", storeTable), batch)
      }
      .start()
  }

  private def applyBatch(spark: SparkSession, storeTable: String,
      viewTable: String, consumer: String, batch: DataFrame): Unit = {
    // only the pair section of the store feeds the graph; the store's
    // signature/band keys are not edges
    val fresh = FeedProbe.unapplied(batch, viewTable, consumer).persist()
    try {
      // one driver action ([[FeedProbe.probeSection]], the contract
      // shared with VerdictView): emptiness, high water, and the
      // pair-section count (no p: rows -> the range changes no edge,
      // and the view commits nothing)
      val newHw = FeedProbe.probeSection(fresh, "p:") match {
        case Some(hw) => hw
        case None => return
      }
      // net edge outcome per pair key: LAST change wins, insert
      // preferred within a version; a surviving pair below the
      // threshold is an edge DELETION, not an edge
      val w = Window.partitionBy("k")
        .orderBy(col("_commit_version").cast("long").desc,
          when(col("_change_type") === "insert", 1).otherwise(0).desc)
      val edgeDelta = fresh
        .filter(col("k").startsWith("p:"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("a"), col("b"),
          when(col("_change_type") === "insert" &&
            col("e") >= EdgeThreshold, "upsert")
            .otherwise("delete").as("op"))
      // EAGER: referenced by both endpoint projections and the member
      // assembly's concurrent stages (Tuning.pinEager scaladoc)
      val edgeDeltaP = graft.Tuning.pinEager(edgeDelta, "chainfresh")
      try applyEdgeDelta(spark, storeTable, viewTable, edgeDeltaP,
        consumer -> newHw)
      finally { edgeDeltaP.unpersist() }
    } finally { fresh.unpersist() }
  }

  private def applyEdgeDelta(spark: SparkSession, storeTable: String,
      viewTable: String, edgeDelta: DataFrame,
      txn: (String, Long)): Unit = {
    // no distinct: touched feeds a semi-join right side (duplicates
    // can't change it) and the members union, which ends in its own
    // distinct — deduping here was a pure extra exchange (guide §2.4)
    val touched = edgeDelta.select(col("a").as("doc_id"))
      .unionByName(edgeDelta.select(col("b").as("doc_id")))
    val asg = assignments(spark, viewTable)
    // affected components: every root any touched doc is assigned to.
    // No distinct — affRoots is only ever the RIGHT side of a semi
    // join, where duplicate values cannot change the output; deduping
    // it first was a pure extra exchange (guide §2.4)
    val affRoots = asg
      .join(touched, Seq("doc_id"), "left_semi")
      .select(col("cluster_id"))
    // EAGER: the subgraph edge filter semi-joins members on BOTH pair
    // endpoints — two concurrent broadcast stages that would each
    // recompute the assignment scan unmaterialized
    val members = graft.Tuning.pinEager(asg
      .join(affRoots, Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
      .unionByName(touched)
      .distinct(), "chainmerged")
    try {
      // live ≥-threshold edges of the affected subgraph, read from the
      // store's HEAD. For the drained range the closure argument in
      // the scaladoc makes the a-side semi-join complete; the b-side
      // semi additionally excludes edges from store commits BEYOND the
      // drained range (head ahead of the feed), whose endpoints are
      // not members yet — those edges re-enter as touched deltas when
      // their own range drains, so the fully-drained view is exact
      val subEdges = NearDupStore.pairs(spark, storeTable)
        .filter(col("est_jaccard") >= EdgeThreshold)
        .join(members.withColumnRenamed("doc_id", "a_doc"),
          Seq("a_doc"), "left_semi")
        .join(members.withColumnRenamed("doc_id", "b_doc"),
          Seq("b_doc"), "left_semi")
      val labels = DedupOps.connectedComponents(subEdges)
        .select(col("n").as("doc_id"), col("l").as("cluster_id"))
      // members that kept at least one edge re-assign; the rest leave
      // the view (their c-rows delete)
      val rows = members
        .join(labels, Seq("doc_id"), "left")
        .select(concat(lit("c:"), col("doc_id")).as("k"),
          col("doc_id").as("a"),
          coalesce(col("cluster_id"), lit(-1L)).as("b"),
          when(col("cluster_id").isNull, "delete").otherwise("upsert")
            .as("op"))
      // pinned: mergeVersionEq consumes its input per action (key
      // write, batch write) — without the pin each one re-runs the
      // view-assignment scan, the subgraph semi-joins, and (past the
      // driver fast path's edge bound) the whole component re-solve
      val merged = rows.sortWithinPartitions("k").persist()
      try {
        preMergeCrashHook()
        Sources.mergeVersionEq(spark, viewTable, merged, Seq("k"),
          txn = Some(txn))
        ()
      } finally { merged.unpersist() }
    } finally { members.unpersist() }
  }
}
