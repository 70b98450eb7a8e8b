package graft.streaming

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A MATERIALIZED star-join view maintained off the base tables'
  * change feeds — the q04 shape (fact ⋈ dimension) as a first-class
  * graft table that is never recomputed from scratch:
  *
  *  - **fact appends** ([[maintainFactQuery]]): the view's delta for a
  *    fact commit is exactly `ΔF ⋈ D` (the [[graft.sources.Warehouse
  *    .incrementalJoinDelta]] rule with a quiescent dimension side) —
  *    the graft-cdf source hands the maintenance job ONLY the commit's
  *    changed files, the dimension head is broadcast, and the joined
  *    delta appends to the view through one versioned commit. The fact
  *    table's history is never re-scanned: per commit the work is
  *    O(Δfact), the property that makes a 100 TB fact maintainable.
  *  - **dimension updates** ([[maintainDimQuery]]): a dim-key change
  *    invalidates exactly the view rows carrying that key. The
  *    maintenance batch recomputes THOSE rows (view-side filtered read,
  *    re-joined to the new dim rows) and lands them through the
  *    file-granular keyed merge — fact table untouched, view rewrite
  *    bounded by affected files. Dim deletes drop their view rows.
  *
  * Every maintainer here is exactly-once through the `#txn` ledger
  * ([[Sources.appliedVersion]]): a drain drops the source versions the
  * view already records and records the highest one it applies in
  * the same view commit, so neither a crash after that commit nor a
  * restart on a fresh checkpoint re-applies an append or an additive
  * merge. The view is itself a graft table — time travel, stats, its
  * own CDF — so downstream consumers can chain. */
object MaterializedView {

  /** Create the view table: declared schema = fact ⋈ dim schema (fact
    * columns then non-key dim columns), empty v1, stats on the fact
    * key so dim-side merges stay file-granular on the fact key too. */
  def init(spark: SparkSession, factTable: String, dimTable: String,
      joinKey: String, factKey: String, viewTable: String): Unit = {
    val f = Sources.readVersion(spark, factTable)
    val d = Sources.readVersion(spark, dimTable)
    val schema = f.join(d, joinKey).schema
    Sources.createEmptyTable(viewTable, schema)
    Sources.writeTableProperties(viewTable,
      Map("stats.columns" -> s"$factKey,$joinKey",
        "mv.fact" -> factTable, "mv.dim" -> dimTable,
        "mv.joinKey" -> joinKey, "mv.factKey" -> factKey))
  }

  /** Tail the FACT table's change feed: each commit's inserted rows
    * join the dimension head (broadcast) and append to the view. The
    * fact side must be append-only (the star-schema fact contract);
    * a non-insert change fails loudly. */
  def maintainFactQuery(spark: SparkSession, factTable: String,
      dimTable: String, joinKey: String, viewTable: String,
      checkpoint: String): StreamingQuery =
    spark.readStream.format("graft-cdf").option("path", factTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("mv.fact", factTable)
        val fresh = FeedProbe.unapplied(batch, viewTable, consumer)
        // one driver action: emptiness probe + append-only guard + the
        // highest source version the commit applies
        val pr = fresh.agg(count(lit(1)).as("n"),
          sum(when(col("_change_type") =!= "insert", 1L).otherwise(0L))
            .as("bad"),
          max(col("_commit_version").cast("long")).as("hi")).head
        require(pr.getLong(0) == 0L || pr.getLong(1) == 0L,
          "materialized view: the fact feed must be append-only")
        val delta = fresh.drop("_change_type", "_commit_version")
        if (pr.getLong(0) > 0L) {
          val dim = broadcast(Sources.readVersion(spark, dimTable))
          Sources.commitVersion(delta.join(dim, joinKey), viewTable,
            txn = Some(consumer -> pr.getLong(2)))
          ()
        }
      }
      .start()

  /** Tail the DIMENSION table's change feed: each changed dim key's
    * view rows are recomputed and keyed-merged — upserts refresh the
    * dim attributes on the affected fact rows, dim deletes drop them.
    * Per batch the work is O(affected view rows), file-granular on the
    * view; the FACT table is never touched. */
  def maintainDimQuery(spark: SparkSession, dimTable: String,
      joinKey: String, factKey: String, viewTable: String,
      checkpoint: String): StreamingQuery =
    spark.readStream.format("graft-cdf").option("path", dimTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (feed: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("mv.dim", dimTable)
        val batch = FeedProbe.unapplied(feed, viewTable, consumer)
        // last change per dim key decides its outcome (CDF apply
        // rule). UNPINNED (r11 A/B): recomputing this batch-sized
        // netting window per consumer measured cheaper than a cache
        // build.
        val w = Window.partitionBy(joinKey)
          .orderBy(col("_commit_version").desc,
            when(col("_change_type") === "insert", 1).otherwise(0).desc)
        val last = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // one driver action: the count is the emptiness probe, the
        // max the ledger position the merge records
        val pr = last.agg(count(lit(1)),
          max(col("_commit_version").cast("long"))).head
        if (pr.getLong(0) > 0L) {
          val changedKeys = broadcast(
            last.select(joinKey).distinct())
          val upserted = broadcast(
            last.filter(col("_change_type") === "insert")
              .drop("_change_type", "_commit_version")
              .withColumn("__up", lit(1)))
          val view = Sources.readVersion(spark, viewTable)
          // affected view rows, re-joined to the NEW dim rows: rows
          // whose dim key was deleted find no match and become keyed
          // deletes; the rest refresh their dim attributes
          val dimValueCols = upserted.columns
            .filterNot(c => c == joinKey || c == "__up")
          val factCols = view.columns.filterNot(dimValueCols.contains)
          val affected = view.join(changedKeys, joinKey)
            .select(factCols.map(col).toIndexedSeq: _*)
          val refreshed = affected.join(upserted, Seq(joinKey), "left")
          // pinned: the emptiness probe and the merge's actions
          // would otherwise each re-run the view-side join
          val changes = refreshed
            .withColumn("op",
              when(col("__up").isNull, "delete").otherwise("upsert"))
            .select((view.columns.map(col) :+ col("op"))
              .toIndexedSeq: _*).persist()
          try {
            if (changes.agg(count(lit(1))).head.getLong(0) > 0L) {
              Sources.mergeVersion(spark, viewTable, changes, factKey,
                txn = Some(consumer -> pr.getLong(1)))
              ()
            }
          } finally { changes.unpersist() }
        }
      }
      .start()

  // ---- incremental AGGREGATE view ------------------------------------

  /** Create an aggregate view table over `baseTable`: one row per
    * `groupCol` value carrying `n_rows` (count) and `sum_val` (EXACT
    * decimal sum of `valueCol`). Decimal, not double, so incremental
    * add/subtract maintenance is bit-identical to a full recompute —
    * floating-point accumulation order could never be. */
  def initAgg(spark: SparkSession, baseTable: String, groupCol: String,
      valueCol: String, viewTable: String): Unit = {
    val base = Sources.readVersion(spark, baseTable)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      base.schema(groupCol),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_val",
        org.apache.spark.sql.types.DecimalType(28, 4), nullable = true)))
    Sources.createEmptyTable(viewTable, schema)
    Sources.writeTableProperties(viewTable,
      Map("stats.columns" -> groupCol,
        "mv.base" -> baseTable, "mv.groupCol" -> groupCol,
        "mv.valueCol" -> valueCol))
  }

  /** Tail the BASE table's change feed and maintain the GROUP BY view
    * incrementally: inserts contribute +1/+value, deletes −1/−value
    * (the feed emits a merge-on-read SQL DELETE/MERGE/UPDATE as
    * delete(old)+insert(new), so updates net out exactly), the touched
    * groups — and ONLY the touched groups — keyed-merge into the view,
    * groups counting down to zero leave. Per commit the work is
    * O(Δbase) + a file-granular merge bounded by touched groups: the
    * base table's history is NEVER re-aggregated, which at 100 TB is
    * the difference between a rollup costing megabytes and a full
    * table scan per refresh. Exactly-once via the `#txn` ledger, like
    * the star-join loops. */
  def maintainAggQuery(spark: SparkSession, baseTable: String,
      groupCol: String, valueCol: String, viewTable: String,
      checkpoint: String): StreamingQuery =
    spark.readStream.format("graft-cdf").option("path", baseTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (feed: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("mv.agg", baseTable)
        val batch = FeedProbe.unapplied(feed, viewTable, consumer)
        val sign = when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L))
        val dec = col(valueCol).cast("decimal(28,4)")
        // UNPINNED (r11 A/B, verdict item 1): each consumer — the
        // emptiness probe, the state join, and through it the merge's
        // key probe + rewrite — recomputes this CDC-batch-sized
        // aggregate off the feed. Pinning it measured 4-5x MORE task
        // time than the recompute (cache build overhead dwarfs a
        // small map-side agg); r09's unpinned form was faster too.
        val delta = batch
          .groupBy(groupCol)
          .agg(sum(sign).as("dn"),
            sum(sign * dec).cast("decimal(28,4)").as("ds"),
            max(col("_commit_version").cast("long")).as("__cv"))
        // one driver action: the count is the emptiness probe, the
        // max the ledger position the merge records
        val pr = delta.agg(count(lit(1)), max(col("__cv"))).head
        if (pr.getLong(0) > 0L) {
          // touched groups only — untouched view rows ride the
          // merge's carried files unread
          val cur = Sources.readVersion(spark, viewTable)
          val merged = delta.join(cur, Seq(groupCol), "left")
            .select(col(groupCol),
              (coalesce(col("n_rows"), lit(0L)) + col("dn"))
                .as("n_rows"),
              (coalesce(col("sum_val"), lit(BigDecimal(0))
                .cast("decimal(28,4)")) + coalesce(col("ds"),
                lit(BigDecimal(0)))).cast("decimal(28,4)")
                .as("sum_val"))
          val changes = merged.withColumn("op",
            when(col("n_rows") > 0, "upsert").otherwise("delete"))
          Sources.mergeVersion(spark, viewTable, changes, groupCol,
            txn = Some(consumer -> pr.getLong(1)))
          ()
        }
      }
      .start()

  // ---- incremental TOP-K view ----------------------------------------

  /** Per-group top-k view: the k highest rows of `baseTable` by
    * (`valueCol` desc, `keyCol` asc) per `groupCol` value, one view
    * row per (group, rank) slot keyed by the composite `gk`. The
    * k-deep generalization of [[initAggFull]]'s MIN/MAX: ranks are as
    * non-invertible as an argmin — evicting the current #1 must
    * promote #2 into its slot — so maintenance re-ranks the TOUCHED
    * groups from the base head and rewrites exactly their k slots
    * (absent ranks delete, so a shrinking group sheds stale slots). */
  def initTopK(spark: SparkSession, baseTable: String, groupCol: String,
      valueCol: String, keyCol: String, viewTable: String): Unit = {
    val base = Sources.readVersion(spark, baseTable)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("gk",
        org.apache.spark.sql.types.StringType, nullable = false),
      base.schema(groupCol),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      base.schema(keyCol),
      org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.DecimalType(28, 4), nullable = true)))
    Sources.createEmptyTable(viewTable, schema)
    Sources.writeTableProperties(viewTable,
      Map("stats.columns" -> "gk",
        "mv.base" -> baseTable, "mv.groupCol" -> groupCol,
        "mv.valueCol" -> valueCol, "mv.keyCol" -> keyCol))
    ()
  }

  /** Maintain the top-k view off the base change feed: per drained
    * commit, the touched groups re-rank against the base head (one
    * group-keyed semi-join read) and exactly k slots per touched
    * group merge — present ranks upsert, absent ranks delete. Work is
    * O(touched groups' rows + k·touched groups), never a history
    * rescan; untouched groups' slots ride the merge's carried files
    * unread. */
  def maintainTopKQuery(spark: SparkSession, baseTable: String,
      groupCol: String, valueCol: String, keyCol: String, k: Int,
      viewTable: String, checkpoint: String): StreamingQuery = {
    require(k > 0, "top-k needs k > 0")
    spark.readStream.format("graft-cdf").option("path", baseTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (feed: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("mv.topk", baseTable)
        val batch = FeedProbe.unapplied(feed, viewTable, consumer)
        // UNPINNED (r11 A/B): the touched set drives the emptiness
        // probe, the semi-join, and the slot cross join — each
        // recompute is a map-side distinct over the CDC batch,
        // measured cheaper than a cache build
        val touched = batch.groupBy(groupCol)
          .agg(max(col("_commit_version").cast("long")).as("__cv"))
        // one driver action: emptiness probe + null-group guard (a
        // null group would concat to a NULL gk, which mergeVersion
        // can never retire — the view would accumulate one copy
        // per touching batch) + the ledger position
        val pr = touched.agg(count(lit(1)).as("n"),
          sum(when(col(groupCol).isNull, 1L).otherwise(0L)).as("bad"),
          max(col("__cv")).as("hi"))
          .head
        if (pr.getLong(0) > 0L) {
          require(pr.getLong(1) == 0L,
            s"top-k view: null $groupCol in the change feed — a " +
              "keyed slot for the null group is not well-defined")
          val dec = col(valueCol).cast("decimal(28,4)")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(groupCol)
            .orderBy(dec.desc, col(keyCol).asc)
          val ranked = Sources.readVersion(spark, baseTable)
            .join(touched, Seq(groupCol), "left_semi")
            .withColumn("rank", row_number().over(w).cast("long"))
            .filter(col("rank") <= k)
            .select(col(groupCol), col("rank"), col(keyCol),
              dec.as("val"),
              // presence marker: a slot is live iff the re-rank
              // filled it — null-probing keyCol would misread a
              // ranked row whose KEY is legitimately null
              lit(true).as("__up"))
          // every touched group rewrites ALL k slots: a rank the
          // re-rank no longer fills (group shrank, or vanished
          // entirely) must leave the view
          val slots = touched.crossJoin(broadcast(
            spark.range(1, k + 1).select(col("id").as("rank"))))
          // pinned: mergeVersion's key probe and rewrite would
          // otherwise re-run the head re-rank per action
          val changes = slots
            .join(ranked, Seq(groupCol, "rank"), "left")
            .select(
              concat(col(groupCol).cast("string"), lit(":"),
                col("rank")).as("gk"),
              col(groupCol), col("rank"), col(keyCol), col("val"),
              when(col("__up").isNull, "delete").otherwise("upsert")
                .as("op")).persist()
          try Sources.mergeVersion(spark, viewTable, changes, "gk",
            txn = Some(consumer -> pr.getLong(2)))
          finally { changes.unpersist() }
          ()
        }
      }
      .start()
  }

  // ---- incremental exact DISTINCT-COUNT view -------------------------

  /** Per-group exact COUNT(DISTINCT value) view, maintained by
    * REFERENCE COUNTING: the view holds a refcount row per live
    * (group, value) pair (`p:` keys) and one distinct-count row per
    * group (`g:` keys). Distinct count is non-invertible from row
    * deltas alone (a value's departure only decrements the count if it
    * was the LAST occurrence) — but with pair refcounts it becomes
    * fully ADDITIVE: a batch's pair deltas reveal births (refcount
    * 0 → positive) and deaths (positive → 0), and the group count
    * adjusts by births − deaths. Unlike the MIN/MAX/top-k maintainers
    * this never re-reads the base at all: per drained commit the work
    * is O(touched pairs) against the view's own keyed state, one
    * atomic merge. */
  def initDistinct(spark: SparkSession, baseTable: String,
      groupCol: String, valueCol: String, viewTable: String): Unit = {
    val base = Sources.readVersion(spark, baseTable)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("gk",
        org.apache.spark.sql.types.StringType, nullable = false),
      base.schema(groupCol),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false)))
    Sources.createEmptyTable(viewTable, schema)
    Sources.writeTableProperties(viewTable,
      Map("stats.columns" -> "gk",
        "mv.base" -> baseTable, "mv.groupCol" -> groupCol,
        "mv.valueCol" -> valueCol))
    ()
  }

  /** The distinct-count rows of the view: (group, n_distinct). */
  def distinctCounts(spark: SparkSession, viewTable: String,
      groupCol: String): DataFrame =
    Sources.readVersion(spark, viewTable)
      .filter(col("gk").startsWith("g:"))
      .select(col(groupCol), col("n").as("n_distinct"))

  def maintainDistinctQuery(spark: SparkSession, baseTable: String,
      groupCol: String, valueCol: String, viewTable: String,
      checkpoint: String): StreamingQuery =
    spark.readStream.format("graft-cdf").option("path", baseTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (feed: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("mv.distinct", baseTable)
        val batch = FeedProbe.unapplied(feed, viewTable, consumer)
        val sign = when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L))
        // UNPINNED (r11 A/B): pair deltas feed the probe, the state
        // join, and the merge input — each recompute is a map-side
        // combinable aggregate over the CDC batch, measured cheaper
        // than a cache build
        val pairDelta = batch
          .groupBy(col(groupCol), col(valueCol).cast("string").as("__v"))
          .agg(sum(sign).as("dref"),
            max(col("_commit_version").cast("long")).as("__cv"))
        val delta = pairDelta.filter(col("dref") =!= 0L)
        // one driver action: emptiness probe + null-key guard + the
        // ledger position (over every pair, netted-away ones included:
        // their versions are applied too)
        val live = col("dref") =!= 0L
        val pr = pairDelta.agg(count(when(live, 1L)).as("n"),
          sum(when(live && (col(groupCol).isNull || col("__v").isNull),
            1L).otherwise(0L)).as("bad"),
          max(col("__cv")).as("hi")).head
        if (pr.getLong(0) > 0L) {
          require(pr.getLong(1) == 0L,
            s"distinct view: null $groupCol/$valueCol in the " +
              "change feed — a refcount key for null is not " +
              "well-defined")
          val pairKey = concat(lit("p:"),
            col(groupCol).cast("string"), lit(":"), col("__v"))
          val curPairs = Sources.readVersion(spark, viewTable)
            .filter(col("gk").startsWith("p:"))
            .select(col("gk"), col("n").as("cur"))
          // EAGER (Tuning.pinEager): the merge references the
          // refcounted pairs from two concurrent stages (group
          // delta + pair rows) — unmaterialized, each would redo
          // the state join
          val pairs = graft.Tuning.pinEager(delta
            .withColumn("gk", pairKey)
            .join(curPairs, Seq("gk"), "left")
            .select(col("gk"), col(groupCol), col("__v"),
              (coalesce(col("cur"), lit(0L)) + col("dref")).as("n"),
              // prior liveness rides the SAME state join — the
              // birth/death balance below needs no second pass
              // over the view's pair section
              when(coalesce(col("cur"), lit(0L)) > 0, 1L)
                .otherwise(0L).as("was_alive")), "mvchanges")
          try {
            // births/deaths: a pair's liveness (refcount > 0)
            // crossing zero in either direction moves the group's
            // distinct count by ±1
            val groupDelta = pairs
              .withColumn("birth",
                when(col("n") > 0, 1L).otherwise(0L))
              .withColumn("dd",
                col("birth") - col("was_alive"))
              .groupBy(groupCol)
              .agg(sum(col("dd")).as("dd"))
              // a group whose liveness balance nets to zero keeps
              // its row untouched (its pair rows still merge)
              .filter(col("dd") =!= 0L)
            val curGroups = Sources.readVersion(spark, viewTable)
              .filter(col("gk").startsWith("g:"))
              .select(col(groupCol).as("__g"), col("n").as("curg"))
            val groupRows = groupDelta
              .join(curGroups,
                col(groupCol) === col("__g"), "left")
              .select(
                concat(lit("g:"), col(groupCol).cast("string"))
                  .as("gk"),
                col(groupCol),
                (coalesce(col("curg"), lit(0L)) + col("dd")).as("n"))
            val pairRows = pairs.select(col("gk"), col(groupCol),
              col("n"))
            val changes = pairRows
              .unionByName(groupRows)
              .withColumn("op",
                when(col("n") > 0, "upsert").otherwise("delete"))
              .persist()
            try Sources.mergeVersion(spark, viewTable, changes, "gk",
              txn = Some(consumer -> pr.getLong(2)))
            finally { changes.unpersist() }
            ()
          } finally { pairs.unpersist() }
        }
      }
      .start()

  // ---- incremental aggregate view with NON-INVERTIBLE aggregates -----

  /** Like [[initAgg]] but the view also carries `min_val`/`max_val` —
    * the aggregates an additive maintainer CANNOT keep: when the row
    * holding a group's minimum leaves, nothing can be "subtracted",
    * the group must be re-read. Values live as DECIMAL(28,4) (the
    * per-row cast both engines agree on), so the view is oracle-exact
    * like the additive one. */
  def initAggFull(spark: SparkSession, baseTable: String, groupCol: String,
      valueCol: String, viewTable: String): Unit = {
    val base = Sources.readVersion(spark, baseTable)
    val dec = org.apache.spark.sql.types.DecimalType(28, 4)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      base.schema(groupCol),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_val", dec, nullable = true),
      org.apache.spark.sql.types.StructField("min_val", dec, nullable = true),
      org.apache.spark.sql.types.StructField("max_val", dec, nullable = true)))
    Sources.createEmptyTable(viewTable, schema)
    Sources.writeTableProperties(viewTable,
      Map("stats.columns" -> groupCol,
        "mv.base" -> baseTable, "mv.groupCol" -> groupCol,
        "mv.valueCol" -> valueCol))
    ()
  }

  /** [[maintainAggQuery]] extended with MIN/MAX maintenance: counts
    * and sums stay additive off the feed's signed deltas, while
    * min/max re-aggregate ONLY the touched groups against the base
    * table's head — the touched-group re-read pattern
    * ([[DedupStore]]'s survivor promotion, with the base table itself
    * as the membership). Per drained commit that is O(touched groups'
    * rows) read through a groupCol semi-join (stats/layout-prunable on
    * a group-clustered base), never a history rescan: at 100 TB the
    * difference between refreshing a rollup and recomputing it.
    *
    * Mid-drain, a group's min/max reflect the base HEAD while its
    * count reflects the drained prefix — transient by construction
    * (AvailableNow drains to head, and a group's last touching batch
    * re-reads its final state), and the ENDPOINT is exact, which is
    * what the q247 hash gate proves. */
  def maintainAggFullQuery(spark: SparkSession, baseTable: String,
      groupCol: String, valueCol: String, viewTable: String,
      checkpoint: String): StreamingQuery =
    spark.readStream.format("graft-cdf").option("path", baseTable).load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (feed: DataFrame, _: Long) =>
        val consumer = Sources.txnConsumer("mv.aggfull", baseTable)
        val batch = FeedProbe.unapplied(feed, viewTable, consumer)
        val sign = when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L))
        val dec = col(valueCol).cast("decimal(28,4)")
        // UNPINNED (r11 A/B): the delta feeds the emptiness probe,
        // the head semi-join, and the merge input — each recompute
        // is a map-side combinable aggregate over the CDC batch,
        // measured cheaper than a cache build
        val delta = batch
          .groupBy(groupCol)
          .agg(sum(sign).as("dn"),
            sum(sign * dec).cast("decimal(28,4)").as("ds"),
            max(col("_commit_version").cast("long")).as("__cv"))
        // one driver action: emptiness probe + null-group guard (a
        // null group can never be retired by the keyed merge — it
        // would accumulate one row per touching batch) + the ledger
        // position
        val pr = delta.agg(count(lit(1)).as("n"),
          sum(when(col(groupCol).isNull, 1L).otherwise(0L)).as("bad"),
          max(col("__cv")).as("hi"))
          .head
        if (pr.getLong(0) > 0L) {
          require(pr.getLong(1) == 0L,
            s"aggregate view: null $groupCol in the change feed — " +
              "a keyed rollup row for the null group is not " +
              "well-defined")
          val cur = Sources.readVersion(spark, viewTable)
          // the non-invertible half: touched groups re-read at head
          val headMm = Sources.readVersion(spark, baseTable)
            .join(delta.select(groupCol), Seq(groupCol), "left_semi")
            .groupBy(groupCol)
            .agg(min(dec).as("min_val"), max(dec).as("max_val"))
          val changes = delta
            .join(cur, Seq(groupCol), "left")
            .select(col(groupCol),
              (coalesce(col("n_rows"), lit(0L)) + col("dn"))
                .as("n_rows"),
              (coalesce(col("sum_val"), lit(BigDecimal(0))
                .cast("decimal(28,4)")) + coalesce(col("ds"),
                lit(BigDecimal(0)))).cast("decimal(28,4)")
                .as("sum_val"))
            .join(headMm, Seq(groupCol), "left")
            .withColumn("op",
              when(col("n_rows") > 0, "upsert").otherwise("delete"))
            .persist()
          try Sources.mergeVersion(spark, viewTable, changes, groupCol,
            txn = Some(consumer -> pr.getLong(2)))
          finally { changes.unpersist() }
          ()
        }
      }
      .start()
}
