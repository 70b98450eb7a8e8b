package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** RESUMABLE CHUNKED BACKFILL: run a keyed transform over a huge table
  * in bounded id-range chunks, committing each chunk's output together
  * with a chunk-ledger row in ONE atomic keyed merge — so a backfill
  * over 100 TB survives any crash and resumes exactly where it stopped,
  * never redoing a finished chunk and never double-applying a torn one.
  *
  * Why this exists: streaming maintenance ([[graft.streaming.DedupStore]],
  * `TextIndex.maintainQuery`) keeps derived state current going FORWARD,
  * but bootstrapping that state — or running a one-off corpus-wide pass
  * (re-tokenize everything, re-score quality, re-embed) — is a batch
  * job too big for one action at 100 TB: a single failure hour N of M
  * would restart from zero. The standard operational answer is chunked
  * progress with durable bookkeeping; this is that primitive, with the
  * bookkeeping made CRASH-ATOMIC by riding the output table's own merge
  * (a chunk either landed with its ledger row or neither exists).
  *
  * Contract: `work` maps a source slice to output rows carrying a
  * unique string key column `k` that never starts with `#` (the ledger
  * prefix). Redoing a chunk is idempotent by construction (same keys →
  * same eq-merge), which is exactly what makes the crash window between
  * "work ran" and "merge committed" safe.
  *
  * 100 TB shape: each chunk reads one contiguous id range — on an
  * id-clustered layout (`layout.range`, the norm for every table this
  * engine writes) that is a file-pruned scan, not a corpus scan — and
  * writes one bounded merge. Progress state is O(chunks), read once per
  * run.
  */
object Backfill {

  private val ChunkKey = "#c:"

  /** Test seam: fires with the chunk index immediately before that
    * chunk's atomic merge. */
  private[graft] var preMergeCrashHook: Long => Unit = _ => ()

  /** Chunk indices already applied to `outTable`. */
  def appliedChunks(spark: SparkSession, outTable: String): Set[Long] =
    if (Sources.latestVersion(outTable) == 0) Set.empty
    else Sources.readVersion(spark, outTable)
      .filter(col("k").startsWith(ChunkKey))
      .select(substring(col("k"), ChunkKey.length + 1, 20)
        .cast("long").as("c"))
      .na.drop() // a malformed ledger key must not NPE the resume scan
      .collect().map(_.getLong(0)).toSet

  /** The backfilled output: every non-ledger row. */
  def result(spark: SparkSession, outTable: String): DataFrame =
    Sources.readVersion(spark, outTable)
      .filter(!col("k").startsWith(lit("#")))

  /** Run `work` over `[floor(min/chunkSize) .. floor(max/chunkSize)]`
    * chunks of `srcTable` by `idCol`, skipping chunks already in the
    * ledger. Returns the number of chunks applied THIS run. */
  def run(spark: SparkSession, srcTable: String, outTable: String,
      idCol: String, chunkSize: Long,
      work: DataFrame => DataFrame): Int = {
    require(chunkSize > 0, "chunkSize must be positive")
    val src = Sources.readVersion(spark, srcTable)
    val mm = src.agg(min(col(idCol)).cast("long"),
      max(col(idCol)).cast("long")).head
    if (mm.isNullAt(0)) return 0
    val cLo = Math.floorDiv(mm.getLong(0), chunkSize)
    val cHi = Math.floorDiv(mm.getLong(1), chunkSize)
    // BigInt: cHi - cLo itself overflows for an id range spanning the
    // whole long domain, which would slip past a plain long compare
    require(BigInt(cHi) - BigInt(cLo) < 1000000,
      s"$idCol spans ${BigInt(cHi) - BigInt(cLo) + 1} chunks of " +
        s"$chunkSize — the id space is too sparse for this chunk " +
        "size; widen chunkSize")
    val outSchema = {
      val s = work(src.limit(0)).schema
      require(s.fieldNames.contains("k") &&
        s("k").dataType == org.apache.spark.sql.types.StringType,
        "backfill work must emit a string key column 'k'")
      StructType(s.fields.map(_.copy(nullable = true)))
    }
    if (Sources.latestVersion(outTable) == 0) {
      Sources.createEmptyTable(outTable, outSchema)
      Sources.writeTableProperties(outTable, Map(
        "stats.columns" -> "k", "layout.range" -> "k"))
    }
    val done = appliedChunks(spark, outTable)
    var applied = 0
    var c = cLo
    while (c <= cHi) {
      if (!done.contains(c)) {
        // upper bound: for c < cHi, (c+1)*chunkSize <= cHi*chunkSize <=
        // max id, so the multiply cannot overflow; the TOP chunk is
        // closed on the observed max instead — (cHi+1)*chunkSize CAN
        // wrap negative (ids near Long.MaxValue), which would silently
        // select zero rows and still ledger the chunk as done
        val slice =
          if (c == cHi)
            src.filter(col(idCol).cast("long") >= c * chunkSize &&
              col(idCol).cast("long") <= mm.getLong(1))
          else
            src.filter(col(idCol).cast("long") >= c * chunkSize &&
              col(idCol).cast("long") < (c + 1) * chunkSize)
        val out = work(slice).withColumn("op", lit("upsert"))
        require(out.filter(col("k").startsWith(lit("#"))).isEmpty,
          s"backfill work emitted a '#'-prefixed key — that prefix is " +
            "reserved for the chunk ledger")
        val ledger = spark.range(1).select(
          lit(s"$ChunkKey$c").as("k") +:
            outSchema.fields.filter(_.name != "k").map(f =>
              lit(null).cast(f.dataType).as(f.name)).toSeq :+
            lit("upsert").as("op"): _*)
        preMergeCrashHook(c)
        Sources.mergeVersionEq(spark, outTable,
          out.unionByName(ledger).sortWithinPartitions("k"), Seq("k"))
        applied += 1
      }
      c += 1
    }
    applied
  }
}
