package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL MERGE / UPDATE / DELETE as DELTA-BASED row-level operations
  * (`SupportsDelta`) — MERGE-ON-READ through pure SQL.
  *
  * The group-based form this replaces rewrote the WHOLE table for every
  * MERGE/UPDATE (copy-on-write at table granularity): correct, but at
  * 100 TB a 1000-row CDC merge would rewrite 100 TB. The delta form
  * commits O(changed rows):
  *
  *  - the target scan is the catalog's [[GraftNativeScan]] at the base
  *    version: every live row PLUS its physical identity — `_gfile`
  *    (manifest path) and `_gpos` (parquet row index, from the reader's
  *    own row-index machinery, so positions stay exact even under
  *    row-group pruning) — with existing deletion vectors and pending
  *    eq deletes applied inline (deleted rows are not match candidates,
  *    their positions stay occupied), and the statement's conjuncts
  *    pruning files by partition, bucket and stats/bloom;
  *  - Spark's WriteDelta feeds matched rows back as (operation, id,
  *    row): DELETEs become DV position marks, INSERTs stream through
  *    the same executor-side parquet writer the streaming sink uses,
  *    UPDATEs are both;
  *  - the driver commit is ONE conflict-detecting manifest publish:
  *    every base file carried byte-identical, the appended batch, and
  *    the merged DV sidecar. `purgeDv` / compaction absorb the marks
  *    later, exactly as for API-side [[Sources.mergeVersionDv]].
  *
  * Row identity is (file, position) — Iceberg's `_file`/`_pos` delta
  * contract. On PARTITIONED/BUCKETED tables only SQL DELETE works: its
  * delta plans no row columns, and marks are layout-blind. UPDATE and
  * every MERGE — even one whose only action deletes, since Spark plans
  * a MERGE's write with the row columns — refuse at planning time
  * (executor writers emit flat files, which would corrupt the
  * directory layout the read stacks key on) with the API alternative
  * named. */
private[sources] class GraftDeltaOperation(spark: SparkSession,
    table: String, graftTable: GraftTable,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  private val basedOn = graftTable.pinned

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    // lineage tables carry the stable id THROUGH the operation: the
    // scan serves it per row, the writer materializes it into the
    // reinserted row — SQL UPDATE/MERGE-matched rows keep their
    // identity (Iceberg v3's carry-over contract), so the lineage
    // change feed pairs them as update pre/post images
    if (RowIds.enabled(table))
      Array(Expressions.column("_gfile"), Expressions.column("_gpos"),
        Expressions.column(RowIds.COL))
    else
      Array(Expressions.column("_gfile"), Expressions.column("_gpos"))

  // the target scan is the catalog's native scan at the base version:
  // `_gfile`/`_gpos` (and `_row_id`) served reader-side, DV-marked and
  // eq-retired rows dropped inside the read (never match candidates), and
  // the statement's pushed conjuncts prune partitions, buckets and
  // files by stats/bloom before a task is planned
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftNativeScanBuilder(spark, table, basedOn, graftTable.schema,
      Sources.bucketSpecOf(table))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    // the insert schema is known HERE, at planning time: a statement
    // that plans row columns (UPDATE, any MERGE) refuses on a
    // partitioned/bucketed layout before any executor writes a byte
    // (the commit-time guard stays as the backstop). A SQL DELETE plans
    // no row columns and is layout-blind — it proceeds on any table.
    if (info.schema().fields.nonEmpty &&
        (Sources.partitionColumnsOf(table).nonEmpty ||
          Sources.bucketSpecOf(table).nonEmpty ||
          Sources.partTransformOf(table).nonEmpty))
      throw new UnsupportedOperationException(
        "MERGE INTO/UPDATE inserting rows into a PARTITIONED/BUCKETED " +
          "graft table is not supported — use Sources.mergeVersionDv " +
          "(layout-aware keyed merge-on-read) or DELETE + INSERT")
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, table, info.schema(), basedOn,
          lineage = RowIds.enabled(table))
    }
  }

  override def description(): String = s"graft-delta[$cmd] $table@v$basedOn"
}

// ---- the delta write: DV marks + appended batch, one OCC publish ----

private[sources] class GraftDeltaWrite(spark: SparkSession, table: String,
    rowSchema: StructType, basedOn: Int,
    lineage: Boolean = false) extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(spark, table, rowSchema, basedOn, lineage)
}

private[sources] case class GraftDeltaMessage(written: GraftWriteMessage,
    dv: Map[String, Array[Byte]]) extends WriterCommitMessage

private[sources] class GraftDeltaBatchWrite(spark: SparkSession,
    table: String, rowSchema: StructType, basedOn: Int,
    lineage: Boolean = false)
  extends DeltaBatchWrite {

  private val batchDir = java.nio.file.Paths.get(table, "data",
    s"batch-delta-${java.util.UUID.randomUUID().toString.take(12)}")
  // the appended files' sidecar lines ride their writers; base files
  // carry theirs
  private val cover = Sources.sidecarCover(table, basedOn)
  private var spec: FileStatsSpec = _

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    // a delete-only delta (DELETE command) plans no row columns — no
    // parquet writer machinery is prepared and no batch dir appears
    val inner = if (rowSchema.fields.nonEmpty) {
      java.nio.file.Files.createDirectories(batchDir)
      // lineage: the written file carries a physical `_row_id` —
      // UPDATE-reinserted rows keep the id the scan served, brand-new
      // inserts carry NULL and draw from the file's range at read time
      val writeSchema =
        if (!lineage) rowSchema
        else StructType(rowSchema.fields :+
          StructField(RowIds.COL, LongType, nullable = true))
      spec = GraftDataWriterFactory.statsSpec(spark, writeSchema, cover)
      Some(GraftDataWriterFactory(spark, batchDir.toString, writeSchema,
        spec))
    } else None
    new GraftDeltaWriterFactory(inner, lineage)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaMessage => m }
    val newFiles = msgs.flatMap(_.written.files).toSeq.sorted
    val deletes = scala.collection.mutable.Map.empty[String, java.util.BitSet]
    msgs.foreach(_.dv.foreach { case (f, bytes) =>
      val b = java.util.BitSet.valueOf(bytes)
      deletes.get(f) match {
        case Some(acc) => acc.or(b)
        case None => deletes(f) = b
      }
    })
    if (newFiles.isEmpty && deletes.isEmpty) {
      // provable no-op (nothing matched): no commit, no empty version
      Sources.deleteTree(batchDir)
      return
    }
    // executor writers emit flat files — publishing them into a
    // hive-partitioned/bucketed layout would corrupt both read stacks,
    // so refuse BEFORE the manifest swap (delete-only deltas are
    // layout-blind and proceed on any table)
    if (newFiles.nonEmpty &&
        (Sources.partitionColumnsOf(table).nonEmpty ||
          Sources.bucketSpecOf(table).nonEmpty ||
          Sources.partTransformOf(table).nonEmpty)) {
      Sources.deleteTree(batchDir)
      throw new UnsupportedOperationException(
        "MERGE INTO/UPDATE inserting rows into a PARTITIONED/BUCKETED " +
          "graft table is not supported — use Sources.mergeVersionDv " +
          "(layout-aware keyed merge-on-read) or DELETE + INSERT")
    }
    try Sources.commitDelta(table, basedOn, deletes.toMap, newFiles,
      GraftWriteMessage.lines(spec, msgs.map(_.written)), cover)
    catch {
      case e: java.util.ConcurrentModificationException =>
        Sources.deleteTree(batchDir); throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Sources.deleteTree(batchDir)
}

private[sources] class GraftDeltaWriterFactory(
    inner: Option[GraftDataWriterFactory],
    lineage: Boolean = false) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriterImpl(
      inner.map(_.createWriter(partitionId, taskId)), lineage)
}

/** Per-task delta writer: DELETEs accumulate (file -> position bitset),
  * INSERTs stream through the shared executor parquet writer, UPDATEs
  * are both. The bitsets ride home in the commit message — positions
  * are metadata-sized (a million marks is ~125 KB), never rows. */
private[sources] class GraftDeltaWriterImpl(
    inner: Option[org.apache.spark.sql.connector.write.DataWriter[InternalRow]],
    lineage: Boolean = false)
  extends DeltaWriter[InternalRow] {

  private val dv = scala.collection.mutable.Map.empty[String, java.util.BitSet]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val f = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    require(pos <= Int.MaxValue, s"row index $pos overflows the DV bitset")
    dv.getOrElseUpdate(f, new java.util.BitSet()).set(pos.toInt)
  }

  private def writeRow(row: InternalRow, rid: Any): Unit = {
    val w = inner.getOrElse(throw new IllegalStateException(
      "delta write planned no insert schema but received an insert"))
    if (!lineage) w.write(row)
    else w.write(new org.apache.spark.sql.catalyst.expressions.JoinedRow(
      row, new GenericInternalRow(Array[Any](rid))))
  }

  override def insert(row: InternalRow): Unit = writeRow(row, null)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id)
    // the reinserted row KEEPS the scan-served id (rowId col 2) — the
    // update is identity-preserving on a lineage table
    writeRow(row,
      if (lineage && id.numFields > 2 && !id.isNullAt(2))
        java.lang.Long.valueOf(id.getLong(2))
      else null)
  }

  override def commit(): WriterCommitMessage =
    GraftDeltaMessage(inner.map(_.commit()).collect {
      case m: GraftWriteMessage => m
    }.getOrElse(GraftWriteMessage(Nil, Nil)),
      dv.map { case (f, b) => f -> b.toByteArray }.toMap)

  override def abort(): Unit = inner.foreach(_.abort())
  override def close(): Unit = inner.foreach(_.close())
}
