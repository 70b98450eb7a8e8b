package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL MERGE / UPDATE / DELETE as DELTA-BASED row-level operations
  * (`SupportsDelta`) — MERGE-ON-READ through pure SQL.
  *
  * The group-based form this replaces rewrote the WHOLE table for every
  * MERGE/UPDATE (copy-on-write at table granularity): correct, but at
  * 100 TB a 1000-row CDC merge would rewrite 100 TB. The delta form
  * commits O(changed rows):
  *
  *  - the target scan serves every live row PLUS its physical identity
  *    — `_gfile` (manifest path) and `_gpos` (parquet row index, from
  *    the reader's own row-index machinery, so positions stay exact
  *    even under row-group pruning) — and applies existing deletion
  *    vectors inline (deleted rows are not match candidates, their
  *    positions stay occupied);
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
  * contract. On PARTITIONED/BUCKETED tables delete-only statements work
  * (marks are layout-blind); statements that INSERT refuse at commit
  * (executor writers emit flat files, which would corrupt the
  * directory layout both read stacks key on) with the API alternative
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

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftDeltaScanBuilder(spark, table, basedOn, graftTable.schema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    // the insert schema is known HERE, at planning time: a statement
    // that would append rows into a partitioned/bucketed layout refuses
    // before any executor writes a byte (the commit-time guard stays as
    // the backstop). Delete-only deltas plan no row columns and are
    // layout-blind — they proceed on any table.
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

// ---- the delta scan: data columns + (_gfile, _gpos), DVs applied ----

private[sources] class GraftDeltaScanBuilder(spark: SparkSession,
    table: String, version: Int, tableSchema: StructType)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // parquet can only evaluate data-column conjuncts; everything stays
    // residual (Spark re-applies above), so pushing is pruning-only —
    // and the row-index column keeps positions EXACT under row-group
    // skips, which is the whole reason to use the official machinery
    pushed = filters.filter(
      _.references.forall(tableSchema.fieldNames.contains))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftDeltaScan(spark, table, version, tableSchema, required,
      pushed.toSeq)
}

private[sources] case class GraftDeltaPartition(path: String, bytes: Long,
    dv: Option[Array[Byte]]) extends InputPartition

private[sources] class GraftDeltaScan(spark: SparkSession, table: String,
    version: Int, tableSchema: StructType, required: StructType,
    filters: Seq[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-delta-scan:$table@v$version"

  override def planInputPartitions(): Array[InputPartition] = {
    val dv = Sources.dvOf(table, version)
    val files = Sources.filesOf(table, version).sorted
    // pending EQUALITY deletes fold into the same position space: the
    // memoized key probe (at most one bounded job, for the (entry,
    // file) pairs no earlier plan resolved) turns the deferred key
    // deletes into per-file skip bitsets, so eq-retired rows are never
    // match candidates — SQL MERGE/UPDATE/DELETE work on an eq-pending
    // table instead of refusing until purge_eq
    val eqSkip = Sources.eqRetiredPositions(spark, table, files,
      Sources.eqOf(table, version))
    files.map { f =>
      GraftDeltaPartition(f,
        java.nio.file.Files.size(java.nio.file.Paths.get(f)),
        Sources.orBits(dv.get(f), eqSkip.get(f)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val needRid = RowIds.enabled(table) &&
      required.fieldNames.contains(RowIds.COL)
    val meta = Set("_gfile", "_gpos") ++
      (if (needRid) Set(RowIds.COL) else Set.empty)
    val dataFields = required.fields.filter(f => !meta.contains(f.name))
    // the reader's schema: requested data columns + (on a lineage
    // table) the physical `_row_id` a rewrite may have materialized +
    // Spark's own row-index generator column (filled by the parquet
    // reader with the row's PHYSICAL position — the same value
    // `_metadata.row_index` serves, i.e. the DV sidecar's position
    // space)
    // NULLABLE: the reader's missing-column check treats a required
    // absent field as an error before the row-index generator sees it
    val readerSchema = StructType(dataFields ++
      (if (needRid) Seq(StructField(RowIds.COL, LongType,
        nullable = true)) else Nil) :+ StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
      nullable = true))
    val fileSchema =
      if (!needRid) tableSchema
      else StructType(tableSchema.fields
        .filterNot(_.name == RowIds.COL) :+
        StructField(RowIds.COL, LongType, nullable = true))
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, fileSchema, StructType(Nil), readerSchema, filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    new GraftDeltaReaderFactory(readFunc, required,
      dataFields.map(_.name),
      ridPos = if (needRid) dataFields.length else -1,
      ridMap =
        if (needRid) RowIds.ridOf(table, version)._1 else Map.empty)
  }
}

private[sources] class GraftDeltaReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    required: StructType, dataNames: Array[String],
    ridPos: Int = -1, ridMap: Map[String, Long] = Map.empty)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftDeltaPartition]
    val pf = PartitionedFile(
      InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(gp.path),
      0L, gp.bytes, Array.empty[String], 0L, gp.bytes,
      Map.empty[String, Any])
    val bits = gp.dv.map(java.util.BitSet.valueOf)
    val pathU = UTF8String.fromString(gp.path)
    val ridBase: Option[Long] = ridMap.get(gp.path)
    val rowIdxPos = dataNames.length + (if (ridPos >= 0) 1 else 0)
    // per-output-field extraction plan: data ordinal, or a metadata tag
    // (-1 = row index, -2 = file path, -3 = lineage id)
    val dataIdx = dataNames.zipWithIndex.toMap
    val fields = required.fields.map { f =>
      f.name match {
        case "_gpos" => (-1, f.dataType)
        case "_gfile" => (-2, f.dataType)
        case n if ridPos >= 0 && n == RowIds.COL => (-3, f.dataType)
        case n => (dataIdx(n), f.dataType)
      }
    }
    new PartitionReader[InternalRow] {
      private val it = readFunc(pf)
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val r = it.next()
          val alive = bits match {
            case Some(b) =>
              val i = r.getLong(rowIdxPos)
              require(i <= Int.MaxValue,
                s"row index $i overflows the DV bitset")
              !b.get(i.toInt)
            case None => true
          }
          if (alive) { cur = r; return true }
        }
        false
      }
      override def get(): InternalRow = {
        val out = new GenericInternalRow(fields.length)
        var i = 0
        while (i < fields.length) {
          fields(i) match {
            case (-1, _) => out.update(i, cur.getLong(rowIdxPos))
            case (-2, _) => out.update(i, pathU)
            case (-3, _) => out.update(i,
              if (ridPos >= 0 && !cur.isNullAt(ridPos))
                java.lang.Long.valueOf(cur.getLong(ridPos))
              else ridBase match {
                case Some(b) =>
                  java.lang.Long.valueOf(b + cur.getLong(rowIdxPos))
                case None => null
              })
            case (j, dt) => out.update(i,
              if (cur.isNullAt(j)) null else cur.get(j, dt))
          }
          i += 1
        }
        out
      }
      override def close(): Unit = ()
    }
  }
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
