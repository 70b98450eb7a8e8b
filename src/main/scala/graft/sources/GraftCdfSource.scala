package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The table format's change data feed as a STRUCTURED STREAMING
  * source — the loop that closes commit → delta → incremental
  * consumer. [[Sources.readChanges]] already derives a version range's
  * delta purely from manifest + DV-sidecar diffs (files that left the
  * set are deletes, files that joined are inserts, carried files whose
  * deletion vector GREW contribute exactly the newly-marked rows as
  * deletes — a merge-on-read SQL DELETE/MERGE/UPDATE's whole footprint);
  * this source turns that into a `MicroBatchStream` whose
  * OFFSETS ARE VERSION NUMBERS:
  *
  * {{{
  * spark.readStream.format("graft-cdf")
  *   .option("path", table)            // .option("startingVersion", 3)
  *   .load()                           // schema + _change_type + _commit_version
  *   .writeStream.trigger(Trigger.AvailableNow) ...
  * }}}
  *
  * Each micro-batch covers `(startVersion, endVersion]`: the planner
  * walks the manifests driver-side (KB metadata, no data IO), emits
  * one input partition per changed FILE tagged with its change type
  * and commit version, and executors read the parquet through Spark's
  * own reader — the metadata columns ride along via a JoinedRow, so
  * feed size is O(changed files) and a checkpoint restart resumes at
  * the recorded version exactly. Delta's CDF readStream is the same
  * contract; here it falls out of immutable files + versioned
  * manifests alone.
  *
  * Retention contract: [[Sources.vacuumVersions]] bounds time travel —
  * and therefore REPLAY — to its kept horizon. A consumer lagging past
  * vacuumed versions fails loudly on the missing files (the Delta
  * behavior; silently skipping vacuumed deltas would corrupt every
  * downstream incremental state). Operate vacuum's `keepLast` above
  * the slowest consumer's lag, same as any log-compacted feed.
  */
class GraftCdfDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def tableOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-cdf: the 'path' option (table root) is required"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCdfDataSource.cdfSchema(
      ManifestFileIndex.servedSchema(SparkSession.active, tableOf(options),
        Sources.latestVersion(tableOf(options))))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftCdfTable(SparkSession.active, tableOf(options),
      Option(options.get("startingVersion")).map(_.trim.toInt).getOrElse(0))
  }
}

object GraftCdfDataSource {
  /** Data schema + the two CDF metadata columns. */
  def cdfSchema(data: StructType): StructType =
    data.add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)
}

private[sources] class GraftCdfTable(spark: SparkSession, table: String,
    startingVersion: Int) extends Table
  with org.apache.spark.sql.connector.catalog.SupportsRead {

  // what readVersion serves: identity partition columns included
  private val dataSchema =
    ManifestFileIndex.servedSchema(spark, table, Sources.latestVersion(table))

  override def name(): String = s"graft-cdf:$table"
  override def schema(): StructType = GraftCdfDataSource.cdfSchema(dataSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftCdfStream(spark, table, dataSchema, startingVersion)
    }
}

private[sources] case class GraftCdfOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

private[sources] case class GraftCdfPartition(path: String, bytes: Long,
    changeType: String, version: Int,
    // DV composition, mirroring Sources.readChanges exactly:
    //  - skipDv: positions NOT part of this delta (a departing file's
    //    rows already DV-deleted at `from` were emitted earlier; an
    //    arriving file's rows DV-deleted at `to` never became visible)
    //  - onlyDv: emit ONLY these positions (a carried file whose DV
    //    grew contributes exactly the newly-marked rows as deletes —
    //    the merge-on-read commit's whole delta)
    skipDv: Option[Array[Byte]] = None,
    onlyDv: Option[Array[Byte]] = None) extends InputPartition

private[sources] class GraftCdfStream(spark: SparkSession, table: String,
    dataSchema: StructType, startingVersion: Int) extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = GraftCdfOffset(startingVersion)

  // Trigger.AvailableNow contract: pin the end offset at prepare time
  // so the run drains exactly the versions that existed when it
  // started, then terminates — commits racing in mid-run wait for the
  // next run (their versions are stable offsets, nothing is lost)
  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Sources.latestVersion(table))

  override def latestOffset(): Offset =
    GraftCdfOffset(availableNowCap.getOrElse(Sources.latestVersion(table)))

  // SupportsAdmissionControl (super-interface of AvailableNow): this
  // source takes no read limits — a version is the natural batch unit
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def deserializeOffset(json: String): Offset =
    GraftCdfOffset(json.trim.toInt)

  /** One partition per changed file of every version in
    * `(start, end]` — manifest + DV sidecar walking only, plus (only on
    * eq-bearing versions) a bounded key-probe job that turns equality
    * deletes into position bitsets. Mirrors [[Sources.readChanges]]
    * exactly:
    *
    *  - file diffs carry inserts/deletes, each side filtered by ITS
    *    version's full delete state — DV bitset OR'd with the eq-retired
    *    positions of that side's pending entries (a departing file's
    *    eq-dead rows were emitted as deletes when their entry arrived;
    *    re-emitting them on departure would double-delete downstream);
    *  - a CARRIED file whose DV GREW — a merge-on-read
    *    DELETE/MERGE/UPDATE commit — contributes exactly the
    *    newly-marked positions as deletes;
    *  - an eq-MERGE commit (entries ADDED at `v`) contributes the
    *    still-live rows its new key sets retire from their in-scope
    *    carried files, as `onlyDv` delete partitions — the deferred
    *    position lookup the eq commit skipped, resolved here by
    *    [[Sources.eqRetiredPositions]] (key columns + row-index only,
    *    tested against the driver-read key sets, bounded by in-scope
    *    files, never O(table)).
    *
    * Versions without eq entries keep the pure-metadata planning path:
    * the key probe never runs. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftCdfOffset].version
    val e = end.asInstanceOf[GraftCdfOffset].version
    // (entry, file) → positions answers come from the process-wide
    // memo: both sides are immutable, so a pair probed at version v is
    // not re-probed at v+1 (nor by the next drain or a catalog scan) —
    // the range's eq planning costs one bounded job per planning step
    // that still has unresolved pairs
    (s + 1 to e).flatMap { v =>
      val before =
        if (v <= 1) Set.empty[String]
        else Sources.filesOf(table, v - 1).toSet
      val after = Sources.filesOf(table, v).toSet
      val dvFrom = if (v <= 1) Map.empty[String, java.util.BitSet]
        else Sources.dvOf(table, v - 1)
      val dvTo = Sources.dvOf(table, v)
      val eqPrev = if (v <= 1) Nil else Sources.eqOf(table, v - 1)
      val eqCur = Sources.eqOf(table, v)
      val prevPaths = eqPrev.map(_.dataPath).toSet
      val (eqOld, eqNew) =
        eqCur.partition(en => prevPaths.contains(en.dataPath))
      def size(f: String): Long =
        java.nio.file.Files.size(java.nio.file.Paths.get(f))
      val goneFiles = (before -- after).toSeq.sorted
      val addedFiles = (after -- before).toSeq.sorted
      val carried = (before & after).toSeq.sorted
      // positions retired by the FROM state's entries in departing
      // files, and by the TO state's entries in arriving files — the
      // per-side eq filter batch readChanges applies relationally
      val retiredGone =
        Sources.eqRetiredPositions(spark, table, goneFiles, eqPrev)
      val retiredAdded =
        Sources.eqRetiredPositions(spark, table, addedFiles, eqCur)
      val grown = carried.flatMap { f =>
        val g = dvTo.getOrElse(f, new java.util.BitSet())
          .clone().asInstanceOf[java.util.BitSet]
        dvFrom.get(f).foreach(g.andNot)
        if (g.isEmpty) None
        else Some(GraftCdfPartition(f, size(f), "delete", v,
          onlyDv = Some(g.toByteArray)))
      }
      // eq-merge delete emission: new entries retire the STILL-LIVE
      // rows of their scoped carried files — live under the to-version
      // DV (the grown delta above already emitted dvTo-marked rows)
      // and under the old entries (their rows were emitted when THOSE
      // entries arrived)
      val eqDeletes =
        if (eqNew.isEmpty) Nil
        else {
          val retiredNew =
            Sources.eqRetiredPositions(spark, table, carried, eqNew)
          val retiredOld =
            if (retiredNew.isEmpty) Map.empty[String, java.util.BitSet]
            else Sources.eqRetiredPositions(spark, table,
              retiredNew.keys.toSeq.sorted, eqOld)
          retiredNew.toSeq.sortBy(_._1).flatMap { case (f, bits) =>
            val b = bits.clone().asInstanceOf[java.util.BitSet]
            dvTo.get(f).foreach(b.andNot)
            retiredOld.get(f).foreach(b.andNot)
            if (b.isEmpty) None
            else Some(GraftCdfPartition(f, size(f), "delete", v,
              onlyDv = Some(b.toByteArray)))
          }
        }
      addedFiles.map(f =>
        GraftCdfPartition(f, size(f), "insert", v,
          skipDv = Sources.orBits(dvTo.get(f), retiredAdded.get(f)))) ++
        goneFiles.map(f =>
          GraftCdfPartition(f, size(f), "delete", v,
            skipDv = Sources.orBits(dvFrom.get(f), retiredGone.get(f)))) ++
        grown ++ eqDeletes
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // identity partition columns come from each file's path, through
    // the rule the manifest index uses, cast to the served type; the
    // file holds the rest
    val pathSchema = StructType(ManifestFileIndex.partitionSchemaOf(table,
      Sources.latestVersion(table)).filter(f =>
        dataSchema.fieldNames.contains(f.name)))
    val partSchema = StructType(pathSchema.map(f => dataSchema(f.name)))
    val fileSchema = StructType(dataSchema.filterNot(f =>
      partSchema.fieldNames.contains(f.name)))
    // Spark's own parquet reader function: built once on the driver
    // (it broadcasts the hadoop conf itself), serialized to tasks;
    // row-based iteration: this reader feeds a JoinedRow per record,
    // not a ColumnarBatch consumer
    def reader(required: StructType) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, fileSchema, partSchema, required, Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    // DV-aware variant: data columns + the reader's row-index generator
    // column, so position bitsets filter rows exactly as the sidecar
    // recorded them (only built for partitions that carry a bitset)
    val readFuncIdx = reader(StructType(fileSchema.fields :+
      org.apache.spark.sql.types.StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true)))
    // output column i's ordinal in a read row: file columns, [the row
    // index,] partition columns
    def ords(idx: Int) = dataSchema.fieldNames.map { n =>
      if (partSchema.fieldNames.contains(n))
        fileSchema.length + idx + partSchema.fieldIndex(n)
      else fileSchema.fieldIndex(n)
    }
    new GraftCdfReaderFactory(reader(fileSchema), readFuncIdx,
      dataSchema.fields.map(_.dataType), pathSchema, partSchema,
      ords(0), ords(1), spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] class GraftCdfReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    readFuncIdx: PartitionedFile => Iterator[InternalRow],
    dataTypes: Array[org.apache.spark.sql.types.DataType],
    pathSchema: StructType, partSchema: StructType,
    ords: Array[Int], ordsIdx: Array[Int], tz: String)
  extends PartitionReaderFactory {

  private def nDataCols: Int = dataTypes.length

  /** The data columns of read row `r`, in schema order, copied. */
  private def project(r: InternalRow, at: Array[Int]): InternalRow = {
    val out = new GenericInternalRow(nDataCols)
    var i = 0
    while (i < nDataCols) {
      out.update(i, if (r.isNullAt(at(i))) null else r.get(at(i), dataTypes(i)))
      i += 1
    }
    out
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftCdfPartition]
    val pv = ManifestFileIndex.partitionValues(gp.path, pathSchema)
    val pf = EqCheck.partitionedFile(gp.path, gp.bytes,
      InternalRow.fromSeq(pathSchema.fields.toSeq.indices.map(i =>
        EqCheck.widen(pv.get(i, pathSchema(i).dataType),
          pathSchema(i).dataType, partSchema(i).dataType, tz))))
    val meta = new GenericInternalRow(Array[Any](
      UTF8String.fromString(gp.changeType), gp.version.toLong))
    val joined = new JoinedRow
    if (gp.skipDv.isEmpty && gp.onlyDv.isEmpty)
      // clean file: the fast path, no row-index column, no copies
      // unless partition columns need reordering
      new PartitionReader[InternalRow] {
        private val it = readFunc(pf)
        override def next(): Boolean = it.hasNext
        override def get(): InternalRow = joined(
          if (partSchema.isEmpty) it.next() else project(it.next(), ords),
          meta)
        override def close(): Unit = ()
      }
    else {
      // DV-filtered: the reader serves rows + their physical row index;
      // `skipDv` drops marked positions (insert/delete of a changed
      // file set), `onlyDv` KEEPS exactly the marked positions (the
      // delete emission of a grown DV); the index column never leaves
      val skip = gp.skipDv.map(java.util.BitSet.valueOf)
      val only = gp.onlyDv.map(java.util.BitSet.valueOf)
      val idxOrd = ordsIdx.length - partSchema.length
      new PartitionReader[InternalRow] {
        private val it = readFuncIdx(pf)
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (it.hasNext) {
            val r = it.next()
            val i = r.getLong(idxOrd)
            val keep = (i <= Int.MaxValue) && {
              val pos = i.toInt
              skip.forall(!_.get(pos)) && only.forall(_.get(pos))
            } || (i > Int.MaxValue && only.isEmpty)
            if (keep) { cur = r; return true }
          }
          false
        }
        override def get(): InternalRow = joined(project(cur, ordsIdx), meta)
        override def close(): Unit = ()
      }
    }
  }
}
