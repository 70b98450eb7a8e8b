package graft.sources

import java.util.OptionalLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.ConjunctScanBuilder
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The NATIVE catalog scan: every graft table read that is not a clean
  * version served by the stock vectorized parquet path. It serves
  *  - versions carrying deletion vectors and/or pending equality
  *    deletes, on every layout (flat, hash-bucketed, identity- and
  *    transform-partitioned), with planner-visible statistics (a DV'd
  *    dimension broadcasts at PLAN time, not after AQE);
  *  - HASH-BUCKETED tables (`PARTITIONED BY (bucket(n, k))`), turning
  *    the on-disk `_b=<id>` layout into SHUFFLE-FREE JOINS: it reports
  *    `KeyGroupedPartitioning(bucket(n, k), #buckets)`, which Catalyst
  *    resolves through [[GraftBucketFunction]], so `EnsureRequirements`
  *    plans two co-bucketed scans as co-partitioned (storage-
  *    partitioned join, the DSv2 successor of hive bucketed joins).
  *    Every input partition carries its bucket id as the partition
  *    key, so Spark groups per-file partitions into one task per bucket
  *    exactly when SPJ engages (`spark.sql.sources.v2.bucketing.enabled`)
  *    and keeps per-file parallelism otherwise. Point predicates on the
  *    bucket column PRUNE whole buckets driver-side;
  *  - plain selects of `_gfile`/`_gpos`/`_row_id` on clean versions
  *    (swapped in by [[org.apache.spark.sql.graftbridge.MetaRoutingScanBuilder]]);
  *  - the target scan of SQL UPDATE/MERGE/DELETE ([[GraftDeltaOperation]]).
  *
  * Every layout takes the same tiers: on partitioned layouts the
  * manifest index's own partition and `_pt` window pruning
  * ([[ManifestFileIndex.keptFiles]]), bucket pruning, stats/bloom
  * sidecar file skipping (pushed and runtime/DPP conjuncts). Kept files
  * pack into splits by Spark's own rule ([[GraftNativeScan.pack]]); a
  * bucketed layout plans one file per input partition, keyed by its
  * bucket, so it keeps SPJ. Executors read through Spark's own parquet
  * reader function (the [[GraftCdfStream]] pattern) and drop deleted
  * rows inside the read with the one delete rule
  * ([[Sources.Deletes]]): a file's DV marks and the key sets of the
  * pending eq entries whose scope holds it, each entry's key columns
  * read alongside the query's and projected away. Planning reads
  * sidecars and memoized key sets only, so it starts no Spark job.
  * Pushed data-column conjuncts reach the reader for row-group pruning,
  * and EVERY conjunct is left in the plan as a residual, so correctness
  * never depends on parquet's evaluation or on pruning.
  * Identity-partition values come from each file's path (the rule the
  * index uses, cast to the served type); `_gfile`/`_gpos` and, on
  * lineage tables, `_row_id` are synthesized reader-side.
  */
private[sources] class GraftNativeScanBuilder(spark: SparkSession,
    table: String, version: Int, schema: StructType,
    bucket: Option[(String, Int)])
  extends ConjunctScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftNativeScan(spark, table, version, schema, required,
      conjuncts, bucket)
}

/** One kept data file of a native scan; `bucketId` is 0 off bucketed
  * layouts. */
private[sources] case class GraftFile(path: String, bytes: Long,
    bucketId: Int)

/** The files one task of a native scan reads, all of one bucket. */
private[sources] case class GraftFilePartition(files: Array[GraftFile],
    bucketId: Int)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

private[sources] class GraftNativeScan(spark: SparkSession,
    table: String, version: Int, dataSchema: StructType,
    required: StructType, conjuncts: Seq[Expression],
    bucket: Option[(String, Int)])
  extends Scan with Batch
  with SupportsReportPartitioning with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // the conjuncts as V1 filters: bucket and stats/bloom pruning, and
  // the parquet reader's row-group pruning
  private val filters: Seq[Filter] = ConjunctScanBuilder.translate(conjuncts)

  // identity partition columns in their path types; a partitioned
  // layout plans its files through the manifest index
  private val partSchema = ManifestFileIndex.partitionSchemaOf(table, version)
  private val partitioned =
    partSchema.nonEmpty || Sources.partTransformOf(table).isDefined

  /** Buckets that can hold rows passing ALL `fs` — None means no
    * bucket-column point predicate (or no buckets): scan all. */
  private def bucketsFor(fs: Seq[Filter]): Option[Set[Int]] =
    bucket.flatMap { case (c, n) =>
      GraftNativeScan.bucketsFor(fs, c, dataSchema(c).dataType, n)
    }

  private val buckets = bucketsFor(filters)

  /** No pushed conjuncts and no bucket pruning — the whole-version
    * read [[MetadataOnlyAggregates]] may answer from sidecars. */
  private[sources] def filterFree: Boolean =
    conjuncts.isEmpty && buckets.isEmpty

  override def description(): String = bucket match {
    case Some((c, n)) =>
      s"graft-bucketed:$table@v$version bucket($n, $c)" +
        buckets.fold("")(b => s" buckets=${b.toSeq.sorted.mkString(",")}")
    case None => s"graft-dv:$table@v$version"
  }

  // ---- RUNTIME filtering (dynamic partition/file pruning) -----------
  //
  // The DPP handshake: at plan time the optimizer sees the join key in
  // `filterAttributes`; at execution, after the dimension side has
  // materialized (typically as the reused broadcast), BatchScanExec
  // hands the collected key set back as an `In` conjunct. The pruning
  // tiers re-run with it: the key set hashes to a BUCKET id set (whole
  // 1/n slices of a 100 TB fact drop before any task launches), and
  // the per-file stats/bloom sidecars drop files inside the kept
  // buckets — Databricks' "dynamic file pruning", from metadata alone.
  // Strictly conservative — both tiers only ever DROP files proven
  // row-free for the keys.
  private var runtime: Seq[Filter] = Nil
  private var keptCache: Array[GraftFile] = _

  // only columns the scan outputs: the planner resolves every
  // attribute named here against the pruned output and fails the
  // query on one it cannot find
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (bucket.map(_._1).toSeq ++ Sources.statsColumnsOf(table) ++
      Sources.bloomColumnsOf(table)).distinct
      .filter(required.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(fs: Array[Filter]): Unit = {
    runtime = fs.toSeq
    keptCache = null
  }

  // the sizes of the files the partition and `_pt` window pruning
  // keep; None on flat and bucketed layouts, which list no file status
  private lazy val layoutKept: Option[Map[String, Long]] =
    if (partitioned)
      Some(ManifestFileIndex.keptFiles(spark, table, version, conjuncts))
    else None

  // the files surviving partition, bucket and stats/bloom pruning on
  // the pushed conjuncts — sidecar metadata only
  private lazy val staticKept: Array[GraftFile] = {
    val statsKeep = Sources.filterKeeper(table, version, filters)
    val all = Sources.filesOf(table, version).filter(statsKeep).flatMap { f =>
      val bytes = layoutKept.fold(Option(
        java.nio.file.Files.size(java.nio.file.Paths.get(f))))(_.get(f))
      val b = if (bucket.isEmpty) 0 else GraftNativeScan.bucketIdOf(f)
        .getOrElse(throw new IllegalStateException(
          s"bucketed table $table: data file outside a _b=<id> dir: $f " +
            "(the table has non-bucketed batches — it was written " +
            "outside the catalog commit path)"))
      bytes.map(GraftFile(f, _, b))
    }
    buckets.fold(all)(ks => all.filter(p => ks.contains(p.bucketId)))
      .sortBy(p => (p.bucketId, p.path)).toArray
  }

  // ... and on the runtime (DPP) conjuncts: what the tasks read, and
  // all the planner's statistics and partitioning see
  private def kept: Array[GraftFile] = {
    if (keptCache == null) keptCache =
      if (runtime.isEmpty) staticKept
      else {
        val statsKeep = Sources.filterKeeper(table, version, runtime)
        val ks = bucketsFor(runtime)
        staticKept.filter(p =>
          statsKeep(p.path) && ks.forall(_.contains(p.bucketId)))
      }
    keptCache
  }

  // the one delete rule over the statically kept files: runtime
  // filtering only drops files, so it covers every file a task reads
  private lazy val deletes = new Sources.Deletes(spark, table,
    staticKept.map(_.path).toSeq, Sources.dvOf(table, version),
    Sources.eqOf(table, version), Sources.DeleteMode.Live,
    dataSchema.fieldNames.toSet)

  /** Post-runtime-filter planned file count — the spec/gate witness. */
  private[graft] def plannedFileCount: Int = kept.length

  override def planInputPartitions(): Array[InputPartition] =
    if (bucket.isDefined)
      kept.map(f => GraftFilePartition(Array(f), f.bucketId): InputPartition)
    else GraftNativeScan.pack(spark, kept)

  override def outputPartitioning(): Partitioning = bucket match {
    case Some((c, n)) =>
      new KeyGroupedPartitioning(Array(Expressions.bucket(n, c)),
        kept.map(_.bucketId).distinct.length)
    case None => new UnknownPartitioning(0)
  }

  // bytes, live rows and HLL-union NDV for EXACTLY the pruned file
  // subset, from sidecar metadata — never a scan or a probe. Rows that
  // pending eq entries retire still count: a conservative upper bound
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(kept.map(_.bytes).sum)
    override def numRows(): OptionalLong =
      Sources.rowsForFiles(table, version, kept.map(_.path).toSeq)
        .map(OptionalLong.of).getOrElse(OptionalLong.empty())
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      GraftTable.columnStatsForFiles(table, version,
        kept.map(_.path).toSeq)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftNativeScan.readerFactory(spark, dataSchema, partSchema, required,
      filters, Option.when(!deletes.keepsAll)(deletes),
      // resolve the rid map ONLY when the query asked for the id — a
      // plain scan must not pay (or depend on) sidecar derivation
      rid = if (required.fieldNames.contains(RowIds.COL) &&
          RowIds.enabled(table))
        Some(RowIds.ridOf(table, version)._1)
      else None)
}

private[sources] object GraftNativeScan {
  private val BucketDir = ".*/_b=(\\d+)/[^/]+$".r

  /** Buckets that can hold rows passing ALL the given conjuncts — None
    * means no bucket-column point predicate, scan all. Each conjunct
    * must hold for every surviving row, so intersecting per-conjunct
    * bucket sets is lossless. Applied to the pushed filters and to the
    * RUNTIME (DPP) in-sets from a joined dimension. */
  def bucketsFor(filters: Seq[Filter], bucketCol: String,
      dt: org.apache.spark.sql.types.DataType,
      numBuckets: Int): Option[Set[Int]] = {
    def bucketsOf(f: Filter): Option[Set[Int]] = f match {
      case EqualTo(c, v) if c == bucketCol && v != null =>
        Some(Set(GraftBucketFunction.bucketOf(v, dt, numBuckets)))
      case In(c, vs) if c == bucketCol =>
        Some(vs.filter(_ != null)
          .map(GraftBucketFunction.bucketOf(_, dt, numBuckets)).toSet)
      case IsNull(c) if c == bucketCol =>
        // the writer hashes NULL to the seed, so every null-keyed row
        // sits in one known bucket
        Some(Set(GraftBucketFunction.bucketOf(null, dt, numBuckets)))
      case _ => None
    }
    val sets = filters.flatMap(bucketsOf(_))
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** The bucket id a data file was routed to, parsed from its `_b=`
    * directory (the writer's hive layout). */
  def bucketIdOf(path: String): Option[Int] = path match {
    case BucketDir(b) => Some(b.toInt)
    case _ => None
  }

  /** `files` packed into splits by Spark's own rule for file scans
    * (`FilePartition`: the max split bytes from the partition-bytes,
    * open-cost and parallelism settings, then next-fit by size), so the
    * native scan plans as many tasks as the stock path would for the
    * same files. Files are never split: positions stay whole-file. */
  def pack(spark: SparkSession,
      files: Array[GraftFile]): Array[InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val open = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.bytes + open).sum)
    val of = files.map(f => EqCheck.partitionedFile(f.path, f.bytes) -> f)
    val file = of.toMap
    FilePartition.getFilePartitions(spark, of.toSeq.map(_._1), maxSplit)
      .map(p => GraftFilePartition(p.files.map(file), 0): InputPartition)
      .toArray
  }

  /** The per-file reader construction: Spark's own parquet reader
    * function built once driver-side — pushed data-column conjuncts buy
    * row-group pruning, older-generation files missing ADD COLUMN
    * fields null-fill through schema clipping. Identity-partition
    * columns (`partSchema`, in path types) are never read from or
    * pushed to parquet: the reader appends each file's path values,
    * cast to the served type. The `_gfile`/`_gpos` metadata columns are
    * synthesized reader-side (file path from the partition, position
    * from the row-index generator column), never read from parquet —
    * schema clipping would null-fill them silently otherwise. A file
    * the delete rule reaches is read through the indexed function,
    * which also reads the rule's key columns the query does not ask for,
    * and drops its deleted rows inline (positions exact under row-group
    * pruning). */
  def readerFactory(spark: SparkSession, dataSchema: StructType,
      partSchema: StructType, required: StructType, filters: Seq[Filter],
      deletes: Option[Sources.Deletes],
      rid: Option[Map[String, Long]]): PartitionReaderFactory = {
    import org.apache.spark.sql.types.{LongType, StructField}
    // lineage tables additionally synthesize `_row_id`: the physical
    // column where a rewrite materialized it, the file range otherwise
    val needRid = rid.isDefined &&
      required.fieldNames.contains(RowIds.COL)
    def isMeta(n: String): Boolean =
      GraftTable.metaColumnNames(n) || (needRid && n == RowIds.COL)
    val isPart = partSchema.fieldNames.toSet
    val hasMeta = required.fieldNames.exists(isMeta)
    val dataFields = required.fields.filterNot(f => isMeta(f.name) || isPart(f.name))
    // the requested partition columns, served-typed
    val partFields = required.fields.filter(f => isPart(f.name))
    // the delete rule's key columns the query does not read
    val (keyPart, keyData) = deletes.toSeq.flatMap(_.keyCols)
      .filterNot(required.fieldNames.contains).map(dataSchema(_))
      .partition(f => isPart(f.name))
    val readData = dataFields ++ keyData
    val readPart = partFields ++ keyPart
    // parquet sees data-column conjuncts only: never a partition column
    // (not in the file), a metadata column, or an id predicate — files
    // that predate materialization hold NULLs in the physical column,
    // and a row-group prune on those would drop rows whose SYNTHESIZED
    // id matches (Spark re-evaluates all conjuncts above the scan)
    val safeFilters =
      filters.filterNot(_.references.exists(r => isPart(r) || isMeta(r)))
    // the physical lineage column, read NULLABLE: files that predate
    // materialization lack it
    val ridField =
      if (needRid) Seq(StructField(RowIds.COL, LongType, nullable = true))
      else Nil
    val fileSchema = StructType(dataSchema.fields.filterNot(f =>
      isPart(f.name) || isMeta(f.name)) ++ ridField)
    def reader(fields: Seq[StructField], parts: Seq[StructField]) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, fileSchema, StructType(parts), StructType(fields),
        safeFilters,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    // the plain function's rows are the data fields then the partition
    // fields: when that IS the requested order and nothing is
    // synthesized, an untouched file's rows are the output rows
    val inOrder = !hasMeta && required.fieldNames.sameElements(
      (dataFields ++ partFields).map(_.name))
    val readFunc = reader(dataFields, partFields)
    // the indexed function's rows: the read data fields, the optional
    // physical lineage column, the row-index generator column, the read
    // partition fields
    val ridPos = if (needRid) readData.length else -1
    val rowIdxPos = readData.length + (if (needRid) 1 else 0)
    val readFuncIdx =
      if (inOrder && deletes.isEmpty) readFunc
      else reader(readData ++ ridField :+
        StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          LongType, nullable = true), readPart)
    def ordOf(n: String): Int =
      if (isPart(n)) rowIdxPos + 1 + readPart.indexWhere(_.name == n)
      else readData.indexWhere(_.name == n)
    // per-output-field extraction plan over an indexed row: its ordinal,
    // or a metadata tag (-1 = row index, -2 = file path, -3 = lineage id)
    val fields = required.fields.map { f =>
      f.name match {
        case "_gpos" => (-1, f.dataType)
        case "_gfile" => (-2, f.dataType)
        case n if needRid && n == RowIds.COL => (-3, f.dataType)
        case n => (ordOf(n), f.dataType)
      }
    }
    new GraftNativeReaderFactory(readFunc, readFuncIdx, fields, inOrder,
      rowIdxPos, ridPos, rid.getOrElse(Map.empty),
      // broadcast: an executor deserializes the key index once, not
      // once per task
      deletes.map(d => spark.sparkContext.broadcast(
        d.spec(dataSchema(_).dataType, ordOf))),
      StructType(readPart.map(f => partSchema(f.name))), StructType(readPart),
      partFields.length, spark.sessionState.conf.sessionLocalTimeZone)
  }
}

private[sources] class GraftNativeReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    readFuncIdx: PartitionedFile => Iterator[InternalRow],
    fields: Array[(Int, org.apache.spark.sql.types.DataType)],
    inOrder: Boolean, rowIdxPos: Int, ridPos: Int,
    ridMap: Map[String, Long],
    deletes: Option[org.apache.spark.broadcast.Broadcast[DeleteSpec]],
    pathSchema: StructType, partSchema: StructType, plainParts: Int,
    tz: String)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = p.asInstanceOf[GraftFilePartition].files.iterator
    new PartitionReader[InternalRow] {
      private var raw: Iterator[InternalRow] = Iterator.empty
      private var it: Iterator[InternalRow] = Iterator.empty
      override def next(): Boolean = {
        while (!it.hasNext) {
          close()
          if (!files.hasNext) return false
          open(files.next())
        }
        true
      }
      override def get(): InternalRow = it.next()
      override def close(): Unit = {
        EqCheck.close(raw)
        raw = Iterator.empty
        it = Iterator.empty
      }

      private def open(f: GraftFile): Unit = {
        // the file's identity-partition values: its path's, in the
        // served type — the requested ones, then the rule's key columns
        val pv =
          if (pathSchema.isEmpty) Nil
          else {
            val inPath = ManifestFileIndex.partitionValues(f.path, pathSchema)
            pathSchema.fields.toSeq.indices.map(i =>
              EqCheck.widen(inPath.get(i, pathSchema(i).dataType),
                pathSchema(i).dataType, partSchema(i).dataType, tz))
          }
        val rule = deletes.map(_.value.file(Sources.normalizePath(f.path)))
          .filterNot(_.keepsAll)
        if (rule.isEmpty && inOrder) {
          // fast path: nothing to drop, no column to synthesize or
          // reorder — the reader's rows ARE the output rows, zero copying
          raw = readFunc(EqCheck.partitionedFile(f.path, f.bytes,
            InternalRow.fromSeq(pv.take(plainParts))))
          it = raw
        } else {
          // merge-on-read / metadata path: the indexed function's rows
          // carry the row-index generator column and the rule's key
          // columns; deleted rows drop inline, the extraction plan maps
          // ordinals through and fills -1/-2/-3 with index/path/lineage id
          val pathU = UTF8String.fromString(f.path)
          val ridBase: Option[Long] = ridMap.get(f.path)
          raw = readFuncIdx(EqCheck.partitionedFile(f.path, f.bytes,
            InternalRow.fromSeq(pv)))
          val alive = rule.fold(raw)(r =>
            raw.filter(row => r.keep(row.getLong(rowIdxPos), row)))
          it = alive.map { cur =>
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
        }
      }
    }
  }
}
