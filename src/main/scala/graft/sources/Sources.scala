package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tuning.withJobDescription

/** Source/sink surface beyond the fixture parquet readers in
  * [[graft.Tables]] (SURVEY.md §2.3 scans/sinks rows).
  *
  * The reference reads via JDBC re-scan (O1/O2) and writes via per-tuple
  * JDBC UPDATE (O17–O21); here every format goes through the
  * DataFrameReader/Writer so pushdown, partitioning and vectorization
  * apply uniformly. CSV/JSON always take an explicit schema — inference
  * is a full extra pass over the data, unacceptable at scale.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Schema-evolution read: union the schemas of all parquet footers
    * under `path` (columns added over time arrive as nulls in old
    * files). `mergeSchema` is a footer-only pass — no data scan — but
    * still O(files); production tables pin the merged schema in a
    * catalog instead of re-deriving it per query, so this is the
    * ingest-time tool, not the hot path. */
  def readParquetEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Evolution read beyond added-columns: reads a sequence of file
    * **generations** (snapshots written under different schemas) into
    * the single **current** schema `target`, reconciling per generation
    *
    *  - **renames** via `renames: old -> new` (a generation that still
    *    stores the old name reads it into the new one);
    *  - **type widening** (int→long, float→double, …): each stored
    *    column is cast to its target type, but only if the stored type
    *    upcasts losslessly — a narrowing evolution (long→int) is a data
    *    bug and fails fast instead of silently truncating 100 TB;
    *  - **added columns**: generations without a target column surface
    *    it as typed nulls.
    *
    * Parquet's own `mergeSchema` refuses exactly these conflicts
    * (CANNOT_MERGE_SCHEMAS on an int→long change), which is why the
    * unit of evolution is the generation, aligned BEFORE the union —
    * the same shape a table format's catalog uses: schema-per-snapshot,
    * resolved at read, no data rewrite. */
  def readParquetEvolved(spark: SparkSession, generations: Seq[String],
      target: StructType, renames: Map[String, String] = Map.empty): DataFrame =
    generations.map(path => alignToSchema(spark.read.parquet(path), target, renames))
      .reduce(_ unionByName _)

  /** Align one generation (a DataFrame read under its stored schema) to
    * `target`: stored columns cast with checked LOSSLESS widening,
    * renamed columns mapped via `renames: old -> new`, absent columns
    * surfaced as typed nulls. The shared alignment step of
    * [[readParquetEvolved]] and [[readVersionEvolved]]. */
  private[sources] def alignToSchema(df: DataFrame, target: StructType,
      renames: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def checkedCast(name: String, from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Unit =
      require(from == to ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to),
        s"column $name: stored type $from does not widen losslessly to $to")
    val stored = df.schema.map(f => f.name -> f.dataType).toMap
    val cols = target.fields.map { f =>
      val source =
        if (stored.contains(f.name)) Some(f.name)
        else renames.collectFirst {
          case (o, n) if n == f.name && stored.contains(o) => o
        }
      source match {
        case Some(s) =>
          checkedCast(s, stored(s), f.dataType)
          col(s).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Small-file compaction — the 100 TB housekeeping operator: a table
    * ingested by many micro-batches accumulates files far smaller than
    * a scan task wants (every file costs a footer read, a task
    * schedule, and an object-store request). Rewrites `inPath` into
    * ~`targetRecordsPerFile`-sized files. A plain `repartition(n)` is a
    * full shuffle; for append-mostly tables run this per partition
    * directory so only the small-file tail is rewritten. Returns
    * (files before, files after). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long): (Int, Int) = {
    import org.apache.spark.sql.functions.input_file_name
    val df = spark.read.parquet(inPath)
    val before = df.select(input_file_name()).distinct().count().toInt
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRecordsPerFile).toInt)
    df.repartition(nFiles)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(outPath)
    val after = spark.read.parquet(outPath)
      .select(input_file_name()).distinct().count().toInt
    (before, after)
  }

  /** Range-clustered write — the data-skipping layout: rows are
    * range-partitioned AND sorted within files on `keyCol`, so every
    * file covers a disjoint key interval and parquet row-group min/max
    * statistics let a point or range predicate skip all but the
    * relevant files. This is the poor-man's Z-order for a single
    * dominant predicate column; at 100 TB it turns a full scan into a
    * handful of row groups. The sort is per-partition (no global
    * sort barrier beyond the range exchange's sampling pass). */
  def writeRangeLayout(df: DataFrame, path: String, keyCol: String,
      numFiles: Int): Unit =
    rangeCluster(df, keyCol, numFiles)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** The clustering transform alone (range exchange + in-partition
    * sort) — reused by the path writer above, by catalog inserts
    * honoring `layout.range`, and by layout-aware compaction. */
  def rangeCluster(df: DataFrame, keyCol: String, numFiles: Int): DataFrame =
    df.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions(keyCol)

  /** Bit-interleaved Z-order key over two non-negative integer columns
    * (each masked to `bits` low bits): bit i of `x` lands at position
    * 2i, bit i of `y` at 2i+1. Unrolled fold → one codegen'd expression,
    * no UDF. Inputs must already be comparable-scale (normalized); use
    * [[writeZOrderLayout]] for automatic min-max normalization.
    */
  def zorderKey(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(org.apache.spark.sql.functions.lit(0L)) {
      (acc, i) =>
        acc
          .bitwiseOR(shiftleft(x.bitwiseAND(lit(1L << i)), i))
          .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << i)), i + 1))
    }

  /** The DuckDB rendering of [[zorderKey]] (generated unrolled OR chain
    * — exact bit-for-bit parity with the Spark fold). */
  def zorderKeySql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  /** Multi-dimensional clustering: min-max-normalize two columns to
    * `bits`-bit ranks, range-partition + sort by their interleaved
    * Z-order key, and write. Files then cover small RECTANGLES in
    * (c1, c2) space instead of stripes in one column, so parquet
    * min/max row-group stats prune scans filtered on EITHER column —
    * the data-skipping layout for two-predicate workloads (the same
    * contract as Delta's OPTIMIZE ZORDER BY). Normalization is linear
    * min-max (one tiny agg job); heavily skewed dimensions would want
    * rank (quantile) normalization instead — documented trade-off.
    */
  def writeZOrderLayout(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int, bits: Int = 10): Unit =
    zorderCluster(df, c1, c2, numFiles, bits)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** The Z-order clustering transform alone (min-max normalize, range
    * exchange + sort by the interleaved key) — see [[writeZOrderLayout]]
    * for the layout contract. */
  def zorderCluster(df: DataFrame, c1: String, c2: String,
      numFiles: Int, bits: Int = 10): DataFrame = {
    val r = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    if (r.isNullAt(0) || r.isNullAt(2)) return df // empty batch: as-is
    val (lo1, hi1, lo2, hi2) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val n = (1L << bits) - 1
    def norm(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(n), floor((c.cast("double") - lo) / (hi - lo) * (n + 1))
        .cast("long"))
    val zk = "__zkey"
    df.withColumn(zk,
        zorderKey(norm(col(c1), lo1, hi1), norm(col(c2), lo2, hi2), bits))
      .repartitionByRange(numFiles, col(zk))
      .sortWithinPartitions(zk)
      .drop(zk)
  }

  /** Apply the table's DECLARED clustering (`layout.range` = one key,
    * or `layout.zorder` = "c1,c2"; `layout.files` caps files per
    * batch) to a batch about to be committed. Columns missing from the
    * batch (or no declared layout) pass the batch through unchanged —
    * layout is an optimization, never a write barrier. */
  private[sources] def clusterByLayout(df: DataFrame, table: String,
      toRelease: scala.collection.mutable.Buffer[DataFrame]): DataFrame =
    clusterByLayoutProps(df, tableProperties(table), toRelease)

  private[sources] def clusterByLayoutProps(df: DataFrame,
      props: Map[String, String],
      toRelease: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty): DataFrame = {
    val files = props.get("layout.files").map(_.trim.toInt).getOrElse(8)
    props.get("layout.range").map(_.trim) match {
      case Some(key) if df.schema.fieldNames.contains(key) =>
        rangeCluster(df, key, files)
      case _ =>
        props.get("layout.zorder")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty)) match {
          case Some(Array(c1, c2))
              if df.schema.fieldNames.contains(c1) &&
                df.schema.fieldNames.contains(c2) =>
            // pin the batch before the bounds aggregate: the z-order
            // normalization needs min/max FIRST, and without
            // materialization an INSERT ... SELECT's arbitrary query
            // would execute twice (once for bounds, once for the
            // write). persist (recomputable, caller unpersists after
            // the commit via clusterCleanup) rather than
            // localCheckpoint (non-fault-tolerant, never released)
            val pinned = df.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            toRelease.append(pinned)
            zorderCluster(pinned, c1, c2, files)
          case _ => df
        }
    }
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC — the other columnar format Spark ships natively (vectorized
    * reader, predicate pushdown, column pruning all apply, same as
    * parquet). Schema is taken from the ORC footers (self-describing);
    * pass a `StructType` via `.schema` upstream only to pin column
    * order. Avro is NOT exposed: the `spark-avro` datasource module is
    * not on this classpath (only avro-core), and adding deps is out of
    * contract. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  // ---- Snapshot-versioned table (manifest-pinned file lists) ----------
  //
  // The minimal table format: every commit writes its data files into an
  // immutable batch directory, then atomically publishes a manifest
  // (v<N>.manifest, one absolute file path per line) that names the
  // table's EXACT file set at that version. Readers resolve a manifest
  // once and scan only its files, so they are isolated from concurrent
  // commits (no torn reads of a directory being rewritten), old versions
  // remain queryable (time travel), and a bad commit is undone by
  // re-publishing an old file list (rollback without data movement).
  // This is the property the incremental-dedup store had to hand-roll
  // (pin the file list at call time) and the contract Delta/Iceberg
  // scale to thousands of commits; directory listing is the anti-pattern
  // it replaces. The manifest write is temp-file + atomic rename.

  // ---- writer-recorded per-file footer schemas (`_COLS` sidecars) --------
  // Read paths that need a PER-FILE schema (the eq-delete generation
  // split, the evolved-read generation grouping) used to open O(files)
  // parquet footers driver-side — serial metadata IO that stalls the
  // driver on a wide CDF range (round-9 verdict). The WRITER knows the
  // footer shape at commit time, so every batch write now records it:
  // a `_COLS` sidecar at the batch root (`*\t<schemaJson>` — applies to
  // every parquet file below) or, for pre-written streaming epoch
  // files, appended per-file lines (`<basename>\t<schemaJson>`). The
  // underscore prefix keeps it invisible to Spark's file index.
  // Resolution falls back to a footer open ONLY for pre-sidecar files —
  // counted in [[footerProbes]] so EqualityDeleteSpec can witness the
  // zero-open path.

  private[graft] val footerProbes =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The one Hadoop configuration of every driver-side footer read: a
    * fresh `Configuration` reloads core-default/core-site by scanning
    * the classpath jars on first use, a cost per read otherwise. */
  private[graft] lazy val footerConf = new org.apache.hadoop.conf.Configuration()
  // file -> footer schema; entries are immutable once written (batch
  // dirs are uuid-named and never rewritten), so a process-wide cache
  // is safe and collapses repeated CDF ranges to zero metadata IO.
  // BOUNDED: an always-on maintainer driver resolves one entry per
  // data file ever written across every table in the process —
  // unbounded, that is a slow heap leak, so the cache resets once it
  // crosses a generous ceiling (a reset only costs re-reading _COLS
  // sidecar lines, never parquet footers, for files still referenced)
  private val fileSchemaCacheMax = 1 << 16
  private val fileSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def recordBatchCols(batchPath: String, footer: StructType): Unit = {
    val p = java.nio.file.Paths.get(batchPath, "_COLS")
    // a 0-partition write creates no dir — nothing to describe
    if (java.nio.file.Files.exists(p.getParent))
      java.nio.file.Files.write(p, s"*\t${footer.json}\n".getBytes("UTF-8"))
  }

  /** Append per-file footer-schema lines next to pre-written files (the
    * streaming-epoch commit path, where many epochs share one dir).
    * Epoch commits are serialized per query; a torn line from a crash
    * mid-append is skipped by the defensive parse and that file simply
    * falls back to a footer probe. */
  private[sources] def recordFileCols(files: Seq[String],
      footer: StructType): Unit =
    files.groupBy(f => java.nio.file.Paths.get(f).getParent).foreach {
      case (dir, fs) if dir != null && java.nio.file.Files.exists(dir) =>
        val lines = fs.map(f =>
          s"${java.nio.file.Paths.get(f).getFileName}\t${footer.json}\n")
          .mkString
        java.nio.file.Files.write(dir.resolve("_COLS"),
          lines.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      case _ => ()
    }

  private def parseColsLines(p: java.nio.file.Path): Seq[(String, StructType)] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.toSeq.flatMap { l =>
      l.split("\t", 2) match {
        case Array(n, j) =>
          try Some(n -> org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType])
          catch { case _: Exception => None } // torn/foreign line: skip
        case _ => None
      }
    }

  /** Footer schema of one committed parquet file, resolved from the
    * writer-recorded `_COLS` sidecar (exact-name line in the file's own
    * dir, else the nearest ancestor's `*` line), with a counted footer
    * open only for pre-sidecar files. */
  private[sources] def fileSchemaOf(spark: SparkSession,
      file: String): StructType = {
    val cached = fileSchemaCache.get(file)
    if (cached != null) return cached
    val fp = java.nio.file.Paths.get(file)
    val base = fp.getFileName.toString
    @annotation.tailrec
    def lookup(dir: java.nio.file.Path, depth: Int): Option[StructType] =
      if (dir == null || depth > 8) None
      else {
        val c = dir.resolve("_COLS")
        val hit =
          if (!java.nio.file.Files.exists(c)) None
          else {
            val lines = parseColsLines(c)
            lines.collectFirst { case (n, s) if n == base => s }
              .orElse(lines.collectFirst { case ("*", s) => s })
          }
        hit match {
          case some @ Some(_) => some
          case None => lookup(dir.getParent, depth + 1)
        }
      }
    val resolved = lookup(fp.getParent, 0).getOrElse {
      footerProbes.incrementAndGet()
      spark.read.parquet(file).schema
    }
    if (fileSchemaCache.size() >= fileSchemaCacheMax)
      fileSchemaCache.clear()
    fileSchemaCache.put(file, resolved)
    resolved
  }

  private def manifestDir(table: String) = new java.io.File(table)

  private[sources] def versionsOf(table: String): Seq[Int] = {
    val d = manifestDir(table)
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName)
      .collect { case s if s.matches("v\\d+\\.manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
  }

  private[sources] def manifestLines(table: String, version: Int): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table, s"v$version.manifest"))).asScala.toSeq

  private[sources] def filesOf(table: String, version: Int): Seq[String] =
    manifestLines(table, version)
      // `#`-prefixed lines are metadata trailers (staged-sidecar
      // pointers, the `#txn` ledger), not data files
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  // ---- the exactly-once ledger: `#txn` manifest trailers -------------
  //
  // Every change-feed maintainer and streaming sink records how far it
  // has applied as one `#txn\t<consumer>\t<n>` trailer in the manifest
  // of the commit that applies it — Delta's SetTransaction (appId,
  // version) riding the log entry it guards. The position and the data
  // it covers publish in ONE atomic manifest link, so no crash window
  // exists between "applied" and "recorded". [[publish]] copies
  // the previous version's entries forward and replaces only the
  // committing consumer's, so every commit path (compaction, purge,
  // rollback, merges) keeps the ledger without per-path code. For a
  // change-feed consumer `n` is the highest source version applied and
  // the consumer id names the maintainer kind and its source table
  // ([[txnConsumer]]), so a fresh checkpoint's full replay filters down
  // to nothing; for a sink without a source version `n` is the epoch
  // or batch id and the consumer is the streaming query id.

  /** The ledger entries (consumer -> applied position) recorded in
    * `version`'s manifest; empty for version 0 or a missing manifest.
    * A malformed entry FAILS LOUDLY: reading it as "never applied"
    * would re-apply a batch. */
  private def txnsOf(table: String,
      version: Int): Map[String, Long] = {
    val p = java.nio.file.Paths.get(table, s"v$version.manifest")
    if (version < 1 || !java.nio.file.Files.exists(p)) Map.empty
    else manifestLines(table, version).filter(_.startsWith("#txn"))
      .map { l =>
        l.split("\t", -1) match {
          case Array("#txn", c, n) if c.nonEmpty && n.matches("\\d+") =>
            c -> n.toLong
          case _ => throw new IllegalStateException(
            s"malformed ledger line in $table v$version: '$l'")
        }
      }.toMap
  }

  /** `consumer`'s applied position as recorded at the head of `table`,
    * or -1 if it has applied nothing there. Reads one manifest; starts
    * no Spark job. */
  def appliedVersion(table: String, consumer: String): Long =
    txnsOf(table, latestVersion(table)).getOrElse(consumer, -1L)

  /** The ledger id of a change-feed maintainer: its kind plus its
    * source table's absolute path — stable across checkpoints. */
  def txnConsumer(kind: String, source: String): String =
    s"$kind:${java.nio.file.Paths.get(source).toAbsolutePath.normalize}"

  /** Does `version` already record `txn`'s position (or a later one)? */
  private def txnApplied(table: String, version: Int,
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (c, n) => txnsOf(table, version).get(c).exists(_ >= n) }

  /** Latest committed version of `table`, or 0 if none. */
  def latestVersion(table: String): Int = versionsOf(table).lastOption.getOrElse(0)

  /** On a lineage table, a caller batch must never supply the reserved
    * `_row_id` column: the read-side coalesce PREFERS a materialized
    * column, so forged or duplicated ids would silently corrupt row
    * identity (and multiply matches in the lineage feed's full-outer
    * join). Mirrors the enable-time guard; the internal rewrite paths
    * that legitimately materialize ids (CoW survivors, the SQL delta
    * write) publish directly and never pass through here. */
  private def requireNoForgedRowIds(table: String, schema: StructType,
      op: String): Unit =
    require(!(schema.fieldNames.contains(RowIds.COL) &&
        RowIds.enabled(table)),
      s"$op on $table: the batch carries ${RowIds.COL}, the reserved " +
        "lineage identity column — ids are table-assigned, never " +
        "caller-supplied")

  /** Commit `df` to `table` as a new version. `overwrite = false`
    * appends to the previous version's file set; `true` replaces it.
    * Returns the published version number.
    *
    * Optimistic concurrency: the data batch is written ONCE (immutable,
    * uniquely named), then the manifest publish claims the next version
    * number atomically ([[publish]]); if a concurrent committer
    * claimed it first, the commit RE-READS the new latest file set and
    * retries with the next number — append commits commute (each
    * retry re-carries the winner's files, so no commit is ever lost)
    * and an overwrite retry still means "replace whatever is latest".
    * This is the contended-commit protocol every shared table format
    * needs (Delta/Iceberg do the same dance against the log store);
    * a bounded attempt count turns pathological contention into a loud
    * failure instead of livelock. */
  def commitVersion(df: DataFrame, table: String,
      overwrite: Boolean = false,
      txn: Option[(String, Long)] = None): Int = {
    requireNoForgedRowIds(table, df.schema, "commitVersion")
    // `txn` (consumer, position) rides the manifest as a ledger entry;
    // a head that already records it makes the commit a no-op that
    // returns the head version
    val head = latestVersion(table)
    if (txnApplied(table, head, txn)) return head
    val cover = sidecarCover(table, head)
    val written = writeBatch(df, table, cover)
    val files = written.files
    def dropBatch(): Unit = files.headOption.foreach(f =>
      deleteBatchDir(java.nio.file.Paths.get(f).getParent))
    try publishNextVersion(table, files, overwrite,
      batchSchema = Some(df.schema), txn = txn,
      fresh = written.lines, cover = cover).getOrElse {
      dropBatch() // a racing run of the same consumer applied it first
      latestVersion(table)
    }
    catch { case e: IllegalArgumentException =>
      // schema-incompatible append (or exhausted publish race): nothing
      // was published, so the just-written batch would be stranded —
      // delete it before surfacing the rejection
      dropBatch()
      throw e
    }
  }

  /** Append-commit PRE-WRITTEN immutable files (a streaming epoch's
    * task outputs) as the next version — the publish half of
    * [[commitVersion]] for writers that already landed their parquet
    * through the executor-side writer machinery. With a `txn` the head
    * already records, nothing is published and the head version is
    * returned (the files stay the caller's to delete). With no files it
    * publishes a manifest-only version — the head's exact file set,
    * schema and skipping sidecars under a new number — the bookmark a
    * consumer whose drain changed nothing uses to record its `txn`.
    * `fresh` carries the files' sidecar lines from their writers. */
  private[graft] def commitVersionFiles(table: String, files: Seq[String],
      batchSchema: Option[StructType] = None,
      txn: Option[(String, Long)] = None,
      fresh: SidecarLines = SidecarLines.empty,
      cover: StatsCover = StatsCover.empty): Int = {
    batchSchema.foreach(s =>
      requireNoForgedRowIds(table, s, "commitVersionFiles"))
    // pre-written epoch files share dirs across epochs — record their
    // footer shape per file so CDF readers never re-open the footers
    batchSchema.foreach(recordFileCols(files, _))
    publishNextVersion(table, files, overwrite = false,
      batchSchema = batchSchema, txn = txn, fresh = fresh, cover = cover)
      .getOrElse(latestVersion(table))
  }

  /** Write `df` as an immutable, uniquely-named batch directory under
    * the table — the data half of every commit path. */
  private def writeBatch(df: DataFrame, table: String,
      cover: StatsCover): WrittenBatch =
    writePartitionedBatch(df, table, java.nio.file.Paths.get(table, "data",
      s"batch-${java.util.UUID.randomUUID().toString.take(12)}").toString,
      cover)

  /** Recursively delete a directory tree (a rejected/orphaned batch
    * dir, a dropped table, a dropped namespace) — partitioned writes
    * create subdirectories, so a flat listFiles().delete() would
    * silently leave the tree (and its data) stranded on disk. The ONE
    * destructive-filesystem helper; every caller routes through it. */
  private[graft] def deleteTree(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(path).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private def deleteBatchDir(path: java.nio.file.Path): Unit =
    deleteTree(path)

  /** The contended-publish loop of the commutable commit paths
    * ([[commitVersion]], [[commitVersionFiles]], [[commitVersionChecked]],
    * [[commitVersionEvolving]]): a retry loop over [[publish]]. Each
    * attempt rebuilds the version against the re-read head — an append
    * re-carries the winner's files with their DV and eq state, declared
    * schema and skipping lines; an overwrite still replaces whatever is
    * latest — and a lost claim tries the next number. The lost-coverage
    * scan runs at most once per file across attempts (`scanned`): data
    * files are immutable. Bounded so pathological contention fails
    * loudly instead of livelocking. `declared` fixes the version's
    * declared schema (the evolving commit's); otherwise an append onto
    * a declared head re-declares it evolved by `batchSchema` (strict: a
    * narrowing batch is rejected before anything is published), and an
    * overwrite declares nothing — the batch footer IS the schema —
    * unless it is empty and has no footer to fall back to. The merges
    * and rewrites call [[publish]] directly: their file lists are
    * derived from one version and do not commute with a racing commit. */
  private def publishNextVersion(table: String, newFiles: Seq[String],
      overwrite: Boolean, batchSchema: Option[StructType] = None,
      declared: Option[StructType] = None,
      txn: Option[(String, Long)] = None,
      fresh: SidecarLines = SidecarLines.empty,
      cover: StatsCover = StatsCover.empty): Option[Int] = {
    val scanned = new ScanMemo
    var attempt = 0
    while (true) {
      val prev = latestVersion(table)
      // the ledger check runs per attempt against the version the claim
      // builds on: of two racing runs of one consumer only one applies
      if (txnApplied(table, prev, txn)) return None
      val replace = overwrite || prev == 0
      val carried = if (replace) Nil else filesOf(table, prev)
      val schema = declared.orElse(
        if (replace) batchSchema.filter(_ => newFiles.isEmpty)
        // a manifest-only append (a consumer's bookmark) re-publishes
        // the head's file set, so its schema carries as it is
        else if (newFiles.isEmpty) declaredSchema(table, prev)
        else batchSchema.flatMap(bs => declaredSchema(table, prev)
          .map(evolveSchema(_, bs, Map.empty))))
      try return Some(publish(table, prev,
          if (overwrite) "overwrite" else "append", carried ++ newFiles)(
        dv = if (replace) Map.empty else carriedDv(table, prev, carried),
        eq = if (replace) Nil else carriedEq(table, prev, carried),
        schema = schema, carryFrom = if (replace) -1 else prev,
        fresh = fresh, cover = cover, txn = txn, scanned = scanned))
      catch {
        case _: java.util.ConcurrentModificationException =>
          attempt += 1
          require(attempt < 64,
            s"publishNextVersion: lost the publish race $attempt times on $table")
      }
    }
    None // unreachable
  }

  /** Re-publish `version`'s exact file list as the new latest —
    * rollback with zero data movement. The restored version's DV and eq
    * state, declared schema and skipping lines ride the claim, so
    * readers of the restored file set see its own schema contract.
    * Conflict-detecting: if another commit lands while rolling back,
    * the rollback FAILS (restoring over an unseen commit would silently
    * discard it). */
  def rollbackTo(table: String, version: Int): Int =
    publish(table, latestVersion(table), "rollback", filesOf(table, version))(
      dv = dvOf(table, version), eq = eqOf(table, version),
      schema = declaredSchema(table, version), carryFrom = version,
      cover = sidecarCover(table, version))

  // ---- the one publish: a version is its manifest ---------------------
  //
  // Everything a version owns publishes with ONE atomic manifest link:
  // its file list, and the sidecars it carries — DV and eq state, the
  // declared schema, the stats/NDV/bloom lines — each written BEFORE the
  // link under a uniquely-named staged file that a `#sidecar <ext>
  // <name>` trailer names, plus the `#txn` ledger and a `#commit <op>`
  // record. A reader that can see the manifest can therefore always
  // resolve the version's complete metadata; no crash between the link
  // and a later write can leave a version without its schema, its
  // deletes or its skipping lines, and no racing committer's carry pass
  // can see the claimed version without them (the classic sidecar
  // TOCTOU). After the link only the promote renames (staged name to
  // canonical `v<N>.<ext>`) and the lineage id cache write run; a reader
  // repairs an interrupted promote on first resolve
  // ([[resolveSidecar]]). Delta's log entry is the model: `metaData` and
  // each file's `add.stats` in one atomic commit file.

  /** Publish `files` as version `basedOn + 1` of `table`, REQUIRING that
    * `basedOn` is still the latest: a lost race surfaces as
    * ConcurrentModification with a clear retry instruction — never a
    * silent lost update, never a raw filesystem exception — after the
    * staged sidecars are discarded. Anything failing before the link
    * (staging, the lost-coverage scan) fails the commit with nothing
    * published.
    *
    * By default the version carries `basedOn`'s declared schema
    * ([[carriedSchema]]) and, over `cover`, `carryFrom`'s stats/NDV/bloom
    * lines for every file it keeps; `fresh` holds the lines of the files
    * the commit wrote. A kept file `carryFrom` counts no rows for
    * (committed before its table covered any column, or carried from a
    * version whose lines were lost) is read once through the writers'
    * accumulator ([[scanFileStats]]), so lost coverage comes back on the
    * next commit; otherwise nothing is scanned. `op` names the commit in
    * its `#commit` record ([[history]]). */
  private[sources] def publish(table: String, basedOn: Int, op: String,
      files: Seq[String])(
      dv: Map[String, java.util.BitSet] = Map.empty,
      eq: Seq[EqEntry] = Nil,
      schema: Option[StructType] = carriedSchema(table, basedOn, files),
      carryFrom: Int = basedOn,
      fresh: SidecarLines = SidecarLines.empty,
      cover: StatsCover = sidecarCover(table, basedOn),
      txn: Option[(String, Long)] = None,
      scanned: ScanMemo = new ScanMemo): Int = {
    val next = basedOn + 1
    val content = (if (dv.isEmpty) Nil else Seq("dv" -> dvText(dv))) ++
      (if (eq.isEmpty) Nil else Seq("eq" -> eqText(eq))) ++
      schema.map(s => "schema" -> s.json) ++ sidecarTexts(skippingLines(
        table, files, carryFrom, fresh, cover, scanned), cover)
    val staged = scala.collection.mutable.LinkedHashMap.empty[String, String]
    try {
      content.foreach { case (ext, text) =>
        staged(ext) = stageSidecar(table, ext, text.getBytes("UTF-8")) }
      linkManifest(table, next, files, staged.toMap, op, txn)
    } catch {
      case e: Throwable =>
        discardStaged(table, staged.toMap)
        e match {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new java.util.ConcurrentModificationException(
              s"$op on $table was based on v$basedOn but another commit " +
                s"claimed v$next first; re-read the table and retry the $op")
          case _ => throw e
        }
    }
    promoteStaged(table, next, staged.toMap)
    // row-lineage tables persist the version's id assignment eagerly
    // (deterministic derivation makes this a best-effort cache write —
    // a crash here self-heals on the next read); disabled tables pay
    // one properties-file probe
    if (RowIds.enabled(table)) RowIds.ensure(table, next)
    next
  }

  /** The declared schema a version carries from `base` by default: the
    * base's own. A base without one pins its effective schema (minus
    * the internal `_row_id` column) when the version would otherwise
    * lose its schema source: an emptied version has no data file whose
    * footer could serve it, and on a lineage table a rewrite's
    * materialized ids must never leak into footer-inferred reads. */
  private def carriedSchema(table: String, base: Int,
      files: Seq[String]): Option[StructType] =
    declaredSchema(table, base).orElse {
      if (base < 1 || filesOf(table, base).isEmpty ||
          (files.nonEmpty && !RowIds.enabled(table))) None
      else Some(StructType(schemaOf(SparkSession.active, table, base)
        .fields.filterNot(_.name == RowIds.COL)))
    }

  /** Link `files` as the `version` manifest, or throw
    * `FileAlreadyExistsException` if that version was already claimed.
    *
    * The content is written to a temp file first, then HARD-LINKED to
    * the manifest name: link creation is the one filesystem primitive
    * that both fails atomically when the target exists (the version
    * claim — O_EXCL semantics) and exposes only complete content to
    * readers (the link points at fully-written bytes). A `Files.move`
    * without REPLACE_EXISTING looks equivalent but its exists-check +
    * rename is NOT atomic on POSIX — two racing committers could both
    * pass the check and the second rename would silently OVERWRITE the
    * first manifest, losing a commit. Trailers name the staged
    * sidecars, carry the `#txn` ledger forward from the previous
    * version with the committing consumer's entry replaced, and record
    * the operation. */
  private def linkManifest(table: String, version: Int,
      files: Seq[String], sidecars: Map[String, String], op: String,
      txn: Option[(String, Long)]): Unit = {
    txn.foreach { case (c, n) =>
      require(c.nonEmpty && !c.exists(ch => ch == '\t' || ch == '\n') &&
        n >= 0, s"invalid ledger entry ($c, $n) for $table")
    }
    val dir = java.nio.file.Paths.get(table)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, s".v$version", ".tmp")
    val ledger = (txnsOf(table, version - 1) ++ txn).toSeq.sortBy(_._1)
    val lines = files ++ sidecars.toSeq.sortBy(_._1)
      .map { case (ext, name) => s"#sidecar\t$ext\t$name" } ++
      ledger.map { case (c, n) => s"#txn\t$c\t$n" } :+ s"#commit\t$op"
    java.nio.file.Files.write(tmp,
      lines.mkString("\n").getBytes("UTF-8"))
    try java.nio.file.Files.createLink(dir.resolve(s"v$version.manifest"), tmp)
    finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Write sidecar bytes under a unique staged name (returns it). */
  private def stageSidecar(table: String, ext: String,
      bytes: Array[Byte]): String = {
    val name = s".staged-${java.util.UUID.randomUUID().toString.take(12)}.$ext"
    val dir = java.nio.file.Paths.get(table)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".stage", ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    name
  }

  /** ext -> staged-file name for a version's manifest trailers. A
    * malformed pointer fails loudly: dropping it would read the
    * version's deletes as absent. */
  private[sources] def sidecarPointersOf(table: String,
      version: Int): Map[String, String] = {
    val p = java.nio.file.Paths.get(table, s"v$version.manifest")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else manifestLines(table, version).filter(_.startsWith("#sidecar"))
      .map { l =>
        l.split("\t", -1) match {
          case Array("#sidecar", ext, name) if ext.nonEmpty && name.nonEmpty =>
            ext -> name
          case _ => throw new IllegalStateException(
            s"malformed sidecar pointer in $table v$version: '$l'")
        }
      }.toMap
  }

  /** Sidecar kinds that only prune: a lost one reads as "no lines". */
  private val skippingKinds = Set("stats", "ndv", "bloom")

  /** Resolve a version's sidecar file — every metadata reader comes
    * through here, so only the writers' promote and the sweeps name
    * the canonical `v<N>.<ext>` files too. The canonical file if it is a
    * regular file (anything else standing there counts as absent),
    * else the manifest's staged pointer, repair-renaming it to canonical
    * opportunistically (racing the committer's own rename is benign:
    * ATOMIC_MOVE of the same source lets exactly one win). A version
    * whose manifest names no pointer falls back to the canonical file
    * alone (tables written before the pointers). A sidecar that exists
    * neither staged nor canonical FAILS LOUDLY for the schema, DV and eq
    * kinds — reading them as absent would change the version's columns
    * or bring its deleted rows back — and reads as "no lines" for the
    * stats, NDV and bloom kinds, which only prune. */
  private[sources] def resolveSidecar(table: String, version: Int,
      ext: String): Option[java.nio.file.Path] = {
    val canonical = java.nio.file.Paths.get(table, s"v$version.$ext")
    def regular(p: java.nio.file.Path) = java.nio.file.Files.isRegularFile(p)
    if (regular(canonical)) return Some(canonical)
    val pointer = sidecarPointersOf(table, version).get(ext)
    val staged = pointer.map(java.nio.file.Paths.get(table, _))
    staged.filter(regular).foreach(s => scala.util.Try(
      java.nio.file.Files.move(s, canonical,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)))
    if (regular(canonical)) Some(canonical)
    else staged.filter(regular).orElse {
      if (skippingKinds(ext) ||
          (pointer.isEmpty && !java.nio.file.Files.exists(canonical))) None
      else throw new IllegalStateException(
        s"$table v$version points at its $ext sidecar " +
          s"${pointer.getOrElse(s"v$version.$ext")}, which exists neither " +
          s"staged nor canonical as a file — its $ext state is lost")
    }
  }

  private def promoteStaged(table: String, version: Int,
      staged: Map[String, String]): Unit =
    staged.foreach { case (ext, name) =>
      scala.util.Try(java.nio.file.Files.move(
        java.nio.file.Paths.get(table, name),
        java.nio.file.Paths.get(table, s"v$version.$ext"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE))
    }

  private def discardStaged(table: String, staged: Map[String, String]): Unit =
    staged.foreach { case (_, name) =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, name))
    }

  /** Read `table` at `version` (default: latest) by its pinned file
    * list, through the stats-skipping manifest index: every later
    * `.filter` the optimizer pushes down prunes manifest files at
    * planning time. An empty table (version 0) is an error by design —
    * there is no schema to serve. Rows the version's DV sidecar
    * ([[deleteWhereDv]]) marks and rows its pending equality deletes
    * ([[mergeVersionEq]]) retire are filtered out ([[readRows]]).
    * The schema is the DECLARED one where it exists: after a type
    * widening, file generations mix (int32 and int64 cnt), and the
    * declared read widens narrow generations through the parquet
    * reader's type promotion. Building the frame starts no Spark job. */
  def readVersion(spark: SparkSession, table: String,
      version: Int = -1): DataFrame = {
    val v = if (version < 0) latestVersion(table) else version
    require(v > 0, s"$table has no committed versions")
    if (filesOf(table, v).nonEmpty) readLive(spark, table, v)
    else
      // an emptied version (delete-all / TRUNCATE / CREATE) serves its
      // pinned declared schema as an empty relation
      declaredSchema(table, v) match {
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None => throw new IllegalArgumentException(
          s"$table v$v has an empty file list and no declared schema")
      }
  }

  // ---- deletion vectors: merge-on-read row-level deletes -------------
  //
  // A point DELETE on a copy-on-write table rewrites the whole
  // containing file — at 100 TB a one-row GDPR erasure becomes a
  // multi-GB write. The `v<N>.dv` sidecar replaces that with
  // MERGE-ON-READ: the delete COMMIT records only (file -> deleted row
  // positions) next to an UNCHANGED manifest (zero data-file rewrite),
  // and every reader filters the marked positions out via the scan's
  // own `_metadata.row_index`. Deletes become metadata-speed; the read
  // tax is one broadcast bitset probe per row of a DV'd file, and it is
  // RECLAIMED — compaction ([[compactVersion]]) and the targeted
  // [[purgeDv]] rewrite absorb DVs back into clean files. This is the
  // Delta/Iceberg deletion-vector design on the manifest format:
  //  - positions come from the parquet scan's stable `_metadata.row_index`
  //    (data files are immutable, so a position pins a row forever);
  //  - the sidecar is commit metadata (KBs), published with the same
  //    atomic protocol as the manifest, versioned with it (time travel
  //    sees each version's own DVs; rollback restores them);
  //  - appends CARRY the previous version's DVs forward (a deleted row
  //    must not resurrect under an unrelated commit), rewrites DROP the
  //    entries of the files they replace, vacuum sweeps the sidecar
  //    with its manifest.

  /** file -> deleted-row positions for a version; empty if the version
    * has no DV sidecar. A malformed line FAILS LOUDLY: read as "no DV"
    * for its file, every row that file ever deleted would silently come
    * back to life, and no reader could tell. */
  def dvOf(table: String, version: Int): Map[String, java.util.BitSet] =
    resolveSidecar(table, version, "dv") match {
      case None => Map.empty
      case Some(p) => sidecarLines(p).map { line =>
        scala.util.Try {
          val Array(f, b64) = line.split("\t", 2)
          f -> java.util.BitSet.valueOf(
            java.util.Base64.getDecoder.decode(b64))
        }.getOrElse(throw new IllegalStateException(
          s"malformed DV line in $table v$version: '$line'"))
      }.toMap
    }

  private def sidecarLines(p: java.nio.file.Path): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.toSeq.filter(_.nonEmpty)

  /** Total deleted positions recorded for a version — the DV pressure
    * gauge a table owner reads before scheduling [[purgeDv]]. */
  def dvRowCount(table: String, version: Int): Long =
    dvOf(table, version).valuesIterator.map(_.cardinality().toLong).sum

  /** `dv` as DV sidecar text, one line per file ([[publish]] stages
    * it; an empty map publishes nothing — absence IS the clean state). */
  private[sources] def dvText(dv: Map[String, java.util.BitSet]): String =
    dv.toSeq.sortBy(_._1).map { case (f, bits) =>
      s"$f\t${java.util.Base64.getEncoder.encodeToString(bits.toByteArray)}"
    }.mkString("\n")

  /** `file:`-scheme scan paths normalized to the absolute form
    * manifests store (`_metadata.file_path` renders `file:///x`,
    * `input_file_name()` renders `file://x` — both must hit the same
    * sidecar key). The URI form is also percent-ENCODED — a space in a
    * hive partition value (`prio=4-NOT SPECIFIED`) renders `%20` — so
    * decode through java.net.URI; an unparsable (already-raw) string
    * falls back to the scheme strip. */
  private[graft] def normalizePath(p: String): String =
    if (!p.startsWith("file:")) p
    else scala.util.Try {
      val u = new java.net.URI(p)
      val path = Option(u.getPath).filter(_.nonEmpty)
      // a host-less `file://x/y` form parses `x` as authority — reattach
      path.map(pt => Option(u.getAuthority).fold(pt)(a => s"/$a$pt"))
        .getOrElse(p.replaceFirst("^file:/+", "/"))
    }.getOrElse(p.replaceFirst("^file:/+", "/"))

  /** `version`'s live rows of `files` (default: all of them) under its
    * own DV and eq state ([[readRows]]) — what every DataFrame read of a
    * version and every rewrite's survivor scan serves. Building it
    * starts no Spark job. */
  private[sources] def readLive(spark: SparkSession, table: String,
      version: Int, files: Option[Seq[String]] = None): DataFrame =
    readRows(spark, table, version, files, dvOf(table, version),
      eqOf(table, version))

  /** What [[readRows]] keeps of a scan. */
  private[sources] sealed trait DeleteMode
  private[sources] object DeleteMode {
    /** Rows neither DV-marked nor held by an in-scope entry: every read. */
    case object Live extends DeleteMode
    /** Live rows that an in-scope entry of `by` holds: the change
      * feed's eq deletes. */
    final case class RetiredBy(by: Seq[EqEntry]) extends DeleteMode
    /** Exactly the DV-marked rows: the change feed's grown-DV deletes. */
    case object Marked extends DeleteMode
  }

  /** What `dv` and `eq` delete from `files` under `mode` — the one
    * delete rule, which the native scan applies inside its reader and
    * every DataFrame read as a row predicate ([[readRows]]). A row is
    * dead when `dv` marks its position, or when an entry of `eq` whose
    * scope holds the row's file holds its key, matched by [[EqCheck]];
    * `mode` picks what is kept. An entry skips a file whose recorded
    * columns (`_COLS`, plus the identity partition columns) predate one
    * of its keys, and a scan that does not serve one (`served`): such a
    * file serves the key as NULL, and a NULL key matches nothing. Built
    * from sidecars and memoized key sets ([[EqKeyMemo]]): no Spark job. */
  private[sources] final class Deletes(spark: SparkSession, table: String,
      files: Seq[String], dv: Map[String, java.util.BitSet],
      eq: Seq[EqEntry], mode: DeleteMode, served: Set[String]) {
    private val norm = files.map(normalizePath).distinct
    private val marks =
      norm.flatMap(f => dv.get(f).map(f -> _.toByteArray)).toMap
    private val partCols = partitionColumnsOf(table).toSet
    private def scoped(e: EqEntry): Option[(EqEntry, Set[String])] =
      if (!e.keyCols.forall(served)) None
      else {
        val scope = eqScope(table, e)
        val hit = norm.filter(f => scope.contains(f) && e.keyCols.forall(k =>
          partCols(k) || fileSchemaOf(spark, f).fieldNames.contains(k))).toSet
        if (hit.isEmpty) None else Some(e -> hit)
      }
    private val drop = if (mode == DeleteMode.Marked) Nil else eq.flatMap(scoped)
    private val need = mode match {
      case DeleteMode.RetiredBy(by) => by.flatMap(scoped)
      case _ => Nil
    }

    /** The columns the eq checks read, in the order [[spec]] expects. */
    val keyCols: Seq[String] = (drop ++ need).flatMap(_._1.keyCols).distinct

    /** The rule keeps every row of `files`. */
    def keepsAll: Boolean =
      mode == DeleteMode.Live && marks.isEmpty && drop.isEmpty

    /** The rule keeps no row of `files`. */
    def keepsNone: Boolean = mode match {
      case DeleteMode.RetiredBy(_) => need.isEmpty
      case DeleteMode.Marked => marks.isEmpty
      case DeleteMode.Live => false
    }

    /** The rule as shipped state, for rows that hold key column `c`, of
      * type `types(c)`, at `ords(c)`. Per file, the entries reaching it
      * share one check per key shape ([[EqSets.union]]), so a row costs
      * one probe per shape however many entries are pending. */
    def spec(types: String => org.apache.spark.sql.types.DataType,
        ords: String => Int): DeleteSpec = {
      val sets = new EqSets(spark, (drop ++ need).map(_._1))
      val unions = scala.collection.mutable.Map.empty[Seq[EqEntry], Array[EqCheck]]
      def reaching(es: Seq[(EqEntry, Set[String])], f: String) = {
        val in = es.collect { case (e, hit) if hit(f) => e }
        unions.getOrElseUpdate(in, in.groupBy(_.keyCols).toSeq
          .sortBy(_._1.mkString(",")).flatMap { case (ks, g) =>
            sets.union(g, ks.map(types), ks.map(ords)) }.toArray)
      }
      val checks = norm.map(f => f -> ((reaching(drop, f), reaching(need, f))))
        .filter { case (_, (d, n)) => d.nonEmpty || n.nonEmpty }.toMap
      new DeleteSpec(
        (table, files, dvText(dv.filter(kv => marks.contains(kv._1))),
          drop.map(_._1.dataPath), need.map(_._1.dataPath), mode.toString),
        marks, checks, sets.sets, sets.tz, mode)
    }
  }

  /** The files `only` of `version` (None: all of them) through the one
    * reader, [[ManifestFileIndex.frameForFiles]] under `schema`
    * (default: the version's), filtered by the one delete rule
    * ([[Deletes]]) as a row predicate ([[DeleteFilter]]) over the
    * scan's `_metadata.file_path`/`row_index` and the entries' key
    * columns. The predicate runs inside the scan's own stage, so
    * neither building nor executing the frame starts a job of its own.
    * A scan with nothing to drop gets no filter. */
  private[sources] def readRows(spark: SparkSession, table: String,
      version: Int, only: Option[Seq[String]],
      dv: Map[String, java.util.BitSet], eq: Seq[EqEntry],
      mode: DeleteMode = DeleteMode.Live,
      schema: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val df = ManifestFileIndex.frameForFiles(spark, table, version,
      only.map(_.toSet), schema)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val d = new Deletes(spark, table, only.getOrElse(filesOf(table, version)),
      dv, eq, mode, types.keySet)
    if (d.keepsAll) df
    else if (d.keepsNone) df.filter(lit(false))
    else df.filter(org.apache.spark.sql.GraftColumnBridge.column(DeleteFilter(
      (Seq(UnresolvedAttribute(Seq("_metadata", "file_path")),
        UnresolvedAttribute(Seq("_metadata", "row_index"))) ++
        d.keyCols.map(UnresolvedAttribute.quoted)).toIndexedSeq,
      d.spec(types, d.keyCols.indexOf))))
  }

  // (DV carry for append paths is computed by [[carriedDv]] and staged
  // WITH the manifest claim — see the staged-sidecar protocol above.)

  /** Merge-on-read DELETE: rows matching `cond` are MARKED in the DV
    * sidecar of a new version whose manifest is byte-identical to the
    * previous one — no data file is read beyond the candidate scan, and
    * NONE is rewritten. SQL semantics match [[deleteWhere]] (NULL
    * predicate rows survive). `fileMayMatch` prunes the candidate scan
    * the way it prunes deleteWhere's rewrite set; `maxDvRows` bounds
    * the driver-held position set — a delete wider than that is not a
    * point delete and FALLS BACK to the copy-on-write path, whose cost
    * model (rewrite the affected files) is right for bulk deletes.
    * Returns (version, rows marked, usedDv). */
  def deleteWhereDv(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      fileMayMatch: String => Boolean = _ => true,
      maxDvRows: Int = 1 << 20): (Int, Long, Boolean) = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    val files = filesOf(table, v)
    val candidates = files.filter(fileMayMatch)
    if (candidates.isEmpty) return (v, 0L, true)
    val prevDv = dvOf(table, v)
    // candidate scan: matching rows' (file, position), minus rows the
    // previous DV (or a pending eq entry) already deleted — marking a
    // dead row would double-count here and double-delete in the CDF.
    // The one reader serves partition columns, so the predicate may
    // reference them on every layout, and the delete filter runs in the
    // scan's own job
    val matched = readLive(spark, table, v, Some(candidates))
      .filter(coalesce(cond, lit(false)))
      .select(col("_metadata.file_path").as("__p"),
        col("_metadata.row_index").as("__i"))
      .limit(maxDvRows + 1).collect()
    if (matched.length > maxDvRows)
      // bulk delete: the position set would outgrow commit metadata —
      // the copy-on-write rewrite is the right tool at this width
      return deleteWhere(spark, table, cond, fileMayMatch) match {
        case (nv, _, _) => (nv, -1L, false)
      }
    if (matched.isEmpty) return (v, 0L, true) // provable no-op: no commit
    val merged = scala.collection.mutable.Map.empty[String, java.util.BitSet]
    prevDv.foreach { case (f, b) =>
      merged(f) = b.clone().asInstanceOf[java.util.BitSet] }
    matched.foreach { r =>
      val f = normalizePath(r.getString(0))
      val i = r.getLong(1)
      require(i <= Int.MaxValue, s"row index $i overflows the DV bitset")
      merged.getOrElseUpdate(f, new java.util.BitSet()).set(i.toInt)
    }
    // same file list, new version: the whole commit is sidecar metadata
    // (merged DV + carried eq, schema and skipping lines)
    val next = publish(table, v, "dv-delete", files)(
      dv = merged.toMap, eq = eqOf(table, v))
    (next, matched.length.toLong, true)
  }

  /** Per-file keep-decision from V1 `sources.Filter` conjuncts against
    * the stats/bloom sidecars — [[ManifestFileIndex]]'s `statsKeeper`
    * restated for scans that receive pushdown as source filters (the
    * bucketed scan). Strictly conservative: any shape or type it does
    * not understand KEEPS the file; dropping is only ever proven by a
    * recorded min/max interval or a bloom's definite absence. */
  private[sources] def filterKeeper(table: String, version: Int,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : String => Boolean = {
    import org.apache.spark.sql.sources._
    if (filters.isEmpty) return _ => true
    val numStats = statsOf(table, version)
    val strStats = statsOfString(table, version)
    lazy val blooms: Map[(String, String),
        org.apache.spark.util.sketch.BloomFilter] =
      bloomsOf(table, version).map { case (k, bytes) =>
        k -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
      }
    val haveBlooms = bloomColumnsOf(table).nonEmpty
    def num(v: Any): Option[BigDecimal] = v match {
      case null => None
      case b: Byte => Some(BigDecimal(b.toInt))
      case s: Short => Some(BigDecimal(s.toInt))
      case i: Int => Some(BigDecimal(i))
      case l: Long => Some(BigDecimal(l))
      case f: Float => Some(BigDecimal(f.toDouble))
      case d: Double => Some(BigDecimal(d))
      case bd: java.math.BigDecimal => Some(BigDecimal(bd))
      case bd: BigDecimal => Some(bd)
      case _ => None
    }
    def render(v: Any): Option[String] = v match {
      case null => None
      case _: Byte | _: Short | _: Int | _: Long => Some(v.toString)
      case s: String => Some(s)
      case _ => None
    }
    def keep(f: String, flt: Filter): Boolean = flt match {
      case EqualTo(c, v) =>
        val range = num(v).forall(x => numStats.get((f, c)).forall {
          case (mn, mx) => mn <= x && x <= mx
        }) && (v match {
          case s: String => strStats.get((f, c)).forall {
            case (mn, mx) => mn.compareTo(s) <= 0 && mx.compareTo(s) >= 0
          }
          case _ => true
        })
        val bloomOk = !haveBlooms || render(v).forall(s =>
          blooms.get((f, c)).forall(_.mightContainString(s)))
        range && bloomOk
      case In(c, vs) =>
        val cand = vs.filter(_ != null)
        cand.isEmpty || cand.exists(v => keep(f, EqualTo(c, v)))
      case GreaterThan(c, v) =>
        num(v).forall(x => numStats.get((f, c)).forall(_._2 > x)) &&
          (v match {
            case s: String =>
              strStats.get((f, c)).forall(_._2.compareTo(s) > 0)
            case _ => true
          })
      case GreaterThanOrEqual(c, v) =>
        num(v).forall(x => numStats.get((f, c)).forall(_._2 >= x)) &&
          (v match {
            case s: String =>
              strStats.get((f, c)).forall(_._2.compareTo(s) >= 0)
            case _ => true
          })
      case LessThan(c, v) =>
        num(v).forall(x => numStats.get((f, c)).forall(_._1 < x)) &&
          (v match {
            case s: String =>
              strStats.get((f, c)).forall(_._1.compareTo(s) < 0)
            case _ => true
          })
      case LessThanOrEqual(c, v) =>
        num(v).forall(x => numStats.get((f, c)).forall(_._1 <= x)) &&
          (v match {
            case s: String =>
              strStats.get((f, c)).forall(_._1.compareTo(s) <= 0)
            case _ => true
          })
      case And(l, r) => keep(f, l) && keep(f, r)
      case Or(l, r) => keep(f, l) || keep(f, r)
      case _ => true
    }
    f => filters.forall(keep(f, _))
  }

  /** Commit a DELTA: every base file of `basedOn` carried
    * byte-identical, `newFiles` appended, and `deletes` OR-merged into
    * the carried DV sidecar — the driver half of the SQL
    * MERGE/UPDATE/DELETE merge-on-read path ([[GraftDeltaBatchWrite]]).
    * Conflict-detecting (a racing commit fails the publish loudly);
    * schema, stats, and blooms carry forward; the appended files' lines
    * come from their writers (`fresh`). */
  private[sources] def commitDelta(table: String,
      basedOn: Int, deletes: Map[String, java.util.BitSet],
      newFiles: Seq[String], fresh: SidecarLines, cover: StatsCover): Int = {
    val files = filesOf(table, basedOn)
    val known = files.toSet
    deletes.keys.foreach(f => require(known.contains(f),
      s"delta delete references a file outside v$basedOn: $f"))
    val merged = scala.collection.mutable.Map.empty[String, java.util.BitSet]
    dvOf(table, basedOn).foreach { case (f, b) =>
      merged(f) = b.clone().asInstanceOf[java.util.BitSet] }
    deletes.foreach { case (f, b) =>
      merged.get(f) match {
        case Some(acc) => acc.or(b)
        case None => merged(f) = b
      }
    }
    // merged DV + carried eq ride the claim (base files all carry)
    publish(table, basedOn, "delta-write", files ++ newFiles)(
      dv = merged.toMap, eq = carriedEq(table, basedOn, files),
      fresh = fresh, cover = cover)
  }

  /** REORG PURGE: rewrite ONLY the DV'd files with their deletions
    * applied and publish a version with no DV entries for them — the
    * reclamation half of merge-on-read (Delta's `REORG TABLE ... APPLY
    * (PURGE)`). Untouched files (the vast majority at 100 TB) carry
    * forward with their stats; the rewrite is bounded by DV'd-file
    * bytes, not table bytes. Returns (version, files purged). */
  def purgeDv(spark: SparkSession, table: String): (Int, Int) = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    val dv = dvOf(table, v)
    if (dv.isEmpty) return (v, 0)
    val files = filesOf(table, v)
    val affected = files.filter(dv.contains)
    val carried = files.filterNot(dv.contains)
    // eq-deleted rows of a rewritten file must not resurrect (the new
    // files fall outside every entry's scope) — apply pending eq sets
    // here; carried files keep their entries (staged with the claim)
    val survivors = readLiveForRewrite(spark, table, v, affected)
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-purge-${java.util.UUID.randomUUID().toString.take(8)}")
    val cover = sidecarCover(table, v)
    val written = writePartitionedBatch(survivors, table, batch.toString, cover)
    val newFiles = written.files
    // no DV rides: every DV'd file was rewritten — the new version is
    // clean and reads on the untouched vectorized fast path again;
    // pending eq entries of the untouched files ride the claim
    val next =
      try publish(table, v, "dv-purge", carried ++ newFiles)(
        eq = carriedEq(table, v, carried), fresh = written.lines,
        cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          deleteBatchDir(batch); throw e
      }
    (next, affected.length)
  }

  // ---- equality deletes: O(keys) CDC upsert commits -----------------
  //
  // [[mergeVersionDv]] is merge-on-read on the WRITE side too — but it
  // still pays a write-time candidate scan to turn retired keys into
  // file positions. At streaming-CDC rates against 100 TB that scan IS
  // the commit cost: every micro-batch opens every candidate file the
  // key stats cannot rule out. Iceberg's equality delete files answer
  // this by recording only the RETIRED KEYS and deferring the position
  // lookup to read and compaction time. The `v<N>.eq` sidecar lists
  // entries `keyCols \t keysParquetDir \t basedOnVersion`:
  //  - an entry's SCOPE is the manifest of `basedOn` — exactly the
  //    files committed BEFORE it — intersected with the reading
  //    version's manifest. A commit's own appended rows (and every
  //    later append) are outside every earlier scope, so
  //    last-writer-wins composes across any number of eq commits;
  //  - the write cost is O(distinct change keys): one metadata-scale
  //    parquet of keys plus the appended upsert batch. NO base data
  //    file is opened at commit time (EqualityDeleteSpec pins this
  //    with an input-metrics listener);
  //  - every reader drops in-scope rows matching a key set through the
  //    one delete rule ([[Deletes]]): the native scan inside its read,
  //    DataFrame reads as a row filter ([[readRows]]), each testing a
  //    row's key against the driver-read key sets; the streaming CDF and
  //    clone through memoized position sets ([[eqRetiredPositions]]) —
  //    the read tax that [[purgeEq]] (and any full rewrite, e.g.
  //    compaction) reclaims;
  //  - [[vacuumVersions]] retains expired manifests that are still
  //    pinned as a kept version's scope (the manifest file only — its
  //    data files follow the normal liveness rule).

  /** One pending equality-delete set: `keyCols` name the equality
    * columns, `dataPath` the parquet directory of distinct retired key
    * tuples, `basedOn` the version whose manifest is the entry's file
    * scope. */
  case class EqEntry(keyCols: Seq[String], dataPath: String, basedOn: Int)

  /** The version's pending equality-delete entries; empty if none.
    * A malformed line fails loudly, as in [[dvOf]]. */
  def eqOf(table: String, version: Int): Seq[EqEntry] =
    resolveSidecar(table, version, "eq") match {
      case None => Nil
      case Some(p) => sidecarLines(p).map { line =>
        scala.util.Try {
          val Array(k, d, b) = line.split("\t", 3)
          EqEntry(k.split(",").toSeq, d, b.toInt)
        }.getOrElse(throw new IllegalStateException(
          s"malformed eq line in $table v$version: '$line'"))
      }
    }

  /** Total pending equality-delete keys for a version — the pressure
    * gauge a table owner reads before scheduling [[purgeEq]], summed
    * from the key parquets' footer row counts (no scan, no Spark job). */
  def eqKeyCount(spark: SparkSession, table: String, version: Int): Long =
    eqOf(table, version).map(e =>
      scala.util.Try(eqKeyFooter(e.dataPath)._2).getOrElse(0L)).sum

  // dataPath -> (key schema, key count); key parquets are immutable
  // (uuid-named, written once), so entries never go stale
  private val eqKeyFooterCache =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Long)]()

  private def eqKeyFiles(dataPath: String): Seq[java.nio.file.Path] = {
    val files = Option(new java.io.File(dataPath).listFiles()).toSeq
      .flatten.map(_.toPath).filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.toString)
    if (files.isEmpty) throw new IllegalStateException(
      s"eq key set $dataPath holds no parquet file")
    files
  }

  /** (schema, row count) of an eq entry's key parquet, read from its
    * footers on the driver. Every key-set read passes this schema
    * instead of letting Spark infer one, because inference is a Spark
    * job per read. */
  private[graft] def eqKeyFooter(dataPath: String): (StructType, Long) = {
    val cached = eqKeyFooterCache.get(dataPath)
    if (cached != null) return cached
    val footers = eqKeyFiles(dataPath).map { p =>
      keyParquetOpens.incrementAndGet()
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), footerConf))
      try (r.getFooter.getFileMetaData, r.getRecordCount)
      finally r.close()
    }
    val meta = footers.head._1
    // Spark writes its own schema into the footer; the parquet type
    // conversion is the fallback for foreign writers
    val schema = Option(meta.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter().convert(meta.getSchema))
    val out = (schema, footers.map(_._2).sum)
    if (eqKeyFooterCache.size() >= fileSchemaCacheMax) eqKeyFooterCache.clear()
    eqKeyFooterCache.put(dataPath, out)
    out
  }

  /** Driver-side opens of eq key parquets, footers and rows alike —
    * the witness that a plan served from [[EqKeyMemo]] opens none. */
  private[graft] val keyParquetOpens =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** A process-wide memo bounded by a constant total of `weight`ed
    * bytes, least recently used first out. For values derived from
    * immutable files only: an answer never needs invalidating, and an
    * evicted one is recomputed on its next use. */
  private[sources] class LruMemo[K, V](maxBytes: Long, weight: (K, V) => Long) {
    private val map = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
    private var bytes = 0L

    /** The memoized value — shared, never to be mutated. */
    def get(k: K): Option[V] = synchronized(Option(map.get(k)))

    def put(k: K, v: V): Unit = synchronized {
      Option(map.put(k, v)).foreach(o => bytes -= weight(k, o))
      bytes += weight(k, v)
      val it = map.entrySet().iterator()
      while (bytes > maxBytes && it.hasNext) {
        val e = it.next()
        bytes -= weight(e.getKey, e.getValue)
        it.remove()
      }
    }
  }

  /** Decoded key tuples by key parquet path. Key parquets are
    * uuid-named and written once, so every plan, version and reader
    * that names an entry shares one decode of its keys. */
  private[sources] object EqKeyMemo extends LruMemo[String,
      (StructType, Vector[org.apache.spark.sql.catalyst.InternalRow])](
      64L << 20, (k, v) => 64L + 2L * k.length + v._2.iterator.map {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
          48L + u.getSizeInBytes
        case r => 48L + 16L * r.numFields
      }.sum)

  /** Each entry's key tuples (its `keyCols`, in order) by key parquet
    * path, from [[EqKeyMemo]] or else read on the driver through
    * Spark's own parquet reader — one reader function per distinct key
    * schema: the same rows a broadcast of the key set collects to the
    * driver, without the broadcast's Spark job. */
  private def eqKeyRows(spark: SparkSession, entries: Seq[EqEntry])
      : Map[String, (StructType, Vector[org.apache.spark.sql.catalyst.InternalRow])] = {
    val (hit, miss) = entries.map(e => e -> EqKeyMemo.get(e.dataPath))
      .partition(_._2.isDefined)
    hit.map { case (e, v) => e.dataPath -> v.get }.toMap ++
      miss.map(_._1).groupBy { e =>
        val full = eqKeyFooter(e.dataPath)._1
        (full, StructType(e.keyCols.map(full(_))))
      }.toSeq.flatMap { case ((full, keySchema), es) =>
        val read = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat().buildReaderWithPartitionValues(
            spark, full, StructType(Nil), keySchema, Nil,
            Map(org.apache.spark.sql.execution.datasources.FileFormat
              .OPTION_RETURNING_BATCH -> "false"),
            spark.sessionState.newHadoopConf())
        es.map { e =>
          val rows = eqKeyFiles(e.dataPath).toVector.flatMap { p =>
            keyParquetOpens.incrementAndGet()
            val it = read(EqCheck.partitionedFile(p.toString,
              java.nio.file.Files.size(p)))
            // the vectorized reader reuses its row object: copy each one
            try it.map(_.copy()).toVector
            finally EqCheck.close(it)
          }
          EqKeyMemo.put(e.dataPath, (keySchema, rows))
          e.dataPath -> (keySchema, rows)
        }
      }
  }

  /** The key indexes of some eq entries, built on the driver from
    * [[eqKeyRows]]: per (key columns, compared types), one map from
    * each key to the entries holding it — a widened key column
    * compares in the wider type on both sides, as a join's type
    * coercion would — and one [[EqCheck]] per use, masked to the
    * entries it tests. The position probe and the delete rule both
    * match through it. */
  private[sources] final class EqSets(spark: SparkSession,
      entries: Seq[EqEntry]) {
    import org.apache.spark.sql.types.DataType
    val tz: String = spark.sessionState.conf.sessionLocalTimeZone
    private val ids = entries.distinct.zipWithIndex.toMap
    private val keyRows = eqKeyRows(spark, ids.keys.toSeq)
    private val built = scala.collection.mutable.ArrayBuffer.empty[EqCheck.KeyIndex]
    private val indexOf = scala.collection.mutable.Map
      .empty[(Seq[String], Seq[DataType], Seq[DataType]), Int]

    def sets: Vector[EqCheck.KeyIndex] = built.toVector

    /** `e`'s check against the row columns at `ords`, of types `from`. */
    def check(e: EqEntry, from: Seq[DataType], ords: Seq[Int]): EqCheck =
      union(Seq(e), from, ords).head

    private def wideOf(e: EqEntry, from: Seq[DataType]): Seq[DataType] =
      from.zip(keyRows(e.dataPath)._1.fields).map { case (a, k) =>
        org.apache.spark.sql.catalyst.analysis.TypeCoercion
          .findWiderTypeForTwo(a, k.dataType).getOrElse(k.dataType)
      }

    /** The checks of the row columns at `ords`, of types `from`,
      * against the UNION of the keys of `es` (entries with the same key
      * columns): one per compared types, each one probe of the key
      * index masked to `es`, however many of them reach a file. */
    def union(es: Seq[EqEntry], from: Seq[DataType],
        ords: Seq[Int]): Seq[EqCheck] =
      es.distinct.sortBy(_.dataPath).groupBy(wideOf(_, from)).toSeq
        .sortBy(_._2.head.dataPath).map { case (wide, group) =>
          val keyCols = group.head.keyCols
          // which entries compare in `wide` depends on `from` too (a
          // file typed before a widening ALTER gives another answer),
          // so the index is keyed by both
          val index = indexOf.getOrElseUpdate((keyCols, from, wide), {
            // every entry of these key columns and types: a key holding
            // one entry shares that entry's singleton mask
            val m = scala.collection.mutable.HashMap.empty[Any, java.util.BitSet]
            ids.toSeq.sortBy(_._2).foreach { case (e, id) =>
              if (e.keyCols == keyCols && wideOf(e, from) == wide) {
                val one = new java.util.BitSet(); one.set(id)
                val (ks, rows) = keyRows(e.dataPath)
                rows.foreach { r =>
                  val vs = ks.fields.indices.map(j => EqCheck.widen(
                    r.get(j, ks(j).dataType), ks(j).dataType, wide(j), tz))
                  val k = if (vs.length == 1) vs.head else vs
                  m.get(k) match {
                    case None => m(k) = one
                    case Some(b) if !b.get(id) =>
                      val c = b.clone().asInstanceOf[java.util.BitSet]
                      c.set(id); m(k) = c
                    case _ => ()
                  }
                }
              }
            }
            built += m
            built.length - 1
          })
          val mask = new java.util.BitSet()
          group.foreach(e => mask.set(ids(e)))
          EqCheck(group.map(_.dataPath).mkString(","), index, mask,
            ords.toArray, from.zip(wide).toArray)
        }
  }

  private[sources] def eqText(entries: Seq[EqEntry]): String =
    entries.map(e =>
      s"${e.keyCols.mkString(",")}\t${e.dataPath}\t${e.basedOn}")
      .mkString("\n")

  // (eq sidecars likewise publish atomically with the manifest claim —
  // see the staged-sidecar protocol.)

  /** An entry's file scope: `basedOn`'s manifest, normalized; a
    * vacuumed (or otherwise unreadable) scope manifest degrades to the
    * empty scope — [[vacuumVersions]] retains pinned manifests, so
    * this is strictly a belt-and-braces default. */
  private[sources] def eqScope(table: String, e: EqEntry): Set[String] =
    scala.util.Try(filesOf(table, e.basedOn)).getOrElse(Nil)
      .map(normalizePath).toSet

  /** The pending eq entries that survive into a version keeping exactly
    * `keptFiles` — computed BEFORE the claim by every staged-sidecar
    * commit path. */
  private[sources] def carriedEq(table: String, from: Int,
      keptFiles: Seq[String]): Seq[EqEntry] = {
    val kept = keptFiles.map(normalizePath).toSet
    eqOf(table, from).filter(e => (eqScope(table, e) & kept).nonEmpty)
  }

  /** The DV entries that survive into a version keeping exactly
    * `keptFiles` (manifest-path keyed, no normalization — DV keys are
    * manifest paths already). */
  private[sources] def carriedDv(table: String, from: Int,
      keptFiles: Seq[String]): Map[String, java.util.BitSet] = {
    val kept = keptFiles.toSet
    dvOf(table, from).filter { case (f, _) => kept(f) }
  }

  /** The process-wide memo of [[eqRetiredPositions]]: (entry key
    * parquet path, normalized data-file path) → the positions the
    * entry retires in that file, empty sets included ("probed, nothing
    * retired"). Both sides are immutable bytes — key parquets and data
    * files are uuid-named and written once, and an entry's scope is
    * fixed at commit — so an answer holds for every version and range
    * that asks again. Bounded by a constant total of bitset bytes. */
  private[sources] object EqPositionMemo extends LruMemo[(String, String),
      java.util.BitSet](64L << 20,
      (k, b) => 64L + 2L * (k._1.length + k._2.length) + b.size() / 8)

  /** Physical row positions retired by eq `entries` within exactly
    * `files` — the POSITION form of the delete rule ([[Deletes]]), for
    * the two consumers whose output is a position set rather than a
    * scan: the streaming CDF, whose partitions carry (file, skip
    * bitset) pairs for both sides of a range, and [[cloneTable]], which
    * turns pending entries into the clone's DV marks. Every scan — the
    * catalog's native scan and every DataFrame read — drops eq-retired
    * rows inline instead and starts no probe. Answers come from
    * [[EqPositionMemo]]; the (entry, file) pairs it lacks are probed
    * together in ONE Spark job ([[probeEqPositions]]). No schema is
    * inferred: key files use their footer schema, data files their
    * writer-recorded `_COLS` schema ([[fileSchemaOf]]) plus the
    * identity partition columns, whose values come from the path.
    * Per-generation safe: files whose schema predates a key column are
    * skipped for that entry, as in [[Deletes]]. Keys of the returned
    * map are the given (manifest) paths. */
  private[sources] def eqRetiredPositions(spark: SparkSession,
      table: String, files: Seq[String],
      entries: Seq[EqEntry]): Map[String, java.util.BitSet] = {
    if (files.isEmpty || entries.isEmpty)
      return Map.empty
    val byPath = files.map(f => normalizePath(f) -> f).toMap
    val partCols = partitionColumnsOf(table).toSet
    val out = scala.collection.mutable.Map.empty[String, java.util.BitSet]
    def addHit(normF: String, bits: java.util.BitSet): Unit =
      if (!bits.isEmpty)
        out.getOrElseUpdate(byPath.getOrElse(normF, normF),
          new java.util.BitSet()).or(bits)
    val toProbe = entries.flatMap { e =>
      val scoped = eqScope(table, e)
      val usable = files.filter(f => scoped.contains(normalizePath(f)) &&
        e.keyCols.forall(k =>
          partCols(k) || fileSchemaOf(spark, f).fieldNames.contains(k)))
      val missing = usable.filter { f =>
        val hit = EqPositionMemo.get((e.dataPath, normalizePath(f)))
        hit.foreach(addHit(normalizePath(f), _))
        hit.isEmpty
      }
      if (missing.isEmpty) None else Some(e -> missing)
    }
    if (toProbe.nonEmpty)
      probeEqPositions(spark, table, toProbe).foreach { case (k, bits) =>
        EqPositionMemo.put(k, java.util.BitSet.valueOf(bits.toLongArray))
        addHit(k._2, bits)
      }
    out.toMap
  }

  /** [[eqRetiredPositions]]' probe: ONE Spark job answering every given
    * (entry, file) pair, empty sets included, so "probed, nothing
    * retired" memoizes too. Each file is read once — the key columns
    * of every entry it is probed for, plus the parquet row index, with
    * identity-partition key columns taken from the path — through
    * Spark's own parquet reader function, and each row is tested
    * against each entry's key set ([[EqSets]], read on the driver,
    * riding the task closure). A plain RDD job, not a DataFrame union,
    * so planning it costs no Catalyst pass over one scan per entry. */
  private def probeEqPositions(spark: SparkSession, table: String,
      pairs: Seq[(EqEntry, Seq[String])])
      : Map[(String, String), java.util.BitSet] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.{LongType, StructField}
    val sets = new EqSets(spark, pairs.map(_._1))
    val partSchema = ManifestFileIndex.partitionSchemaOf(table,
      latestVersion(table))
    val partCols = partSchema.fieldNames.toSet
    val probes = pairs.flatMap { case (e, fs) => fs.map(_ -> e) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (f, fe) =>
        val fileSchema = fileSchemaOf(spark, f)
        // read row: data key columns, the row index, partition key columns
        val (pcols, dcols) = fe.flatMap(_._2.keyCols).distinct.partition(partCols)
        val ps = StructType(pcols.map(partSchema(_)))
        def ord(c: String) =
          if (partCols(c)) dcols.length + 1 + pcols.indexOf(c)
          else dcols.indexOf(c)
        def typeOf(c: String) =
          if (partCols(c)) partSchema(c).dataType else fileSchema(c).dataType
        val checks = fe.map { case (_, e) =>
          sets.check(e, e.keyCols.map(typeOf), e.keyCols.map(ord)) }
        ((StructType(dcols.map(fileSchema(_))), ps), f,
          ManifestFileIndex.partitionValues(f, ps), dcols.length, checks)
      }
    // one reader function per read schema, built once on the driver
    val readers = probes.map(_._1).distinct.map { case k @ (rs, ps) =>
      k -> new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, rs, ps, StructType(rs.fields :+ StructField(
          ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
          nullable = true)), Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    }.toMap
    val tasks = probes.map { case (k, f, pv, idxOrd, checks) =>
      (readers(k), f, java.nio.file.Files.size(java.nio.file.Paths.get(f)),
        pv, idxOrd, checks)
    }
    val (keySets, tz) = (sets.sets, sets.tz)
    val sc = spark.sparkContext
    val hits = withJobDescription(spark, s"eqprobe $table") {
      sc.parallelize(tasks, math.max(1, math.min(tasks.length,
          sc.defaultParallelism)))
        .flatMap { case (read, f, len, pv, idxOrd, checks) =>
          EqCheck.probe(read, f, len, pv, idxOrd, checks, keySets, tz) }
        .collect()
    }
    val found = hits.map { case (dataPath, f, bits) =>
      (dataPath, normalizePath(f)) -> java.util.BitSet.valueOf(bits)
    }.toMap
    pairs.flatMap { case (e, files) =>
      files.map { f =>
        val k = (e.dataPath, normalizePath(f))
        k -> found.getOrElse(k, new java.util.BitSet())
      }
    }.toMap
  }

  /** A skip bitset's bytes: the OR of every given position set (DV
    * marks, eq-retired positions), None when none is given. */
  private[sources] def orBits(
      sets: Option[java.util.BitSet]*): Option[Array[Byte]] = {
    val present = sets.flatten
    if (present.isEmpty) None
    else {
      val m = new java.util.BitSet()
      present.foreach(m.or)
      Some(m.toByteArray)
    }
  }

  /** Equality-delete MERGE: the O(keys) CDC upsert commit. Semantics
    * equal [[mergeVersionDv]]/[[mergeVersion]] — for each change key
    * the stored rows disappear, each `upsert` row appears exactly once,
    * `delete` ops just remove, a NULL change key matches nothing — but
    * the commit NEVER opens a base file: it writes the distinct change
    * keys as an equality-delete parquet scoped to the pre-commit
    * manifest, appends the upsert rows, and publishes both as sidecar
    * metadata. Write cost O(change keys); the deferred position work
    * moves to readers (a key-set membership test per in-scope row,
    * [[readRows]]) until [[purgeEq]] absorbs it. Returns (version, retired key count).
    * `txn` (consumer, position) is recorded in the same commit; a head
    * that already records it makes the merge a no-op returning
    * (head, 0). */
  def mergeVersionEq(spark: SparkSession, table: String,
      changes: DataFrame, keyCols: Seq[String],
      opCol: String = "op",
      txn: Option[(String, Long)] = None): (Int, Long) = {
    require(keyCols.nonEmpty, "mergeVersionEq needs at least one key column")
    requireNoForgedRowIds(table, changes.schema, "mergeVersionEq")
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    // the publish below is conflict-detecting on v, so checking the
    // ledger of v is the in-claim check: an applied `txn` is a no-op
    if (txnApplied(table, v, txn)) return (v, 0L)
    val files = filesOf(table, v)
    val eqDir = java.nio.file.Paths.get(table, "eqdel",
      s"eq-${java.util.UUID.randomUUID().toString.take(12)}")
    // the retired-key set: upsert AND delete ops both retire the stored
    // row; NULL-keyed changes match nothing (dropped here, so the key
    // parquet stays a pure equality set). The key count rides the
    // write itself as an Observation — no second job re-reading the
    // parquet just to count it — and a second Observation upstream of
    // the key projection counts upsert ops in the SAME pass, replacing
    // the separate `upserts.isEmpty` probe job.
    val keyObs = new org.apache.spark.sql.Observation()
    val upObs = new org.apache.spark.sql.Observation()
    withJobDescription(spark, s"mergeEq:keywrite $table") {
      changes
        .observe(upObs,
          count(when(col(opCol) === "upsert", lit(1))).as("nu"))
        .select(keyCols.map(col): _*).na.drop("any", keyCols)
        .distinct().coalesce(1)
        .observe(keyObs, count(lit(1)).as("n"))
        .write.parquet(eqDir.toString)
    }
    def obsLong(o: org.apache.spark.sql.Observation, k: String): Long =
      Option(o.get.getOrElse(k, null)) match {
        case Some(n: Number) => n.longValue()
        case _ => 0L
      }
    val nKeys = obsLong(keyObs, "n")
    val upserts = changes.filter(col(opCol) === "upsert").drop(opCol)
    val hasUpserts = obsLong(upObs, "nu") > 0
    if (nKeys == 0 && !hasUpserts) { // provable no-op: no commit
      deleteTree(eqDir)
      return (v, 0L)
    }
    // appended rows align to the version's effective schema — the
    // partition-aware subset reader's shape, so a partitioned table's
    // batch keeps its partition column and lands hive-laid. Schema
    // only: a footer probe, never a data scan. With the mergeSchema
    // session opt-in, a batch carrying NEW columns evolves the target
    // instead of silently dropping them.
    val targetSchema0 =
      if (files.nonEmpty) ManifestFileIndex.servedSchema(spark, table, v)
      else schemaOf(spark, table, v)
    val evolved = mergeEvolution(spark, table, v,
      StructType(changes.drop(opCol).schema.fields), targetSchema0)
    val targetSchema = evolved.fold(targetSchema0)(_ =>
      evolveSchema(targetSchema0, changes.drop(opCol).schema, Map.empty))
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-eqmerge-${java.util.UUID.randomUUID().toString.take(8)}")
    // stats/blooms: carried files carry; the appended batch's lines ride
    // its write. The key columns join the cover only where the table
    // already keeps skipping sidecars — a bare table's eq merge stays
    // bare
    val cover0 = sidecarCover(table, v)
    val cover =
      if (cover0.stats.isEmpty) cover0 else cover0.withStats(keyCols)
    val written =
      if (!hasUpserts) WrittenBatch(Nil, SidecarLines.empty)
      else {
        // the upsert row count already rode the key write (upObs) —
        // size the batch's file count by DATA, not core count: without
        // the coalesce every drain writes one tiny file per cache
        // partition and the store's file count snowballs (guide §6)
        writePartitionedBatch(
          alignToSchema(upserts, targetSchema, Map.empty)
            .coalesce(batchFileCount(spark, obsLong(upObs, "nu"))),
          table, batch.toString, cover)
      }
    val newFiles = written.files
    // the new eq entry (and carried DV + prior entries) ride the CLAIM
    // itself: a concurrent committer that loses the race on v+1 and
    // retries its carry pass against this version can never read the
    // manifest without the brand-new entry. Evolution PINS the new
    // declared schema (old versions keep theirs — time travel reads the
    // pre-evolution shape forever)
    val next =
      try publish(table, v, "eq-merge", files ++ newFiles)(
        dv = dvOf(table, v),
        eq = eqOf(table, v) :+ EqEntry(keyCols, eqDir.toString, v),
        schema = evolved.orElse(carriedSchema(table, v, files ++ newFiles)),
        fresh = written.lines, cover = cover, txn = txn)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (hasUpserts) deleteBatchDir(batch)
          deleteTree(eqDir)
          throw e
      }
    (next, nKeys)
  }

  /** REORG PURGE for equality deletes: rewrite exactly the in-scope
    * files with every pending key set (and their DVs) applied, publish
    * a version with NO eq sidecar — the reclamation half of the eq
    * design. Out-of-scope files (each entry's own upserts plus
    * everything later) carry forward byte-identical with their
    * stats/blooms/DVs; the rewrite is bounded by in-scope bytes.
    * Returns (version, files rewritten). */
  def purgeEq(spark: SparkSession, table: String): (Int, Int) = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    val entries = eqOf(table, v)
    if (entries.isEmpty) return (v, 0)
    val current = filesOf(table, v)
    val inScope = entries.map(e => eqScope(table, e))
      .reduce(_ | _) & current.map(normalizePath).toSet
    val (affected, carried) =
      current.partition(f => inScope.contains(normalizePath(f)))
    if (affected.isEmpty) { // stale entries: absorb as metadata only
      // DVs carry (identical files); NO eq rides the claim — absorbing
      // the dead entries is this branch's whole point
      return (publish(table, v, "eq-purge", current)(dv = dvOf(table, v)), 0)
    }
    val dv = dvOf(table, v)
    val survivors = readLiveForRewrite(spark, table, v, affected)
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-eqpurge-${java.util.UUID.randomUUID().toString.take(8)}")
    val cover = sidecarCover(table, v)
    val written = writePartitionedBatch(survivors, table, batch.toString, cover)
    val newFiles = written.files
    // rewritten files' DVs are absorbed with their eq entries; carried
    // (out-of-scope) files keep theirs — staged with the claim; no eq
    // rides: every in-scope file was rewritten, the version is clean
    val next =
      try publish(table, v, "eq-purge", carried ++ newFiles)(
        dv = dv.filter { case (f, _) => !inScope.contains(f) },
        fresh = written.lines, cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          deleteBatchDir(batch); throw e
      }
    (next, affected.length)
  }

  // ---- schema-per-version: the evolution half of the format ---------
  //
  // A version's schema is pinned in a `v<N>.schema` sidecar (JSON) that
  // rides the version's manifest link ([[publish]]). Readers of an OLD
  // version see that version's pinned schema forever; an evolving
  // commit widens/renames/extends the declared schema so readers of the
  // NEW version see old files null-filled (added columns), losslessly
  // widened, or mapped through the recorded rename. Sidecar-less
  // versions (every pre-evolution commit) fall back to the head data
  // file's footer, so the feature is strictly additive.

  /** Field-metadata key recording a rename's previous column name. */
  val RenamedFrom = "graft.renamedFrom"

  /** The declared (pinned) schema of `version`, if one was published. */
  def declaredSchema(table: String, version: Int): Option[StructType] =
    resolveSidecar(table, version, "schema").map(p =>
      org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .asInstanceOf[StructType])

  /** Effective schema of `version`: the pinned sidecar, else the head
    * data file's footer (pre-evolution versions). Starts no Spark job. */
  def schemaOf(spark: SparkSession, table: String, version: Int): StructType =
    declaredSchema(table, version).getOrElse(
      footerSchema(spark, filesOf(table, version).head))

  /** The schema `spark.read.parquet(file)` infers, without the inference
    * job: the writer-recorded footer schema ([[fileSchemaOf]]) made
    * nullable, as every file-source read makes it. */
  private[sources] def footerSchema(spark: SparkSession,
      file: String): StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def nullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(nullable(k), nullable(v), valueContainsNull = true)
      case other => other
    }
    nullable(fileSchemaOf(spark, file)).asInstanceOf[StructType]
  }

  /** Evolve `prev` (the table's declared schema) by `cur` (the incoming
    * batch's): kept fields widen losslessly or keep their type,
    * `renames: old -> new` re-key a field (the old name is recorded in
    * field metadata so readers can map pre-rename files), fields absent
    * from the batch stay (nullable — new files null-fill them), new
    * fields append (nullable — old files null-fill them). A narrowing
    * type change fails fast: silently truncating 100 TB is a data bug,
    * not an evolution. */
  private[sources] def evolveSchema(prev: StructType, cur: StructType,
      renames: Map[String, String]): StructType = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{MetadataBuilder, StructField}
    val curBy = cur.fields.map(f => f.name -> f).toMap
    val kept = prev.fields.map { f =>
      val newName = renames.getOrElse(f.name, f.name)
      val meta =
        if (newName != f.name)
          new MetadataBuilder().withMetadata(f.metadata)
            .putString(RenamedFrom, f.name).build()
        else f.metadata
      curBy.get(newName) match {
        case Some(c) if c.dataType == f.dataType =>
          StructField(newName, f.dataType, f.nullable || c.nullable, meta)
        case Some(c) if Cast.canUpCast(f.dataType, c.dataType) =>
          StructField(newName, c.dataType, f.nullable || c.nullable, meta)
        case Some(c) =>
          require(Cast.canUpCast(c.dataType, f.dataType),
            s"column $newName: ${c.dataType} vs ${f.dataType} is a narrowing evolution")
          StructField(newName, f.dataType, f.nullable || c.nullable, meta)
        case None => StructField(newName, f.dataType, nullable = true, meta)
      }
    }
    val keptNames = kept.map(_.name).toSet
    val added = cur.fields.filterNot(f => keptNames.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true, f.metadata))
    StructType(kept ++ added)
  }

  /** Write-side schema evolution opt-in (Delta's `mergeSchema`): with
    * `spark.graft.mergeSchema=true` in the session, the keyed CDC
    * merge paths ([[mergeVersionEq]]/[[mergeVersionDv]]) auto-EVOLVE
    * the declared schema by the change batch's — new columns append
    * (old rows read as typed nulls), types widen losslessly — instead
    * of silently dropping the new columns at alignment. Off by
    * default: an unannounced schema change in a CDC feed is usually a
    * bug upstream, and opt-in is the Delta contract too. */
  private[sources] def mergeSchemaOn(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.mergeSchema")
      .exists(_.equalsIgnoreCase("true"))

  /** The CDC-merge evolution decision: Some(evolved declared schema)
    * when the session opted in AND the incoming batch actually extends
    * or widens the table; None leaves the schema contract untouched.
    * `effective` is the version's full logical shape INCLUDING
    * partition columns (the footer-based schemaOf misses those on a
    * hive-laid table — losing them from the declared schema would be
    * an evolution bug, not an evolution). */
  private def mergeEvolution(spark: SparkSession, table: String, v: Int,
      incoming: StructType, effective: StructType): Option[StructType] =
    if (!mergeSchemaOn(spark)) None
    else {
      val cur = declaredSchema(table, v).getOrElse(effective)
      val e = evolveSchema(cur, incoming, Map.empty)
      if (e == cur) None else Some(e)
    }

  /** Append-commit `df` under SCHEMA EVOLUTION: the new version's
    * declared schema is the previous declared schema evolved by `df`'s
    * (see [[evolveSchema]]). Old versions keep their pinned schema;
    * [[readVersionEvolved]] of the new version aligns every file
    * generation to the declared one. Assumes a single evolving writer
    * (concurrent SCHEMA changes need a catalog lock in any format;
    * concurrent data appends remain safe — the data publish still goes
    * through the OCC loop). */
  def commitVersionEvolving(df: DataFrame, table: String,
      renames: Map[String, String] = Map.empty): Int = {
    requireNoForgedRowIds(table, df.schema, "commitVersionEvolving")
    val prevV = latestVersion(table)
    val declared =
      if (prevV == 0) df.schema
      else evolveSchema(schemaOf(df.sparkSession, table, prevV), df.schema, renames)
    // same guard as alterSchema: an evolution must not rename a pending
    // eq entry's key column out from under its read-time key match
    val pendingKeys = eqOf(table, prevV).flatMap(_.keyCols).toSet
    val lost = pendingKeys -- declared.fieldNames.toSet
    require(lost.isEmpty,
      s"evolving commit on $table would rename pending equality-delete " +
        s"key column(s) ${lost.mkString(", ")} — purge_eq first")
    val cover = sidecarCover(table, prevV)
    val written = writeBatch(df, table, cover)
    publishNextVersion(table, written.files, overwrite = false,
      declared = Some(declared), fresh = written.lines, cover = cover).get
  }

  /** Read `version` under its DECLARED schema, aligning every file
    * generation: stored columns cast with checked lossless widening,
    * renamed columns mapped via the recorded [[RenamedFrom]] metadata,
    * columns a generation predates arriving as typed nulls. A
    * generation = the files sharing one footer schema — bounded by the
    * number of evolutions, never the file count; the per-file schema
    * comes from the writer-recorded `_COLS` sidecar ([[fileSchemaOf]],
    * the file -> schema-id pin a catalog-scale format keeps), not a
    * footer open per file. */
  def readVersionEvolved(spark: SparkSession, table: String,
      version: Int = -1): DataFrame = {
    val v = if (version < 0) latestVersion(table) else version
    require(v > 0, s"$table has no committed versions")
    val declared = schemaOf(spark, table, v)
    val files = filesOf(table, v)
    val (dv, eq) = (dvOf(table, v), eqOf(table, v))
    files
      // generation key from the writer-recorded sidecar, not a footer
      // open per file; a recorded/probed nullability drift can only
      // SPLIT a generation (each split is aligned independently and
      // unioned — correct either way), never merge two
      .groupBy(f => fileSchemaOf(spark, f))
      .values.toSeq
      // each generation under its recorded footer schema (no inference
      // job), filtered BEFORE alignment: the filter reads the scan's own
      // _metadata columns, which the aligning select drops
      .map(g => alignToSchema(readRows(spark, table, v, Some(g), dv, eq,
          schema = Some(footerSchema(spark, g.head))),
        declared, renamesOf(declared)))
      .reduce(_ unionByName _)
  }

  /** `old -> new` for every column of `schema` recorded as renamed. */
  private def renamesOf(schema: StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(RenamedFrom))
        Some(f.metadata.getString(RenamedFrom) -> f.name)
      else None
    }.toMap

  // ---- skipping sidecars: `v<N>.stats`, `v<N>.ndv`, `v<N>.bloom` -------
  //
  // One line per (file, column): min/max for data skipping (`.stats`),
  // the row count and an HLL sketch for the planner (`.ndv`), a bloom
  // filter for point-predicate skipping (`.bloom`). A data file is
  // immutable, so its lines are computed ONCE — by the job that writes
  // it ([[FileStats]]) — and every later commit that keeps the file
  // carries them forward verbatim in its own link ([[publish]]). No
  // commit path scans data for them; [[commitStats]] is the explicit
  // backfill for files no sidecar covers.

  /** The raw lines of `version`'s `kind` sidecar; empty if it has none. */
  private[graft] def sidecarRaw(table: String, version: Int,
      kind: String): Seq[String] =
    if (version < 1) Nil
    else resolveSidecar(table, version, kind).map(sidecarLines).getOrElse(Nil)

  /** (file, column) of one sidecar line: `.ndv` lines lead with their
    * `R`/`H` tag (an `R` line covers no column). */
  private def lineKey(kind: String, line: String): Option[(String, String)] = {
    val fs = line.split("\t", 4)
    if (kind != "ndv") fs.lift(0).zip(fs.lift(1))
    else if (fs(0) == "H") fs.lift(1).zip(fs.lift(2))
    else None
  }

  /** The data file one sidecar line describes, normalized. */
  private def lineFile(kind: String, line: String): Option[String] = {
    val fs = line.split("\t", 3)
    (if (kind == "ndv") fs.lift(1) else fs.lift(0)).map(normalizePath)
  }

  /** Every line of `version`, verbatim: what a fork of the version onto
    * another table ([[cloneTable]], [[Refs]]) carries. */
  private[sources] def linesOf(table: String, version: Int): SidecarLines =
    SidecarLines(filesOf(table, version).toSet, sidecarRaw(table, version,
      "stats"), sidecarRaw(table, version, "ndv"),
      sidecarRaw(table, version, "bloom"))

  /** The columns a commit based on `base` covers: the declared
    * `stats.columns`/`bloom.columns` plus every column `base`'s sidecars
    * already cover, so coverage never shrinks. */
  private[sources] def sidecarCover(table: String, base: Int): StatsCover = {
    def covered(kinds: String*): Seq[String] = kinds.flatMap(k =>
      sidecarRaw(table, base, k).flatMap(lineKey(k, _)).map(_._2)).distinct
    StatsCover((statsColumnsOf(table) ++ covered("stats", "ndv")).distinct,
      (bloomColumnsOf(table) ++ covered("bloom")).distinct)
  }

  /** The lost-coverage scan's lines across one publish loop's attempts:
    * data files are immutable, so each is scanned at most once. */
  private[sources] final class ScanMemo {
    private var done = Set.empty[String]
    private var lines = SidecarLines.empty
    def apply(files: Seq[String])(
        scan: Seq[String] => SidecarLines): SidecarLines = {
      val need = files.filterNot(f => done(normalizePath(f)))
      if (need.nonEmpty) {
        lines = lines ++ scan(need)
        done ++= need.map(normalizePath)
      }
      // only the asked files' lines: an earlier attempt may have
      // scanned a file this one no longer keeps
      val want = files.map(normalizePath).toSet
      def of(kind: String, ls: Seq[String]) =
        ls.filter(lineFile(kind, _).exists(want))
      SidecarLines(lines.files.filter(f => want(normalizePath(f))),
        of("stats", lines.stats), of("ndv", lines.ndv),
        of("bloom", lines.bloom))
    }
  }

  /** The skipping lines of a version holding `files`: `carryFrom`'s
    * (-1: none) for every file the commit did not write, plus `fresh`.
    * A kept file `carryFrom` counts no rows for is read once through
    * the writers' accumulator ([[scanFileStats]]) — only where `cover`
    * declares columns. */
  private def skippingLines(table: String, files: Seq[String],
      carryFrom: Int, fresh: SidecarLines, cover: StatsCover,
      scanned: ScanMemo): SidecarLines = {
    val wrote = fresh.files.map(normalizePath)
    val counted = sidecarRaw(table, carryFrom, "ndv").flatMap { l =>
      val fs = l.split("\t", 3)
      if (fs(0) == "R") fs.lift(1).map(normalizePath) else None
    }.toSet
    lazy val inCarry = filesOf(table, carryFrom).map(normalizePath).toSet
    val lost = if (cover.isEmpty || carryFrom < 1) Nil else files.filter { f =>
      val n = normalizePath(f); !wrote(n) && !counted(n) && inCarry(n) }
    val written = fresh ++ (if (lost.isEmpty) SidecarLines.empty
      else scanned(lost)(scanFileStats(SparkSession.active, table,
        carryFrom, _, cover)))
    val keep = files.map(normalizePath).toSet --
      written.files.map(normalizePath)
    def carried(kind: String): Seq[String] =
      sidecarRaw(table, carryFrom, kind)
        .filter(lineFile(kind, _).exists(keep))
    SidecarLines(files.toSet, carried("stats") ++ written.stats,
      carried("ndv") ++ written.ndv, carried("bloom") ++ written.bloom)
  }

  /** kind -> sidecar text of a version's skipping `lines`. A kind the
    * `cover` declares is published even when empty, as a marker that
    * the table keeps it. */
  private def sidecarTexts(lines: SidecarLines,
      cover: StatsCover): Seq[(String, String)] =
    Seq(("stats", lines.stats, cover.stats.nonEmpty),
      ("ndv", lines.ndv, false),
      ("bloom", lines.bloom, cover.blooms.nonEmpty)).collect {
      case (kind, ls, marker) if ls.nonEmpty || marker =>
        kind -> ls.sorted.mkString("\n")
    }

  /** Backfill `version`'s sidecars for `cols` (min/max + NDV): files
    * whose lines already cover every requested column keep them; the
    * rest are read in ONE scan through the same per-file accumulator the
    * writers use ([[FileStatsSpec]]), over the requested columns plus
    * every column the sidecars already cover. The explicit form of what
    * every commit does as it writes — for files committed before their
    * table declared `stats.columns`, and for `ANALYZE`.
    *
    * The `.stats` lines are the data-skipping half of the table format
    * (what Delta/Iceberg keep per file in the commit log):
    * [[readVersionPruned]] drops every file whose [min, max] interval
    * misses a range predicate before `spark.read` sees it, and composed
    * with [[writeRangeLayout]] / [[writeZOrderLayout]] — which make
    * per-file intervals tight — a selective range query touches O(1)
    * files. Files without a stats line are always kept: pruning is an
    * optimization, never a filter. Numeric bounds are stored as plain
    * decimal strings (never rounded: a rounded max below the true max
    * would prune files that match); string bounds as `S:`+base64, and
    * only when ASCII, where Spark's UTF-8 binary order and the driver's
    * UTF-16 compare agree. */
  def commitStats(spark: SparkSession, table: String, version: Int,
      cols: Seq[String]): Unit = {
    val cover = sidecarCover(table, version).withStats(cols)
    val statted = sidecarRaw(table, version, "stats")
      .flatMap(lineKey("stats", _))
      .map { case (f, c) => (normalizePath(f), c) }.toSet
    val need = filesOf(table, version).filterNot { f =>
      val n = normalizePath(f)
      cols.forall(c => statted((n, c)))
    }
    // the version is already published: its lines are rewritten in
    // place, canonical, under the same atomic-move protocol
    val dir = java.nio.file.Paths.get(table)
    sidecarTexts(skippingLines(table, filesOf(table, version), version,
        scanFileStats(spark, table, version, need, cover), cover,
        new ScanMemo), cover).foreach { case (kind, text) =>
      val tmp = java.nio.file.Files.createTempFile(dir, s".$kind$version", ".tmp")
      try {
        java.nio.file.Files.write(tmp, text.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, dir.resolve(s"v$version.$kind"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  /** [[commitStats]]' scan: one job over `files` under the declared
    * schema (a mixed-generation set must not lose evolved columns to one
    * file's footer), one accumulator per (task, file). */
  private def scanFileStats(spark: SparkSession, table: String,
      version: Int, files: Seq[String], cover: StatsCover): SidecarLines = {
    if (files.isEmpty || cover.isEmpty) return SidecarLines.empty
    val df = ManifestFileIndex.frameForFiles(spark, table, version,
      Some(files.toSet))
    val spec = new FileStatsSpec(df.schema, cover,
      spark.sessionState.conf.sessionLocalTimeZone)
    if (spec.isEmpty) return SidecarLines.empty
    val fileOrd = df.schema.length
    val partials = withJobDescription(spark, s"stats $table") {
      df.select(df.columns.map(df(_)).toSeq :+ input_file_name(): _*)
        .queryExecution.toRdd.mapPartitions { rows =>
          val open = scala.collection.mutable.LinkedHashMap
            .empty[String, FileStatsAccumulator]
          rows.foreach(r => open.getOrElseUpdate(
            r.getUTF8String(fileOrd).toString, spec.newAccumulator()).add(r))
          open.iterator.map { case (f, a) => a.result(f) }
        }.collect().toSeq
    }
    val byPath = files.map(f => normalizePath(f) -> f).toMap
    val merged = partials.groupBy(s => normalizePath(s.file)).values
      .map(_.reduce(spec.merge)).toSeq
    // a file without rows yields no partial; its row count is still 0
    val seen = merged.map(s => normalizePath(s.file)).toSet
    val empty = byPath.keys.filterNot(seen).map(f =>
      FileStats(f, 0L, Array.empty, Array.empty, Array.empty, Array.empty))
    spec.render(merged ++ empty,
      f => byPath.getOrElse(normalizePath(f), normalizePath(f)))
  }

  /** The `v<N>.ndv` sidecar: per-file row counts and per-(file, col)
    * serialized HLL sketches. Absent/malformed lines degrade to
    * "unknown" — the planner then simply gets no estimate. */
  def ndvOf(table: String,
      version: Int): (Map[String, Long], Map[(String, String), Array[Byte]]) = {
    val ls = sidecarRaw(table, version, "ndv")
    val rows = ls.flatMap { l =>
      scala.util.Try {
        val Array("R", f, n) = l.split("\t", 3); f -> n.toLong
      }.toOption
    }.toMap
    val sketches = ls.flatMap { l =>
      scala.util.Try {
        val Array("H", f, c, b) = l.split("\t", 4)
        (f, c) -> java.util.Base64.getDecoder.decode(b)
      }.toOption
    }.toMap
    (rows, sketches)
  }

  /** Exact live row count of a version FROM METADATA alone (sidecar
    * row counts minus DV'd positions), or None when any file lacks
    * coverage — the planner's numRows source. Rows shadowed by pending
    * eq entries are NOT subtracted (unknowable without a scan): the
    * count stays a conservative upper bound, which is the safe side
    * for broadcast decisions. */
  def versionRows(table: String, version: Int): Option[Long] =
    rowsForFiles(table, version, filesOf(table, version))

  /** [[versionRows]] for an arbitrary FILE SUBSET — what a pruned scan
    * (bucket/stats skipping) reports for exactly the files it will
    * read; per-file DV cardinalities subtract per file. */
  def rowsForFiles(table: String, version: Int,
      fs: Seq[String]): Option[Long] = {
    if (fs.isEmpty) return Some(0L)
    val (rows, _) = ndvOf(table, version)
    if (!fs.forall(f => rows.contains(normalizePath(f)))) None
    else {
      val dv = dvOf(table, version)
      Some(math.max(0L, fs.map { f0 =>
        val f = normalizePath(f0)
        rows(f) - dv.get(f).map(_.cardinality().toLong).getOrElse(0L)
      }.sum))
    }
  }

  /** col -> NDV estimate for an arbitrary FILE SUBSET by unioning the
    * per-file HLL sketches (no scan) — only columns every subset file
    * carries a sketch for appear. What a (possibly pruned) scan hands
    * the planner as `columnStats`. */
  def ndvStatsForFiles(table: String, version: Int,
      fs: Seq[String]): Map[String, Long] = {
    if (fs.isEmpty) return Map.empty
    val (_, sk) = ndvOf(table, version)
    val norm = fs.map(normalizePath)
    sk.keys.map(_._2).toSeq.distinct.flatMap { c =>
      val sks = norm.flatMap(f => sk.get((f, c)))
      if (sks.length != norm.length) None
      else scala.util.Try {
        val u = new org.apache.datasketches.hll.Union(12)
        sks.foreach(b => u.update(
          org.apache.datasketches.hll.HllSketch.heapify(b)))
        c -> math.round(u.getEstimate)
      }.toOption
    }.toMap
  }

  /** Version-level NDV for `column` (union over ALL files). */
  def versionNdv(table: String, version: Int,
      column: String): Option[Long] =
    ndvStatsForFiles(table, version, filesOf(table, version)).get(column)

  /** Per-file BLOOM FILTER sidecar (`v<N>.bloom`) — the skipping device
    * min/max stats cannot be: a POINT predicate (`k = X`, `k IN (…)`)
    * on a high-cardinality column that is NOT the clustering key hits
    * every file's [min, max] interval, but a per-file Bloom answers
    * "definitely absent" for all but the files that contain (or
    * falsely claim) the key — Delta's bloom filter index, built by the
    * job that writes each file ([[FileStats]]). False positives only
    * ever KEEP a file; absence of a sidecar or a column keeps the file
    * too — pruning is an optimization, never a filter.
    *
    * (file, col) -> serialized bloom for a version; malformed lines
    * degrade to "no bloom" (file kept), same contract as stats. */
  def bloomsOf(table: String,
      version: Int): Map[(String, String), Array[Byte]] =
    sidecarRaw(table, version, "bloom").flatMap { line =>
      scala.util.Try {
        val Array(f, c, b64) = line.split("\t", 3)
        (f, c) -> java.util.Base64.getDecoder.decode(b64)
      }.toOption
    }.toMap

  /** MERGE as a copy-on-write commit at FILE granularity — the table
    * format's answer to "update/delete a handful of keys in a
    * thousand-file table without rewriting it". `changes` carries the
    * table schema plus an `op` column (`upsert` | `delete`), one row
    * per key (LWW-dedup upstream — [[Warehouse.dedupByKey]] — if the
    * batch can repeat keys).
    *
    * The stats sidecar decides which files the change-set can possibly
    * touch: a file is REWRITTEN only if some change key falls inside
    * its [min, max] key interval (a file without stats must be assumed
    * affected); every other file is carried into the new manifest
    * untouched — no read, no write, stats copied forward
    * ([[commitStats]] `carryFrom`). Rewriting = base rows of affected
    * files minus ALL changed keys, plus the upsert rows (covers
    * update, delete, and brand-new keys in one union). Old versions
    * still read the original files — MERGE is just another commit, so
    * time travel and pinned readers hold by construction.
    *
    * At 100 TB this is the difference between a MERGE that reads the
    * change-set + O(affected files) and one that reads the table: with
    * range/Z-order clustering, a dimension-delta's keys land in a few
    * files. The change-key set collected to the driver is commit
    * metadata (CDC-batch-sized), not data. Returns (new version,
    * affected files rewritten, files carried untouched). `txn`
    * (consumer, position) is recorded in the same commit; a head that
    * already records it makes the merge a no-op returning (head, 0, 0). */
  def mergeVersion(spark: SparkSession, table: String, changes: DataFrame,
      key: String, opCol: String = "op",
      keyProbeLimit: Int = 100000,
      txn: Option[(String, Long)] = None): (Int, Int, Int) = {
    requireNoForgedRowIds(table, changes.schema, "mergeVersion")
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    // conflict-detecting publish on v: the ledger of v is the claim's
    if (txnApplied(table, v, txn)) return (v, 0, 0)
    val files = filesOf(table, v)
    val (affected, untouched, keysHint) =
      mergeAffected(spark, table, v, changes, key, keyProbeLimit)
    mergeRewrite(spark, table, v, changes, key, opCol,
      affected, untouched, files, keysHint, txn)
  }

  /** The merge-key → affected-file probe shared by [[mergeVersion]]
    * and [[mergeVersionDv]]: partition version `v`'s files into
    * (affected, untouched) by intersecting each file's stats interval
    * for `key` with the change set's distinct keys. The third element
    * is the probe's DISTINCT-KEY COUNT when the bounded driver probe
    * ran (−1 otherwise) — callers reuse it as a free batch-size hint
    * for [[batchFileCount]] (≈ upsert rows for typical one-row-per-key
    * change sets; only file sizing depends on it, never correctness). */
  private def mergeAffected(spark: SparkSession, table: String, v: Int,
      changes: DataFrame, key: String,
      keyProbeLimit: Int): (Seq[String], Seq[String], Long) = {
    val stats = statsOf(table, v)
    val files = filesOf(table, v)
    import scala.collection.Searching._
    // a NULL merge key equals no stored key (SQL semantics): it selects
    // no file for rewrite and deletes nothing; a null-key upsert row
    // still flows through the insert union below
    //
    // The change-key collect is BOUNDED: at most keyProbeLimit+1
    // distinct keys come to the driver. A small (CDC-batch-sized)
    // change set uses the sorted driver probe; a wide delta switches to
    // the join path below, whose driver-side result is the FILE list
    // (bounded by file count), never the key set.
    // the file-interval probe is TYPED: numeric keys compare through
    // decimal(38,6) against the numeric stats sidecar; STRING keys
    // compare as strings against the S:-tagged sidecar (ASCII-guarded
    // write side makes the comparison order-safe); any other key type
    // degrades to "every file affected" — coarser, never wrong
    val keyType = changes.schema(key).dataType
    val numericKey = keyType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    val stringKey = keyType == org.apache.spark.sql.types.StringType
    if (!numericKey) {
      if (!stringKey) return (files, Seq.empty[String], -1L)
      val sStats = statsOfString(table, v)
      val sProbe = changes.filter(col(key).isNotNull)
        .select(col(key).cast("string")).distinct()
        .limit(keyProbeLimit + 1).collect().map(_.getString(0))
      if (sProbe.length > keyProbeLimit)
        return (files, Seq.empty[String], -1L)
      val sorted = sProbe.sorted
      val (affected, untouched) = files.partition { f =>
        sStats.get((f, key)) match {
          case Some((mn, mx)) =>
            import scala.collection.Searching._
            val i = sorted.search(mn).insertionPoint
            i < sorted.length && sorted(i).compareTo(mx) <= 0
          case None => true
        }
      }
      return (affected, untouched, sProbe.length.toLong)
    }
    val probe = changes.filter(col(key).isNotNull)
      .select(col(key).cast("decimal(38,6)")).distinct()
      .limit(keyProbeLimit + 1).collect()
    val keysHint =
      if (probe.length <= keyProbeLimit) probe.length.toLong else -1L
    val (affected, untouched) =
      if (probe.length <= keyProbeLimit) {
        val changeKeys = probe.map(r => BigDecimal(r.getDecimal(0))).sorted
        files.partition { f =>
          stats.get((f, key)) match {
            case Some((mn, mx)) =>
              // any change key inside the file's interval? (sorted probe)
              val i = changeKeys.search(mn)(Ordering[BigDecimal]).insertionPoint
              i < changeKeys.length && changeKeys(i) <= mx
            case None => true // no stats: must assume affected
          }
        }
      } else {
        // join-based file-interval intersection: broadcast the tiny
        // (file, min, max) relation from the driver-held stats against
        // the distributed change keys; only hit FILE NAMES are
        // collected. Interval ends are relaxed by one key quantum
        // (decimal(38,6)) so the cast can only widen, never shrink —
        // keeping an extra file is correct, missing one is data loss.
        val statted = files.flatMap(f =>
          stats.get((f, key)).map { case (mn, mx) =>
            (f, mn.toString, mx.toString) })
        val noStats = files.filter(f => !stats.contains((f, key))).toSet
        import spark.implicits._
        val hit =
          if (statted.isEmpty) Set.empty[String]
          else changes.filter(col(key).isNotNull)
            .select(col(key).cast("decimal(38,6)").as("__k"))
            .join(org.apache.spark.sql.functions.broadcast(
              statted.toDF("__f", "__mn", "__mx").select(col("__f"),
                (col("__mn").cast("decimal(38,6)") - lit(0.000001)).as("__mn"),
                (col("__mx").cast("decimal(38,6)") + lit(0.000001)).as("__mx"))),
              col("__k") >= col("__mn") && col("__k") <= col("__mx"))
            .select("__f").distinct().collect().map(_.getString(0)).toSet
        files.partition(f => noStats.contains(f) || hit.contains(f))
      }
    (affected, untouched, keysHint)
  }

  /** The rewrite-and-publish half of [[mergeVersion]], shared by the
    * numeric-, string-, and untyped-key probe paths. */
  private def mergeRewrite(spark: SparkSession, table: String, v: Int,
      changes: DataFrame, key: String, opCol: String,
      affected: Seq[String], untouched: Seq[String],
      files: Seq[String], keysHint: Long = -1L,
      txn: Option[(String, Long)] = None): (Int, Int, Int) = {
    // read affected files under the DECLARED schema where one exists —
    // a mixed-generation rewrite must not narrow to one file's footer;
    // subset reads are partition-aware (hive path values reattach)
    val base =
      if (affected.nonEmpty)
        // DV'd/eq-deleted rows are already deleted: the rewrite drops
        // them for good (untouched files keep their entries via
        // carryDv/carryEq)
        readLiveForRewrite(spark, table, v, affected)
      else if (files.nonEmpty)
        ManifestFileIndex.frameForFiles(spark, table, v, Some(Set(files.head)))
          .filter(org.apache.spark.sql.functions.lit(false))
      else
        // merging into an emptied (delete-all/TRUNCATE) version: the
        // whole change set is inserts against the pinned schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schemaOf(spark, table, v))
    val upserts0 = changes.filter(col(opCol) === "upsert").drop(opCol)
    val survivors = base.join(
      changes.select(col(key)).distinct(), Seq(key), "left_anti")
    // lineage: survivors carry their materialized ids; brand-new upsert
    // rows carry NULL and draw from the new file's range at read time
    val upserts1 =
      if (survivors.columns.contains(RowIds.COL) &&
          !upserts0.columns.contains(RowIds.COL))
        upserts0.withColumn(RowIds.COL,
          lit(null).cast(org.apache.spark.sql.types.LongType))
      else upserts0
    // coalesce ONLY the upsert branch (survivors' parallelism follows
    // the affected-file splits, which are already data-sized): without
    // it the branch writes one tiny file per shuffle/cache partition
    // and the view's file count snowballs with every merge (guide §6)
    val upserts =
      if (keysHint >= 0)
        upserts1.coalesce(batchFileCount(spark, keysHint))
      else upserts1
    val rewritten = survivors.unionByName(upserts)
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-merge-${java.util.UUID.randomUUID().toString.take(8)}")
    // stats for the merge key PLUS every declared and already-covered
    // column: the next merge prunes its rewrite set by the key's
    // intervals, and untouched files carry their lines forward
    val cover = sidecarCover(table, v).withStats(Seq(key))
    val written = writePartitionedBatch(rewritten, table, batch.toString, cover)
    val newFiles = written.files
    // conflict-DETECTING publish: the untouched list was computed
    // against v — a blind next-number retry after a racing commit would
    // silently drop the racer's files, so a lost race must fail loudly
    // (the caller re-reads and re-merges). The just-written batch is
    // deleted first: no manifest references it, and a retried merge
    // writes a fresh batch, so leaving it would strand disk forever.
    val next =
      // untouched files' DVs + pending eq entries ride the claim
      try publish(table, v, "merge", untouched ++ newFiles)(
        dv = carriedDv(table, v, untouched),
        eq = carriedEq(table, v, untouched), fresh = written.lines,
        cover = cover, txn = txn)
      catch {
        case e: java.util.ConcurrentModificationException =>
          deleteBatchDir(batch); throw e
      }
    (next, affected.length, untouched.length)
  }

  /** Merge-on-read MERGE: the keyed merge lands WITHOUT rewriting any
    * base file. Matched base rows — the stored versions of keys being
    * upserted or deleted — are MARKED in the new version's DV sidecar;
    * the upsert rows append as one new file batch; every base file
    * carries forward byte-identical with its stats/bloom sidecars. The
    * read tax is the same broadcast bitset probe the DV delete pays,
    * only on DV-carrying versions; [[purgeDv]] reclaims.
    *
    * At 100 TB this turns a CDC batch of point updates from "rewrite
    * every hit file" ([[mergeVersion]]'s copy-on-write, right for wide
    * deltas) into "append the new rows + publish positions": commit
    * I/O is O(changed rows), not O(hit-file bytes) — a one-row update
    * in a clustered 1 GB file costs a position bit and one appended
    * row, not a gigabyte rewrite.
    *
    * SEMANTICS equal [[mergeVersion]]: for each change key the stored
    * rows disappear; each `upsert` row appears exactly once; `delete`
    * ops just remove; a NULL change key matches nothing. CDF consumers
    * observe an updated key as delete(old)+insert(new) inside one
    * version — the standard shape ([[readChanges]] emits a carried
    * file's newly-marked positions as deletes). A change set whose
    * matched-position count exceeds `maxDvRows` is not a point merge:
    * it FALLS BACK to the copy-on-write rewrite, whose cost model is
    * right at that width. Returns (version, rows marked, usedDv). */
  def mergeVersionDv(spark: SparkSession, table: String,
      changes: DataFrame, key: String, opCol: String = "op",
      maxDvRows: Int = 1 << 20,
      keyProbeLimit: Int = 100000): (Int, Long, Boolean) = {
    requireNoForgedRowIds(table, changes.schema, "mergeVersionDv")
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    val files = filesOf(table, v)
    val (affected, _, keysHint) =
      mergeAffected(spark, table, v, changes, key, keyProbeLimit)
    val prevDv = dvOf(table, v)
    // positions of live base rows whose key appears in the change set
    // (upsert AND delete ops both retire the stored row) — bounded
    // collect, minus rows the previous DV already deleted
    val matched =
      if (affected.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else readLive(spark, table, v, Some(affected))
        .select(col(key), col("_metadata.file_path").as("__p"),
          col("_metadata.row_index").as("__i"))
        .join(changes.filter(col(key).isNotNull).select(key).distinct(),
          Seq(key), "left_semi")
        .select("__p", "__i")
        .limit(maxDvRows + 1).collect()
    if (matched.length > maxDvRows)
      return mergeVersion(spark, table, changes, key, opCol,
        keyProbeLimit) match { case (nv, _, _) => (nv, -1L, false) }
    val upserts = changes.filter(col(opCol) === "upsert").drop(opCol)
    val hasUpserts = !upserts.isEmpty
    if (matched.isEmpty && !hasUpserts) return (v, 0L, true) // no-op
    val merged = scala.collection.mutable.Map.empty[String, java.util.BitSet]
    prevDv.foreach { case (f, b) =>
      merged(f) = b.clone().asInstanceOf[java.util.BitSet] }
    matched.foreach { r =>
      val f = normalizePath(r.getString(0))
      val i = r.getLong(1)
      require(i <= Int.MaxValue, s"row index $i overflows the DV bitset")
      merged.getOrElseUpdate(f, new java.util.BitSet()).set(i.toInt)
    }
    // the appended rows must be aligned to the version's effective
    // schema themselves — the rewrite path gets that from unionByName
    // with the base; lossy types fail loudly, missing columns null-fill.
    // On a PARTITIONED table the footer-derived schemaOf misses the
    // partition columns (they live in paths) — take the target schema
    // from the partition-aware subset reader instead, so the batch
    // keeps the partition column and lands hive-laid. With the
    // mergeSchema session opt-in, a batch carrying NEW columns evolves
    // the target instead of silently dropping them.
    val targetSchema0 =
      if (files.nonEmpty) ManifestFileIndex.servedSchema(spark, table, v)
      else schemaOf(spark, table, v)
    val evolved = mergeEvolution(spark, table, v,
      StructType(changes.drop(opCol).schema.fields), targetSchema0)
    val targetSchema = evolved.fold(targetSchema0)(_ =>
      evolveSchema(targetSchema0, changes.drop(opCol).schema, Map.empty))
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-dvmerge-${java.util.UUID.randomUUID().toString.take(8)}")
    // carried files carry their stats/blooms; the appended batch's
    // lines ride its write (a DV'd file's interval stays conservative —
    // it may cover deleted rows, which can only keep extra files)
    val cover = sidecarCover(table, v).withStats(Seq(key))
    val written =
      if (!hasUpserts) WrittenBatch(Nil, SidecarLines.empty)
      else {
        // file count sized by the key probe's distinct-key count (≈
        // upsert rows for one-row-per-key change sets), never by the
        // session's shuffle/cache partition count (guide §6)
        val aligned = alignToSchema(upserts, targetSchema, Map.empty)
        writePartitionedBatch(
          if (keysHint >= 0)
            aligned.coalesce(batchFileCount(spark, keysHint))
          else aligned,
          table, batch.toString, cover)
      }
    val newFiles = written.files
    val next =
      // merged DV + carried eq entries ride the claim (every base
      // file carries); evolution PINS the new declared schema, old
      // versions keep theirs
      try publish(table, v, "dv-merge", files ++ newFiles)(
        dv = merged.toMap, eq = carriedEq(table, v, files),
        schema = evolved.orElse(carriedSchema(table, v, files ++ newFiles)),
        fresh = written.lines, cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (hasUpserts) deleteBatchDir(batch); throw e
      }
    (next, matched.length.toLong, true)
  }

  /** (file, col) -> (min, max) stats for a version, or empty if the
    * version has no stats sidecar — or something other than a file
    * stands in its place: every read plans through these maps, and
    * skipping is an optimization, never a reason to fail a read. */
  def statsOf(table: String, version: Int): Map[(String, String), (BigDecimal, BigDecimal)] =
    sidecarRaw(table, version, "stats").flatMap { line =>
      // a malformed/legacy line must degrade to "no stats" (file
      // always read), never to a read-path exception
      scala.util.Try {
        val Array(f, c, lo, hi) = line.split("\t", 4)
        (f, c) -> (BigDecimal(lo), BigDecimal(hi))
      }.toOption
    }.toMap

  /** (file, col) -> (min, max) STRING stats for a version — the tagged
    * `S:`+base64 lines [[commitStats]] writes for string columns.
    * Malformed lines degrade to "no stats" (file always read), same
    * contract as the numeric map. */
  def statsOfString(table: String,
      version: Int): Map[(String, String), (String, String)] =
    sidecarRaw(table, version, "stats").flatMap { line =>
      scala.util.Try {
        val Array(f, c, lo, hi) = line.split("\t", 4)
        require(lo.startsWith("S:") && hi.startsWith("S:"))
        val dec = java.util.Base64.getDecoder
        (f, c) -> (new String(dec.decode(lo.drop(2)), "UTF-8"),
          new String(dec.decode(hi.drop(2)), "UTF-8"))
      }.toOption
    }.toMap

  /** The file-pruning decision, exposed for tests and for callers that
    * want the skipping ratio: the version's files split into (kept,
    * skipped) for the predicate `col BETWEEN lo AND hi`. */
  def pruneFiles(table: String, version: Int, column: String,
      lo: BigDecimal, hi: BigDecimal): (Seq[String], Seq[String]) = {
    val stats = statsOf(table, version)
    filesOf(table, version).partition { f =>
      stats.get((f, column)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi // interval overlap
        case None => true // no stats: must read
      }
    }
  }

  /** Read `table` at `version` restricted to `col BETWEEN lo AND hi`,
    * scanning only the files whose stats interval overlaps the range.
    * The residual filter is still applied (stats prune FILES, not
    * rows), so the result is exactly `readVersion(...).filter(...)` —
    * SourcesSpec proves it. */
  def readVersionPruned(spark: SparkSession, table: String, column: String,
      lo: BigDecimal, hi: BigDecimal, version: Int = -1): DataFrame = {
    val v = if (version < 0) latestVersion(table) else version
    require(v > 0, s"$table has no committed versions")
    val (kept, _) = pruneFiles(table, v, column, lo, hi)
    if (kept.isEmpty) {
      // every file skipped: serve the empty relation with the right schema
      readVersion(spark, table, v)
        .filter(org.apache.spark.sql.functions.lit(false))
    } else {
      // the pruned read serves the same delete state as readVersion:
      // DV positions AND pending eq entries both filter (the scope
      // intersection handles the file subset)
      val df = readLive(spark, table, v, Some(kept))
      // bounds cast to the COLUMN's type on the literal side, so the
      // residual range predicate still pushes down to the parquet scan
      val dt = df.schema(column).dataType
      val loL = org.apache.spark.sql.functions.lit(lo.bigDecimal).cast(dt)
      val hiL = org.apache.spark.sql.functions.lit(hi.bigDecimal).cast(dt)
      df.filter(col(column) >= loL && col(column) <= hiL)
    }
  }

  /** Point/IN-pruned read: only the files whose stats interval / bloom
    * sidecar can hold one of `values` for `column` are opened (sidecar
    * metadata, never a scan), then the residual IN predicate applies —
    * and pushes into the parquet reader for row-group pruning. The
    * point-lookup sibling of [[readVersionPruned]]'s range form; the
    * index-posting-fetch shape. Returns (frame, files read, files in
    * the version) so callers can witness the skip. */
  def readVersionForKeys(spark: SparkSession, table: String,
      column: String, values: Seq[Any],
      version: Int = -1): (DataFrame, Int, Int) = {
    val v = if (version < 0) latestVersion(table) else version
    require(v > 0, s"$table has no committed versions")
    val files = filesOf(table, v)
    if (values.isEmpty)
      // an empty key set matches nothing — never open a file for it
      return (readVersion(spark, table, v)
        .filter(org.apache.spark.sql.functions.lit(false)),
        0, files.length)
    val keep = filterKeeper(table, v, Seq(
      org.apache.spark.sql.sources.In(column, values.toArray)))
    val kept = files.filter(keep)
    val df =
      if (kept.isEmpty)
        readVersion(spark, table, v)
          .filter(org.apache.spark.sql.functions.lit(false))
      else
        // the partition-aware subset reader: hive-laid tables get
        // their partition columns reattached from the paths (a flat
        // read would null them and the residual IN would silently
        // drop every row)
        readLive(spark, table, v, Some(kept))
    (df.filter(col(column).isin(values: _*)), kept.length, files.length)
  }

  /** Write with an inline data-quality audit, metrics harvested from
    * the WRITE's own scan via the `Observation` API — row count, per-key
    * null count, and an exact decimal sum ride along with the job, so
    * the audit costs ZERO extra passes over the data. At 100 TB the
    * difference between "write, then re-scan to audit" and this is the
    * whole table read twice; observed metrics are also the natural
    * reconciliation numbers to store next to a
    * [[commitVersion]] manifest (what Delta's commit stats are).
    * Returns (rows, nullKeys, totalSum) observed during the write. */
  def writeWithAudit(df: DataFrame, path: String, keyCol: String,
      sumCol: String): (Long, Long, java.math.BigDecimal) = {
    val obs = org.apache.spark.sql.Observation("write_audit")
    df.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"),
        org.apache.spark.sql.functions.count_if(col(keyCol).isNull).as("null_keys"),
        org.apache.spark.sql.functions.sum(
          col(sumCol).cast("decimal(18,4)")).as("total"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("null_keys").asInstanceOf[Long],
      m("total").asInstanceOf[java.math.BigDecimal])
  }

  /** CHECK-constraint-enforcing commit onto the versioned table (the
    * Delta `CHECK` / NOT NULL enforcement semantics): every named
    * predicate must hold on EVERY row of the batch or the commit does
    * not happen — no manifest is published, the table's latest version
    * is untouched, and the caller gets the per-constraint violation
    * counts to act on ([[q96_constraints]] AUDITS after the fact; this
    * REJECTS at the write boundary, which is where a contract is worth
    * enforcing). Violation counting rides the write's own scan via
    * `Observation` (writeWithAudit's zero-extra-pass device) — the data
    * files are written once, then either published or DELETED on
    * rejection (no manifest ever references them, so readers never saw
    * them; a crashed writer could still strand a batch dir, which is
    * invisible to every reader for the same reason).
    *
    * Returns either the published version or the violation counts. */
  def commitVersionChecked(df: DataFrame, table: String,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      overwrite: Boolean = false): Either[Map[String, Long], Int] = {
    require(checks.nonEmpty, "commitVersionChecked needs at least one check")
    requireNoForgedRowIds(table, df.schema, "commitVersionChecked")
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val aggs = checks.map { case (name, pred) =>
      org.apache.spark.sql.functions.count_if(!coalesce(pred, lit(false)))
        .as(name)
    }
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-${java.util.UUID.randomUUID().toString.take(12)}")
    val cover = sidecarCover(table, latestVersion(table))
    val written = writePartitionedBatch(
      df.observe(obs, aggs.head, aggs.tail: _*), table, batch.toString, cover)
    val violations = checks.map { case (name, _) =>
      name -> obs.get(name).asInstanceOf[Long] }.toMap
    if (violations.valuesIterator.exists(_ > 0L)) {
      // rejected: remove the just-written batch so nothing is stranded
      // (recursive — a partitioned write nests directories)
      deleteBatchDir(batch)
      Left(violations)
    } else {
      try Right(publishNextVersion(table, written.files, overwrite,
        batchSchema = Some(df.schema), fresh = written.lines,
        cover = cover).get)
      catch { case e: IllegalArgumentException =>
        deleteBatchDir(batch) // incompatible-schema rejection: no strand
        throw e
      }
    }
  }

  /** ALTER TABLE as a metadata-only commit: re-publish the latest
    * version's exact file set under `schema` as a new version — the new
    * declared schema, the DV and eq state and the skipping lines (an
    * identical file set has identical stats, so file skipping survives
    * a schema change) all ride the one link. Zero data movement;
    * conflict-detecting (an ALTER racing a data commit must not silently
    * drop the racer's files). */
  def alterSchema(table: String, schema: StructType): Int = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    // a pending equality-delete entry keys on COLUMN NAMES — an ALTER
    // that renames or drops one would silently skip the entry at read
    // time (missing column ⇒ NULL key ⇒ no match) and resurrect the
    // deleted rows. Refuse before publishing anything.
    val pendingKeys = eqOf(table, v).flatMap(_.keyCols).toSet
    val lost = pendingKeys -- schema.fieldNames.toSet
    require(lost.isEmpty,
      s"ALTER on $table would rename/drop pending equality-delete key " +
        s"column(s) ${lost.mkString(", ")} — purge_eq first")
    publish(table, v, "alter", filesOf(table, v))(
      dv = dvOf(table, v), eq = eqOf(table, v), schema = Some(schema))
  }

  /** Per-table properties sidecar (`table.properties`, JSON) — catalog
    * metadata like `stats.columns` that must outlive any one session.
    * Written once at CREATE; absent file reads as empty. */
  def writeTableProperties(table: String, props: Map[String, String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    val json = props.toSeq.sortBy(_._1).map { case (k, v) =>
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      "\"" + esc(k) + "\":\"" + esc(v) + "\""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "table.properties"),
      json.getBytes("UTF-8"))
  }

  def tableProperties(table: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(table, "table.properties")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      // flat string->string JSON object (the only shape we write)
      val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      val pat = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      def unesc(x: String) = x.replace("\\\"", "\"").replace("\\\\", "\\")
      pat.findAllMatchIn(s).map(m =>
        unesc(m.group(1)) -> unesc(m.group(2))).toMap
    }
  }

  /** The `stats.columns` table property parsed to column names. */
  private[sources] def statsColumnsOf(table: String): Seq[String] =
    tableProperties(table).get("stats.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The `bloom.columns` table property parsed to column names. */
  private[sources] def bloomColumnsOf(table: String): Seq[String] =
    tableProperties(table).get("bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Exact physical bytes of a version — the manifest's file list
    * sized from the filesystem (driver-side, metadata-cheap). The
    * planner-statistics source for every scan path that is not a
    * FileScan (the V1 DV wrap, the meta-column scan): Catalyst's
    * broadcast decision then fires BEFORE AQE, exactly as for a plain
    * parquet dimension. */
  private[sources] def versionBytes(table: String, version: Int): Long = {
    val v = if (version < 0) latestVersion(table) else version
    filesOf(table, v).map(f =>
      scala.util.Try(java.nio.file.Files.size(
        java.nio.file.Paths.get(f))).getOrElse(0L)).sum
  }

  /** The `partition.columns` table property — identity partition
    * columns declared at CREATE (`PARTITIONED BY (c)` through the
    * catalog). Batches land hive-laid-out (`c=v/` dirs inside the
    * immutable batch dir), values live in paths not data files, and
    * [[ManifestFileIndex]] serves a real partition spec so Catalyst's
    * `partitionFilters` drop whole directories at planning time —
    * the coarse pruning tier ABOVE stats/bloom skipping. */
  def partitionColumnsOf(table: String): Seq[String] =
    tableProperties(table).get("partition.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The `bucket.column`/`bucket.count` table properties — the hash
    * bucket layout declared at CREATE (`PARTITIONED BY (bucket(n, c))`
    * through the catalog). Every commit routes rows to
    * `pmod(hash(c), n)` and lands them under `_b=<id>` dirs; the
    * catalog serves bucketed versions through a scan that reports
    * `KeyGroupedPartitioning`, so co-bucketed joins skip the shuffle
    * entirely (storage-partitioned join) and point predicates on the
    * bucket column prune to a single bucket's files. */
  def bucketSpecOf(table: String): Option[(String, Int)] =
    for {
      c <- tableProperties(table).get("bucket.column")
      n <- tableProperties(table).get("bucket.count")
    } yield (c.trim, n.trim.toInt)

  /** The writer-side bucket id — codegen'd column expression, no UDF:
    * Spark's `hash()` is Murmur3 seed 42, exactly what
    * [[GraftBucketFunction]] declares to the optimizer. */
  private[sources] def bucketIdColumn(c: Column, n: Int): Column =
    pmod(hash(c), lit(n))

  /** A HIDDEN partition transform (Iceberg's model): `PARTITIONED BY
    * (days(ts) | months(ts) | years(ts) | hours(ts) | truncate(n, c))`
    * through the catalog. The derived value lives ONLY in `_pt=<v>`
    * directory names — never in data files, never in the read schema —
    * and is recomputed from the source column on every write/rewrite,
    * so DML can never desynchronize it. Pruning happens in
    * [[ManifestFileIndex.listFiles]]: a pushed predicate on the RAW
    * source column converts to a window test against each file's
    * `_pt` segment (a 100 TB daily-partitioned events table drops
    * whole days driver-side before stats are even consulted). `width`
    * is the truncate width; 0 for the temporal kinds. */
  case class PartTransform(kind: String, column: String, width: Int)

  /** The declared hidden transform, from the `ptransform.*` table
    * properties ([[GraftCatalog.createTable]] writes them). */
  def partTransformOf(table: String): Option[PartTransform] = {
    val props = tableProperties(table)
    for {
      kind <- props.get("ptransform.kind")
      c <- props.get("ptransform.column")
    } yield PartTransform(kind.trim, c.trim,
      props.get("ptransform.width").map(_.trim.toInt).getOrElse(0))
  }

  /** PARTITION-SPEC EVOLUTION for temporal transforms: re-declare the
    * table's hidden transform (`days(ts)` → `hours(ts)` as an events
    * table grows, or back down as it cools). Old files keep their
    * layout — their `_pt` dir values stay day-shaped — and KEEP
    * PRUNING correctly, because the pruning window is inferred from
    * each value's shape, not from the declaration
    * ([[ManifestFileIndex]]'s `windowOf`): Iceberg's per-file spec-id
    * semantics with the spec id encoded in the value itself. New
    * commits (and any rewrite: compaction, purge, merge survivors) lay
    * out under the NEW transform, so the table converges to the new
    * spec at its natural rewrite cadence, never via a forced rewrite.
    *
    * Constraints (refused loudly): both old and new transform must be
    * temporal kinds on the SAME source column — predicates on that
    * column are what both generations' windows answer; a column or
    * family change would make old `_pt` values semantically dangling.
    * Tables without a transform (identity/bucket/flat) cannot acquire
    * one here: their existing files carry no `_pt` segment at all. */
  def setPartTransform(table: String, t: PartTransform): Unit = {
    val temporal = Set("years", "months", "days", "hours")
    require(temporal.contains(t.kind),
      s"SET PARTITIONING: '${t.kind}' is not a temporal transform — " +
        "only years/months/days/hours evolve in place")
    val cur = partTransformOf(table).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no hidden partition transform to evolve — " +
          "existing files carry no _pt layout; CREATE a transform table " +
          "or rewrite into one"))
    require(temporal.contains(cur.kind),
      s"SET PARTITIONING: current transform '${cur.kind}' is not " +
        "temporal and cannot evolve in place")
    require(cur.column == t.column,
      s"SET PARTITIONING must keep the source column: table partitions " +
        s"on ${cur.column}(…), requested ${t.column}(…) — old _pt values " +
        "would answer predicates on the wrong column")
    writeTableProperties(table, tableProperties(table) ++ Map(
      "ptransform.kind" -> t.kind,
      "ptransform.column" -> t.column,
      "ptransform.width" -> t.width.toString))
  }

  /** The writer-side derived partition value — codegen'd expressions.
    * Temporal kinds format in the session time zone for TIMESTAMP (the
    * engine standardizes on UTC), wall-clock for TIMESTAMP_NTZ, and
    * calendar-day for DATE; dir values sort lexically = chronologically.
    * Integral truncate is floor-to-multiple via `pmod` (negative values
    * truncate toward -inf, Iceberg's contract); string truncate is the
    * first `width` chars. */
  private[sources] def transformColumn(t: PartTransform, c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = t.kind match {
    case "years" => date_format(c, "yyyy")
    case "months" => date_format(c, "yyyy-MM")
    case "days" => date_format(c, "yyyy-MM-dd")
    case "hours" => date_format(c, "yyyy-MM-dd-HH")
    case "truncate" => dt match {
      case org.apache.spark.sql.types.StringType =>
        substring(c, 1, t.width)
      case _ => (c - pmod(c, lit(t.width))).cast(dt)
    }
    case other => throw new IllegalStateException(
      s"unknown partition transform kind $other")
  }

  private val RowsPerFile = 4000000L

  /** Data-adaptive file count for a batch about to be written: one
    * file per [[RowsPerFile]] rows (a few hundred MB at typical row
    * widths), capped by the session's parallelism. Without it every
    * incremental merge writes one tiny file per shuffle/cache
    * partition — file count scaling with CORE COUNT instead of data
    * (guide §6): the store tables snowballed to
    * 60+ files over a lifecycle, pushing every subsequent read/list/
    * stats pass over the parallel-listing threshold. `coalesce` is
    * narrow (no extra shuffle) and only merges the final post-shuffle
    * stage, so map-side parallelism is untouched. */
  private def batchFileCount(spark: SparkSession, rows: Long): Int = {
    val n = math.max(1L, (rows + RowsPerFile - 1) / RowsPerFile)
    math.min(n, math.max(1, spark.sparkContext.defaultParallelism).toLong)
      .toInt
  }

  /** Write `df` into `batchPath` honoring the table's declared identity
    * partitioning — the ONE physical-batch writer every commit and
    * rewrite path routes through, so a partitioned table can never
    * accumulate mixed flat/hive batches (which would make partition
    * inference throw on read). The write job also computes each file's
    * sidecar lines for the `cover` columns ([[FileStatsTracker]]). */
  private def writePartitionedBatch(df: DataFrame, table: String,
      batchPath: String, cover: StatsCover): WrittenBatch = {
    // job label only (guide §1.5) — identifies batch-write jobs in the
    // UI/profiler; the caller's own label is restored after
    withJobDescription(df.sparkSession, s"batchwrite $table") {
      writePartitionedBatch0(df, table, batchPath, cover)
    }
  }

  private def writePartitionedBatch0(df: DataFrame, table: String,
      batchPath: String, cover: StatsCover): WrittenBatch = {
    // (laid-out frame, directory partition columns, data-file schema)
    val (laid, dirCols, fileSchema) = bucketSpecOf(table) match {
      case Some((c, n)) =>
        require(df.schema.fieldNames.contains(c),
          s"bucketed table $table: batch is missing bucket column $c")
        // hash-bucket layout: the id lives in `_b=<id>` DIR NAMES (parsed
        // back by the SPJ scan), never in data files; repartition on it
        // first so one commit writes ~one file per bucket instead of
        // tasks x buckets small files
        (df.withColumn("_b", bucketIdColumn(col(c), n))
          .repartition(n, col("_b")), Seq("_b"), df.schema)
      case None => partTransformOf(table) match {
        case Some(t) =>
          require(df.schema.fieldNames.contains(t.column),
            s"transform-partitioned table $table: batch is missing " +
              s"source column ${t.column}")
          // hidden transform layout: the derived value lives in `_pt=<v>`
          // DIR NAMES only (recomputed from the source column on every
          // write, so rewrites can never desynchronize it) — data files
          // keep the full declared schema including the source column.
          // Pre-shuffle on the derived value (the bucket branch's move):
          // without it every task writes every _pt dir it sees — an
          // hours(ts) commit from 32 tasks over a month fragments into
          // tasks × dirs small files; with it one exchange yields ~one
          // file per partition dir per commit (Delta's optimized write)
          (df.withColumn("_pt",
              transformColumn(t, col(t.column), df.schema(t.column).dataType))
            .repartition(col("_pt")), Seq("_pt"), df.schema)
        case None =>
          // hive layout moves the partition columns out of data files
          val parts = partitionColumnsOf(table)
            .filter(df.schema.fieldNames.contains(_))
          (df, parts, StructType(df.schema.filterNot(f => parts.contains(f.name))))
      }
    }
    val spec = new FileStatsSpec(fileSchema, cover,
      df.sparkSession.sessionState.conf.sessionLocalTimeZone)
    val tracker =
      if (spec.isEmpty) None else Some(new FileStatsTracker(spec, dirCols.length))
    org.apache.spark.sql.graftbridge.Bridge.writeParquet(laid, batchPath,
      dirCols, tracker.toSeq)
    recordBatchCols(batchPath, fileSchema)
    // recursive walk (partitioned batches nest c=v/ dirs); a
    // 0-partition input (e.g. TRUNCATE's empty frame) yields Nil
    val files = batchParquetFiles(java.nio.file.Paths.get(batchPath))
    WrittenBatch(files, tracker.fold(SidecarLines.empty)(t =>
      spec.render(t.collected,
        rel => java.nio.file.Paths.get(batchPath, rel).toString)))
  }

  /** A just-written batch: its parquet files and their sidecar lines. */
  private[sources] case class WrittenBatch(files: Seq[String],
      lines: SidecarLines)

  /** List the parquet files of a just-written batch dir (recursive —
    * partitioned batches nest `c=v/` directories). */
  private def batchParquetFiles(batch: java.nio.file.Path): Seq[String] = {
    if (!java.nio.file.Files.exists(batch)) return Seq.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(batch).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .map(_.toString).toSeq.sorted
  }

  /** The survivor read every copy-on-write REWRITE feeds its writer:
    * the live rows of `files` ([[readLive]] — partition columns from
    * the paths, or a rewrite would persist them as NULL; DV'd and
    * eq-deleted rows dropped, or it would resurrect them). Lineage
    * tables ([[RowIds.enabled]]) read survivors WITH their row ids so
    * the rewrite materializes them into the new files. */
  private[sources] def readLiveForRewrite(spark: SparkSession,
      table: String, version: Int, files: Seq[String]): DataFrame =
    if (RowIds.enabled(table))
      RowIds.readFileSubsetWithRowIds(spark, table, version, files)
    else readLive(spark, table, version, Some(files))

  /** Create an empty table: version 1 is an empty file set whose
    * declared schema is the DDL schema — what `CREATE TABLE g.t (...)`
    * through [[GraftCatalog]] publishes. Readers of v1 see an empty
    * relation under exactly that schema; the first data commit evolves
    * from it like any append. */
  def createEmptyTable(table: String, schema: StructType): Int = {
    require(latestVersion(table) == 0,
      s"$table already has committed versions")
    publish(table, 0, "create", Nil)(schema = Some(schema))
  }

  /** File-granular copy-on-write DELETE: files that `fileMayMatch`
    * proves cannot contain a matching row are carried untouched into
    * the new version (no read, no write); the rest are rewritten with
    * the negated predicate. SQL semantics: rows where the predicate is
    * NULL survive. Conflict-detecting publish (a racing commit fails
    * the delete loudly); stats and declared schema carry forward.
    * Returns (new version, files rewritten, files carried) — with a
    * provable no-op (zero affected files) the CURRENT version is
    * returned unchanged, no empty commit. */
  def deleteWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      fileMayMatch: String => Boolean = _ => true): (Int, Int, Int) = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    val files = filesOf(table, v)
    val (affected, carried) = files.partition(fileMayMatch)
    if (affected.isEmpty) return (v, 0, carried.length)
    // rewrite under the DECLARED schema: mixed-generation affected
    // files (an ADD COLUMN between appends) must not have the survivor
    // rewrite silently narrowed to whichever file's footer schema
    // inference happened to pick — older files null-fill, newer files
    // keep their evolved columns
    // DV'd and eq-deleted rows of the affected files are already
    // deleted — the rewrite must not resurrect them (carried files keep
    // their DV/eq entries); partition-aware subset read, or a
    // partitioned rewrite would persist NULL partition columns
    val survivors = readLiveForRewrite(spark, table, v, affected)
      .filter(!coalesce(cond, lit(false)))
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-delete-${java.util.UUID.randomUUID().toString.take(8)}")
    val cover = sidecarCover(table, v)
    val written = writePartitionedBatch(survivors, table, batch.toString, cover)
    val newFiles = written.files
    val next =
      // rewritten files' DVs/eq absorb; carried files' ride the claim;
      // a delete-all pins the pre-delete schema ([[carriedSchema]])
      try publish(table, v, "delete", carried ++ newFiles)(
        dv = carriedDv(table, v, carried),
        eq = carriedEq(table, v, carried), fresh = written.lines,
        cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          deleteBatchDir(batch); throw e
      }
    (next, affected.length, carried.length)
  }

  /** Copy-on-write UPDATE: rows matching `cond` get each `sets` column
    * replaced by its expression; everything else — including the
    * matched rows' OTHER columns and, on a lineage table, every row's
    * `_row_id` ([[RowIds]]) — carries byte-for-byte. Identity
    * preservation is the operator's reason to exist next to
    * delete+reinsert: an id-preserving update is what lets the lineage
    * change feed ([[RowIds.readChangesLineage]]) pair the row's before
    * and after images as `update_preimage`/`update_postimage` instead
    * of an unrelated delete+insert. SQL semantics: NULL-predicate rows
    * are untouched. `fileMayMatch` prunes the rewrite set exactly as
    * in [[deleteWhere]] — at 100 TB a keyed update with range/Z-order
    * clustering rewrites a few files, never the table. Returns
    * (new version, rows updated, files rewritten, files carried). */
  def updateWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, sets: Map[String, Column],
      fileMayMatch: String => Boolean = _ => true): (Int, Long, Int, Int) = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    require(sets.nonEmpty, "updateWhere needs at least one assignment")
    require(!sets.contains(RowIds.COL),
      s"${RowIds.COL} is the lineage identity — it cannot be assigned")
    val files = filesOf(table, v)
    val (affected, carried) = files.partition(fileMayMatch)
    if (affected.isEmpty) return (v, 0L, 0, carried.length)
    val base = readLiveForRewrite(spark, table, v, affected)
    sets.keys.foreach(c => require(base.columns.contains(c),
      s"updateWhere: $table has no column $c"))
    val hit = coalesce(cond, lit(false))
    val obs = new org.apache.spark.sql.Observation()
    val rewritten0 = base.observe(obs,
      sum(when(hit, 1L).otherwise(0L)).as("updated"))
    // ONE simultaneous projection — SQL UPDATE evaluates the predicate
    // and every RHS against the PRE-update row. A sequential
    // withColumn fold would let later assignments (and a predicate
    // referencing a set column) observe already-updated values, making
    // the result depend on Map iteration order (sets=Map(a->b, b->a)
    // must swap, not copy).
    val rewritten = rewritten0.select(base.columns.map { c =>
      sets.get(c) match {
        case Some(e) =>
          when(hit, e.cast(base.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toSeq: _*)
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-update-${java.util.UUID.randomUUID().toString.take(8)}")
    val cover = sidecarCover(table, v)
    val written = writePartitionedBatch(rewritten, table, batch.toString, cover)
    val newFiles = written.files
    val next =
      // rewritten files' DVs/eq absorb; carried files' ride the claim
      try publish(table, v, "update", carried ++ newFiles)(
        dv = carriedDv(table, v, carried),
        eq = carriedEq(table, v, carried), fresh = written.lines,
        cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          deleteBatchDir(batch); throw e
      }
    val updated = Option(obs.get.getOrElse("updated", null)) match {
      case Some(n: Number) => n.longValue()
      case _ => 0L
    }
    (next, updated, affected.length, carried.length)
  }

  /** Change data feed between two versions — what a downstream consumer
    * replays instead of re-reading the table (Delta's CDF, derived here
    * from the manifest structure alone): because data files are
    * immutable and a version IS its file set, the delta between
    * `fromVersion` and `toVersion` is exactly the rows of the files
    * that LEFT the set (emitted as `delete`) plus the rows of the files
    * that JOINED it (emitted as `insert`). An append commit yields pure
    * inserts; a [[mergeVersion]] yields the rewritten files' old rows
    * as deletes and their new rows as inserts (an unchanged row inside
    * a rewritten file appears as delete+insert of equal rows — a
    * keyed consumer applies it as a no-op upsert, the standard CDF
    * contract); carried files contribute only the rows a DV mark or an
    * eq entry newly deleted ([[changeParts]]), which is the point —
    * feed size is O(changed files), not O(table). Building the feed
    * starts no Spark job.
    */
  def readChanges(spark: SparkSession, table: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    // every part reads through the one reader at the version that holds
    // its files, then aligns to the to-version schema: a range across
    // an evolution mixes file generations
    val target = ManifestFileIndex.servedSchema(spark, table, toVersion)
    changeParts(table, fromVersion, toVersion).map(p =>
      alignToSchema(readRows(spark, table, p.version, Some(p.files), p.dv,
          p.eq, p.mode), target, renamesOf(target))
        .withColumn("_change_type", lit(p.change)))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        target.add("_change_type", org.apache.spark.sql.types.StringType)))
  }

  /** One part of a change feed: `files` read at `version` through the
    * delete filter over `dv`/`eq` in `mode`, emitted as `change`. */
  private[sources] case class ChangePart(version: Int, files: Seq[String],
      dv: Map[String, java.util.BitSet], eq: Seq[EqEntry], mode: DeleteMode,
      change: String)

  /** The parts of the change feed between two versions ([[readChanges]],
    * [[RowIds.readChangesLineage]]); `from <= 0` is "before the table
    * existed". Each side reads under ITS version's full delete state:
    *  - departing files at `from`, minus rows already dead there (their
    *    deletes were emitted when the DV mark or eq entry arrived);
    *  - carried files whose DV grew: exactly the newly-marked rows (a
    *    merge-on-read commit's whole delta, O(changed rows));
    *  - carried files in the scope of an entry ADDED in (from, to]: the
    *    rows it retires that were still live — not DV'd at `to` (dvTo
    *    holds dvFrom plus the grown marks above) and not held by an older
    *    entry. The feed pays the scan the eq COMMIT skipped, bounded by
    *    in-scope files;
    *  - arriving files at `to`, minus rows dead at `to` (they never
    *    became visible). */
  private[sources] def changeParts(table: String, from: Int,
      to: Int): Seq[ChangePart] = {
    val (before, dvFrom, eqFrom) =
      if (from <= 0) (Set.empty[String], Map.empty[String, java.util.BitSet],
        Seq.empty[EqEntry])
      else (filesOf(table, from).toSet, dvOf(table, from), eqOf(table, from))
    val after = filesOf(table, to).toSet
    val (dvTo, eqTo) = (dvOf(table, to), eqOf(table, to))
    val carried = (before & after).toSeq.sorted
    val grown = carried.flatMap { f =>
      val g = dvTo.getOrElse(f, new java.util.BitSet())
        .clone().asInstanceOf[java.util.BitSet]
      dvFrom.get(f).foreach(g.andNot)
      if (g.isEmpty) None else Some(f -> g)
    }.toMap
    val (eqOld, eqNew) =
      eqTo.partition(e => eqFrom.exists(_.dataPath == e.dataPath))
    val scoped = eqNew.flatMap(eqScope(table, _)).toSet
    Seq(
      ChangePart(from, (before -- after).toSeq.sorted, dvFrom, eqFrom,
        DeleteMode.Live, "delete"),
      ChangePart(to, grown.keys.toSeq.sorted, grown, Nil,
        DeleteMode.Marked, "delete"),
      ChangePart(to, carried.filter(f => scoped(normalizePath(f))), dvTo,
        eqOld, DeleteMode.RetiredBy(eqNew), "delete"),
      ChangePart(to, (after -- before).toSeq.sorted, dvTo, eqTo,
        DeleteMode.Live, "insert")).filter(_.files.nonEmpty)
  }

  /** The table's commit log as a DataFrame — DESCRIBE HISTORY for the
    * minimal table format: one row per version with its file count,
    * total bytes, whether it has a stats sidecar, the manifest's publish
    * time and the operation its `#commit` record names (null for
    * versions published before the record). Everything comes from
    * manifests + the filesystem (KB-scale metadata), no data files are
    * opened and no Spark job starts — the audit surface a table owner
    * queries before time-traveling or vacuuming. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versionsOf(table).map { v =>
      val fs = filesOf(table, v)
      val bytes = fs.map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
      val mtime = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(table, s"v$v.manifest")).toMillis
      val op = manifestLines(table, v).collectFirst {
        case l if l.startsWith("#commit\t") => l.stripPrefix("#commit\t") }
      (v, fs.length.toLong, bytes, resolveSidecar(table, v, "stats").isDefined,
        new java.sql.Timestamp(mtime), op)
    }.toDF("version", "n_files", "total_bytes", "has_stats", "committed_at",
      "operation").orderBy("version")
  }

  /** VACUUM: physically delete data files referenced ONLY by expired
    * versions. Keeps the newest `keepLast` manifests (and every file
    * any of them references — a file shared with an old version
    * survives); older manifests are removed, bounding time travel to
    * the kept horizon. This is the storage-reclamation half of the
    * table-format lifecycle (commit → compact → vacuum); the safety
    * property — never delete a file a kept manifest references — is
    * what distinguishes it from naive directory cleanup, and the
    * reason readers pinned within the horizon are never broken.
    * Returns (manifests removed, data files deleted). */
  def vacuumVersions(table: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest version")
    val versions = versionsOf(table)
    // lineage: persist every KEPT version's id assignment BEFORE any
    // manifest leaves — derivation walks the manifest chain, so a kept
    // (or tag-pinned) version without its sidecar must never outlive
    // its predecessors. A derivation FAILURE aborts the vacuum: a
    // swallowed error here would let the sweep delete the only
    // manifests the ids can still be derived from.
    // a TAGGED version is pinned: its manifest, sidecars, and files
    // all survive the sweep regardless of age (drop_tag releases it).
    // A version a live shallow CLONE was cut from is pinned the same
    // way — the clone's manifests list THIS table's files, so sweeping
    // them would corrupt the clone ([[cloneTable]] registers the pin,
    // [[detachClone]] releases it).
    val tagged = Refs.tagsOf(table).values.toSet ++ clonePins(table)
    if (RowIds.enabled(table))
      (versions.takeRight(keepLast) ++ versions.filter(tagged.contains))
        .distinct.sorted.foreach(v => RowIds.ridOf(table, v))
    val (expired0, kept0) = versions.splitAt(math.max(0, versions.length - keepLast))
    val (keptTagged, expired) = expired0.partition(tagged.contains)
    val kept = keptTagged ++ kept0
    // a live BRANCH's manifests reference parent files (the fork carries
    // them verbatim) — every file any branch version lists is pinned, or
    // a parent vacuum could cut the ground from under an open WAP branch
    val branchFiles = Refs.branchesOf(table).keysIterator.flatMap { b =>
      val bd = Refs.branchDir(table, b)
      versionsOf(bd).flatMap(bv => filesOf(bd, bv))
    }.toSet
    val keepFiles = kept.flatMap(v => filesOf(table, v)).toSet ++ branchFiles
    val deadFiles = expired.flatMap(v => filesOf(table, v)).toSet -- keepFiles
    // ownership guard: a table only ever deletes files under its OWN
    // root. A shallow clone's manifests list the source's files — the
    // clone expiring its early versions must drop the references, not
    // the source's data (the source's own vacuum, gated by the clone
    // pin above, is the single authority over those bytes).
    val root = java.nio.file.Paths.get(table).toAbsolutePath.normalize
      .toString + java.io.File.separator
    val swept = deadFiles.filter(f =>
      java.nio.file.Paths.get(f).toAbsolutePath
        .normalize.toString.startsWith(root))
    swept.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
    // a kept version's eq entries pin their scope MANIFESTS (the file
    // list is how the scope resolves at read time) and their key
    // parquets — both survive the sweep; the scope's DATA files follow
    // the normal liveness rule above (a vanished scope file simply
    // drops out of the intersection)
    val keptEq = kept.flatMap(v => eqOf(table, v))
    val pinnedScopes = keptEq.map(_.basedOn).toSet
    val pinnedEqData = keptEq.map(e => normalizePath(e.dataPath)).toSet
    expired.foreach { v =>
      // an expired version whose files a live BRANCH still pins keeps
      // its manifest as the sweep ledger: deleting it now would orphan
      // those files forever once the branch expires or drops (no
      // manifest would reference them, so no later vacuum could judge
      // them dead)
      val branchPinned =
        filesOf(table, v).exists(branchFiles.contains)
      val pointers = sidecarPointersOf(table, v)
      val eqData = eqOf(table, v).map(e => normalizePath(e.dataPath)).distinct
      val manifest = java.nio.file.Paths.get(table, s"v$v.manifest")
      if (!pinnedScopes.contains(v) && !branchPinned)
        java.nio.file.Files.deleteIfExists(manifest)
      else if (pointers.nonEmpty) {
        // a manifest kept only as a file list drops its sidecar
        // pointers with the sidecars swept below — a pointer at a
        // missing sidecar reads as lost deletes and fails loudly
        val tmp = java.nio.file.Files.createTempFile(
          java.nio.file.Paths.get(table), s".v$v", ".tmp")
        java.nio.file.Files.write(tmp, manifestLines(table, v)
          .filterNot(_.startsWith("#sidecar")).mkString("\n")
          .getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, manifest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      // sidecars travel with their manifest
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.stats"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.bloom"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.schema"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.dv"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.ndv"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.rid"))
      // an expired version's eq sidecar goes; its key parquets go too
      // unless a kept version still lists them
      eqData.filterNot(pinnedEqData.contains)
        .foreach(d => deleteTree(java.nio.file.Paths.get(d)))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, s"v$v.eq"))
      // un-promoted staged sidecars this version pointed at go with it
      pointers.values.foreach(n =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(table, n)))
    }
    // stranded staged sidecars: a crashed or raced commit leaves
    // `.staged-*` files no kept manifest points to. Sweep the provably
    // dead ones — unreferenced AND past the in-flight grace window (a
    // commit stages milliseconds before its claim; 15 min is paranoid)
    val pointed = kept.flatMap(v =>
      sidecarPointersOf(table, v).values).toSet
    val cutoff = System.currentTimeMillis() - 15L * 60 * 1000
    val dir = manifestDir(table)
    if (dir.exists()) dir.listFiles().toSeq
      .filter(f => f.getName.startsWith(".staged-") &&
        !pointed.contains(f.getName) && f.lastModified() < cutoff)
      .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    // count only what the ownership guard let this table DELETE —
    // foreign (clone-shared) references merely expired
    (expired.length, swept.size)
  }

  // ---- shallow clone: zero-copy table fork ---------------------------

  /** Live clone registrations of `table`: (id, clone path, cut
    * version). The operator's audit surface — a clone deleted without
    * [[detachClone]] leaves its pin here; removing `_clones/<id>`
    * releases it manually. */
  def listClones(table: String): Seq[(String, String, Int)] = {
    val dir = java.nio.file.Paths.get(table, "_clones").toFile
    if (!dir.exists()) Seq.empty
    else dir.listFiles().toSeq.flatMap { f =>
      scala.util.Try {
        val Array(dst, v) = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .trim.split("\t", 2)
        (f.getName, dst, v.toInt)
      }.toOption
    }
  }

  /** Versions of `table` some live shallow clone was cut from — each
    * pins its manifest, files, and sidecars against [[vacuumVersions]]
    * exactly like a tag. */
  def clonePins(table: String): Set[Int] =
    listClones(table).map(_._3).toSet

  /** SHALLOW CLONE: fork `srcTable`'s latest version into a brand-new
    * independent table that shares the source's DATA FILES byte-for-
    * byte — the commit writes only metadata: the table properties and
    * one manifest link carrying the cut version's declared schema, its
    * delete state as DV marks and its stats/NDV/bloom lines, so the
    * source never owes the clone anything but data bytes. Writes to either
    * table diverge freely afterwards: each side's commits reference
    * its own new batches, and the vacuum ownership guard means the
    * clone can never delete source bytes.
    *
    * Source-side safety: the cut version is registered under
    * `<src>/_clones/` and [[vacuumVersions]] pins it like a tag, so
    * the source's sweeps cannot strand the clone; [[detachClone]]
    * releases the pin once the clone has localized its data. Lineage
    * (row-id) sources are refused — their identity derivation walks
    * the source's own manifest chain, which a fork cannot carry.
    * Returns the pinned source version. */
  def cloneTable(spark: SparkSession, srcTable: String,
      dstTable: String): Int = {
    val v = latestVersion(srcTable)
    require(v > 0, s"$srcTable has no committed versions")
    require(latestVersion(dstTable) == 0 &&
        !java.nio.file.Paths.get(dstTable, "table.properties").toFile.exists(),
      s"cloneTable: $dstTable already exists")
    require(!RowIds.enabled(srcTable),
      "cloneTable: row-lineage sources cannot be shallow-cloned — the " +
        "id derivation walks the source's manifest chain; " +
        "materialize a copy instead")
    // the pin lands FIRST, atomically (torn pins must be
    // unrepresentable — a half-written pin read as "no pin" would let
    // a racing source vacuum sweep the shared bytes), and only then is
    // the cut manifest re-verified: if a sweep won the race the clone
    // aborts loudly instead of publishing dangling references
    val cloneId = java.util.UUID.randomUUID().toString.take(12)
    val pinDir = java.nio.file.Paths.get(srcTable, "_clones")
    java.nio.file.Files.createDirectories(pinDir)
    val tmp = java.nio.file.Files.createTempFile(pinDir, ".pin", ".tmp")
    java.nio.file.Files.write(tmp, s"$dstTable\t$v".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, pinDir.resolve(cloneId),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    try {
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(srcTable, s"v$v.manifest")),
        s"cloneTable: version $v of $srcTable was vacuumed before the " +
          "clone pin landed — retry against the new latest")
      val files = filesOf(srcTable, v)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dstTable))
      // delete state materializes EXACTLY: the cut version's DV marks
      // OR the eq entries' scope-resolved retired positions. Carrying
      // the entries themselves would rebase their scope onto the
      // clone's v1 (ALL cut files) and wrongly delete rows the
      // source's narrower per-entry scopes excluded — e.g. a key's
      // own post-entry upsert batch.
      val dv0 = dvOf(srcTable, v)
      val eqPos = eqRetiredPositions(spark, srcTable, files,
        eqOf(srcTable, v))
      val dv = (dv0.keySet ++ eqPos.keySet).map { f =>
        val b = new java.util.BitSet()
        dv0.get(f).foreach(b.or)
        eqPos.get(f).foreach(b.or)
        f -> b
      }.toMap
      writeTableProperties(dstTable, tableProperties(srcTable) ++
        Map("clone.of" -> srcTable, "clone.id" -> cloneId))
      // the DV, the declared schema and the path-keyed skipping lines
      // (valid verbatim: shared paths) ride the clone's first link
      publish(dstTable, 0, "clone", files)(dv = dv,
        schema = declaredSchema(srcTable, v), carryFrom = -1,
        fresh = linesOf(srcTable, v), cover = StatsCover.empty)
      v
    } catch { case e: Throwable =>
      // a failed clone must not leak its pin (it would block the
      // source's vacuum forever) or a half-built clone tree
      java.nio.file.Files.deleteIfExists(pinDir.resolve(cloneId))
      deleteTree(java.nio.file.Paths.get(dstTable))
      throw e
    }
  }

  /** Localize and release a shallow clone: compact the clone (every
    * live row rewrites into clone-owned files), expire the foreign-
    * referencing history, then release the source-side pin. After
    * this the two tables share nothing and the source may vacuum
    * freely. */
  def detachClone(spark: SparkSession, dstTable: String,
      targetRecordsPerFile: Long = 1 << 20): Unit = {
    val props = tableProperties(dstTable)
    val src = props.getOrElse("clone.of",
      throw new IllegalArgumentException(
        s"$dstTable is not a clone (no clone.of property)"))
    val id = props.getOrElse("clone.id",
      throw new IllegalArgumentException(
        s"$dstTable carries clone.of=$src but no clone.id — release " +
          s"the pin manually (${src}/_clones/) and drop clone.of"))
    compactVersion(spark, dstTable, targetRecordsPerFile)
    vacuumVersions(dstTable, keepLast = 1)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(src, "_clones", id))
    writeTableProperties(dstTable, props - "clone.of" - "clone.id")
  }

  /** Compaction as a COMMIT: rewrite the latest version's (typically
    * many small, per-micro-batch) files into ~`targetRecordsPerFile`
    * files and publish the result as a new version. Readers pinned to
    * older versions are untouched — their files are never deleted or
    * rewritten — which is exactly what directory-overwrite compaction
    * ([[compact]]) cannot offer; this is OPTIMIZE for the minimal
    * table format. Returns (new version, files before, files after). */
  def compactVersion(spark: SparkSession, table: String,
      targetRecordsPerFile: Long): (Int, Int, Int) = {
    val v = latestVersion(table)
    val before = filesOf(table, v).length
    val df =
      if (RowIds.enabled(table)) RowIds.readVersionWithRowIds(spark, table, v)
      else readVersion(spark, table, v)
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRecordsPerFile).toInt)
    // conflict-DETECTING publish: the compacted content was read at v —
    // an overwrite retry after a racing append would silently discard
    // the racer's rows, so a lost race fails loudly instead. On loss
    // the just-written (unreferenced) compacted batch is deleted so a
    // retried compaction cannot strand disk.
    //
    // A table with a DECLARED layout (`layout.range`/`layout.zorder`
    // properties) is re-CLUSTERED here, not just coalesced — compaction
    // is the global pass that restores tight per-file intervals after
    // many per-batch-clustered appends (Delta's OPTIMIZE ZORDER BY).
    val toRelease = scala.collection.mutable.Buffer.empty[DataFrame]
    val compacted = {
      val props = tableProperties(table)
      if (props.contains("layout.range") || props.contains("layout.zorder")) {
        val withCount = props + ("layout.files" ->
          props.getOrElse("layout.files", nFiles.toString))
        clusterByLayoutProps(df, withCount, toRelease)
      } else if (bucketSpecOf(table).isDefined)
        // the batch writer re-buckets (repartition on the bucket id)
        // anyway — a coalescing pre-shuffle here would just be a second
        // exchange of the whole table
        df
      else df.repartition(nFiles)
    }
    val cover = sidecarCover(table, v)
    val written =
      try writeBatch(compacted, table, cover)
      finally toRelease.foreach(_.unpersist(false))
    val newFiles = written.files
    // no DV carry: compaction reads through readVersion (DVs applied)
    // and rewrites every file — the new version is clean by definition,
    // and its sidecars are the write's own lines for every covered
    // column, so OPTIMIZE never drops file skipping
    val next =
      try publish(table, v, "compaction", newFiles)(carryFrom = -1,
        fresh = written.lines, cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          newFiles.headOption.foreach(f => deleteBatchDir(
            java.nio.file.Paths.get(f).getParent))
          throw e
      }
    (next, before, filesOf(table, next).length)
  }

  /** SCOPED compaction — `OPTIMIZE ... WHERE` for the manifest format:
    * rewrite only the files `fileMayMatch` selects (typically one
    * partition's directory, or "files under N bytes") into
    * ~`targetRecordsPerFile` files; everything else carries forward
    * byte-identical with its stats/bloom/DV/eq sidecars. At 100 TB
    * whole-table [[compactVersion]] is a scheduled luxury; the
    * operational loop compacts the ONE hot partition the last hour of
    * micro-batches fragmented — cost bounded by scope bytes, never
    * table bytes. Scoped files absorb their DV marks and any pending
    * eq deletes (the rewrite reads through both); carried files keep
    * theirs. Returns (version, files before in scope, files after). */
  def compactVersionWhere(spark: SparkSession, table: String,
      targetRecordsPerFile: Long,
      fileMayMatch: String => Boolean): (Int, Int, Int) = {
    val v = latestVersion(table)
    require(v > 0, s"$table has no committed versions")
    val files = filesOf(table, v)
    val (affected, carried) = files.partition(fileMayMatch)
    if (affected.isEmpty) return (v, 0, 0)
    val dv = dvOf(table, v)
    val scoped = readLiveForRewrite(spark, table, v, affected)
    val rows = scoped.count()
    val nFiles = math.max(1,
      math.ceil(rows.toDouble / targetRecordsPerFile).toInt)
    // same layout discipline as the full pass: declared clusterings
    // re-cluster the scope; bucketed tables re-bucket in the batch
    // writer; plain tables coalesce
    val toRelease = scala.collection.mutable.Buffer.empty[DataFrame]
    val compacted = {
      val props = tableProperties(table)
      if (props.contains("layout.range") || props.contains("layout.zorder")) {
        val withCount = props + ("layout.files" ->
          props.getOrElse("layout.files", nFiles.toString))
        clusterByLayoutProps(scoped, withCount, toRelease)
      } else if (bucketSpecOf(table).isDefined) scoped
      else if (partitionColumnsOf(table).nonEmpty)
        // one exchange keyed by the partition columns so each hive dir
        // lands as ~1 file per target-size unit, not one per input task
        scoped.repartition(nFiles,
          partitionColumnsOf(table).map(col): _*)
      else if (partTransformOf(table).isDefined) {
        val t = partTransformOf(table).get
        scoped.repartition(nFiles,
          transformColumn(t, col(t.column), scoped.schema(t.column).dataType))
      } else scoped.repartition(nFiles)
    }
    val batch = java.nio.file.Paths.get(table, "data",
      s"batch-opt-${java.util.UUID.randomUUID().toString.take(8)}")
    val cover = sidecarCover(table, v)
    val written =
      try writePartitionedBatch(compacted, table, batch.toString, cover)
      finally toRelease.foreach(_.unpersist(false))
    val newFiles = written.files
    val next =
      // scoped files' DV marks are applied and absorbed; carried files
      // keep theirs (and their pending eq entries) — staged at claim
      try publish(table, v, "scoped compaction", carried ++ newFiles)(
        dv = dv.filter { case (f, _) => !affected.contains(f) },
        eq = carriedEq(table, v, carried), fresh = written.lines,
        cover = cover)
      catch {
        case e: java.util.ConcurrentModificationException =>
          deleteBatchDir(batch); throw e
      }
    (next, affected.length, newFiles.length)
  }
}

/** One membership test, shared by the eq probe task and the delete
  * rule: which row columns form the key (`ords`), each as (row type,
  * compared type), which shipped key index to probe, and which of its
  * entries count (`mask`: one entry's, or every entry reaching a
  * file). */
private[sources] case class EqCheck(dataPath: String, set: Int,
    mask: java.util.BitSet, ords: Array[Int],
    types: Array[(org.apache.spark.sql.types.DataType,
      org.apache.spark.sql.types.DataType)]) {

  /** Whether `row`'s key is held by an entry of `mask`. A NULL key
    * matches nothing. */
  def hits(row: org.apache.spark.sql.catalyst.InternalRow,
      sets: Vector[EqCheck.KeyIndex], tz: String): Boolean = {
    val key =
      if (ords.length == 1) {
        if (row.isNullAt(ords(0))) return false
        val (from, to) = types(0)
        EqCheck.widen(row.get(ords(0), from), from, to, tz)
      } else {
        if (ords.exists(row.isNullAt)) return false
        ords.indices.map { n =>
          val (from, to) = types(n)
          EqCheck.widen(row.get(ords(n), from), from, to, tz)
        }
      }
    sets(set).get(key) match {
      case Some(holders) => holders.intersects(mask)
      case None => false
    }
  }
}

private[sources] object EqCheck {
  import org.apache.spark.sql.catalyst.InternalRow

  /** Each key of some entries -> the ids of the entries holding it. */
  type KeyIndex = scala.collection.Map[Any, java.util.BitSet]

  /** `v` of type `from` as a comparable value of type `to`; floating
    * zeros and NaNs are made canonical, as a join normalizes its keys. */
  def widen(v: Any, from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType, tz: String): Any =
    (if (from == to) v
     else org.apache.spark.sql.catalyst.expressions.Cast(
       org.apache.spark.sql.catalyst.expressions.Literal(v, from), to,
       Some(tz)).eval()) match {
      case d: Double if d == 0.0d || d.isNaN => if (d.isNaN) Double.NaN else 0.0d
      case f: Float if f == 0.0f || f.isNaN => if (f.isNaN) Float.NaN else 0.0f
      case o => o
    }

  def partitionedFile(path: String, len: Long,
      partitionValues: InternalRow = InternalRow.empty)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      partitionValues,
      org.apache.spark.paths.SparkPath.fromPathString(path),
      0L, len, Array.empty[String], 0L, len, Map.empty[String, Any])

  def close(it: Iterator[_]): Unit = it match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }

  /** One probe task: read `f` once, with partition values `pv` (its
    * row index at `idxOrd`), and set, per check, the positions whose
    * key is in its set. Returns (entry key path, file, positions). */
  def probe(read: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow], f: String, len: Long, pv: InternalRow,
      idxOrd: Int, checks: Seq[EqCheck],
      sets: Vector[KeyIndex], tz: String): Seq[(String, String, Array[Long])] = {
    val bits = checks.map(_ => new java.util.BitSet())
    val it = read(partitionedFile(f, len, pv))
    try it.foreach { row =>
      val i = row.getLong(idxOrd)
      require(i <= Int.MaxValue,
        s"row index $i overflows the eq position bitset")
      checks.zip(bits).foreach { case (c, b) =>
        if (c.hits(row, sets, tz)) b.set(i.toInt)
      }
    } finally close(it)
    checks.zip(bits).map { case (c, b) => (c.dataPath, f, b.toLongArray) }
  }
}

/** The delete rule's state, built on the driver by
  * [[Sources.Deletes.spec]] and shipped with the plan or the reader
  * factory: per normalized file, its DV marks and the [[EqCheck]]s of
  * the entries that reach it — `drop` (the row is dead if one hits) and
  * `need` (in [[Sources.DeleteMode.RetiredBy]], the row is kept only if
  * one hits). Equal by `id` — the table, files, DV text, entries and
  * mode it was built from — so two reads of one version plan equal. */
private[sources] final class DeleteSpec(val id: Any,
    marks: Map[String, Array[Byte]],
    checks: Map[String, (Array[EqCheck], Array[EqCheck])],
    sets: Vector[EqCheck.KeyIndex], tz: String, mode: Sources.DeleteMode)
  extends Serializable {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.unsafe.types.UTF8String

  @transient private lazy val bits: Map[String, java.util.BitSet] =
    marks.map { case (f, b) => f -> java.util.BitSet.valueOf(b) }
  // rows arrive file by file: resolve a path once per run of its rows
  @transient private lazy val last = new ThreadLocal[(UTF8String, FileRule)]

  /** The rule for one file (its normalized path). */
  def file(f: String): FileRule = {
    val (drop, need) = checks.getOrElse(f, (Array.empty[EqCheck],
      Array.empty[EqCheck]))
    new FileRule(bits.getOrElse(f, null), drop, need)
  }

  final class FileRule(dv: java.util.BitSet, drop: Array[EqCheck],
      need: Array[EqCheck]) {
    /** Every row of the file is kept. */
    def keepsAll: Boolean =
      mode == Sources.DeleteMode.Live && dv == null && drop.isEmpty

    /** Whether the row at position `idx`, whose key columns `keys`
      * holds, is kept. */
    def keep(idx: Long, keys: => InternalRow): Boolean = {
      val marked = dv != null && idx <= Int.MaxValue && dv.get(idx.toInt)
      lazy val k = keys
      mode match {
        case Sources.DeleteMode.Marked => marked
        case Sources.DeleteMode.Live => !marked && !drop.exists(_.hits(k, sets, tz))
        case Sources.DeleteMode.RetiredBy(_) => !marked && need.nonEmpty &&
          !drop.exists(_.hits(k, sets, tz)) && need.exists(_.hits(k, sets, tz))
      }
    }
  }

  def keep(path: UTF8String, idx: Long, keys: => InternalRow): Boolean = {
    val hit = last.get()
    val rule =
      if (hit != null && hit._1 == path) hit._2
      else {
        val r = file(Sources.normalizePath(path.toString))
        last.set((path.clone(), r))
        r
      }
    rule.keep(idx, keys)
  }

  override def toString: String = s"deletes(${checks.size} files)"

  override def equals(o: Any): Boolean = o match {
    case s: DeleteSpec => s.id == id
    case _ => false
  }
  override val hashCode: Int = id.hashCode
}

/** The one delete filter as a Catalyst predicate: children are the
  * scan's `_metadata.file_path`, `_metadata.row_index` and the key
  * columns, evaluated to the same `InternalRow` values the eq probe
  * reads. Interpreted inside generated code (`CodegenFallback`). */
private[sources] case class DeleteFilter(
    children: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression],
    spec: DeleteSpec)
  extends org.apache.spark.sql.catalyst.expressions.Expression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow

  override def nullable: Boolean = false
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType

  override def eval(input: InternalRow): Any = {
    def keys = {
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(children.length - 2)
      var i = 2
      while (i < children.length) {
        r.update(i - 2, children(i).eval(input)); i += 1
      }
      r
    }
    spec.keep(children(0).eval(input)
      .asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      children(1).eval(input).asInstanceOf[Long], keys)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression])
      : DeleteFilter = copy(children = c)
}
