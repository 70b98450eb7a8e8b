package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}

/** The versioned table surfaced as a first-class Catalyst scan: a
  * custom [[FileIndex]] (the integration point Delta's TahoeFileIndex
  * and Iceberg's Spark source use) that pins one manifest version and
  * answers the planner's `listFiles(partitionFilters, dataFilters)`
  * by consulting the `v<N>.stats` min/max sidecar
  * ([[Sources.commitStats]]).
  *
  * The division of labor this buys over [[Sources.readVersionPruned]]:
  * there, the CALLER states the range and pruning happens before
  * Spark; here, pruning sits INSIDE the scan, so whatever predicate
  * Catalyst pushes down — written by a user who has never heard of
  * manifests, composed through joins, or synthesized by DPP — reaches
  * `listFiles` as `dataFilters` and skips files automatically, while
  * Spark's own parquet reader (vectorized, codegen'd, row-group
  * pruning) still does the reading. File skipping is conservative:
  * only extractable bounds on statted NUMERIC columns prune; any
  * un-extractable predicate shape, un-statted column, or stats-less
  * file keeps the file, and Spark always re-evaluates the full
  * predicate on the rows it reads — pruning can never change results,
  * only I/O.
  *
  * Scale note (100 TB): the planner consults stats held on the driver
  * (KBs per thousand files) and drops whole FILES — and with them the
  * tasks that would have scanned them — before the first executor is
  * involved. Parquet row-group stats can only prune within a file a
  * task already opened.
  */
class ManifestFileIndex(spark: SparkSession, private val table: String,
    version: Int = -1, private val only: Option[Set[String]] = None)
  extends PartitioningAwareFileIndex(spark, Map.empty, None,
    FileStatusCache.getOrCreate(spark)) {
  // PartitioningAwareFileIndex (not the bare FileIndex trait) so ONE
  // index class serves both read stacks: the V1 HadoopFsRelation
  // (`USING graft`, accepts any FileIndex) and the DSv2 FileTable
  // catalog path (which requires this class). The leaf-file maps are
  // the manifest's pinned set; the pruning listFiles below overrides
  // the base implementation outright. `only` restricts the index to a
  // file subset — the partition-aware reader rewrite paths use
  // (delete survivors, merge base, DV candidates).

  private val v =
    if (version < 0) Sources.latestVersion(table) else version
  require(v > 0, s"$table has no committed versions")

  private val statuses: Seq[FileStatus] = {
    val fs = new Path(table).getFileSystem(
      spark.sessionState.newHadoopConf())
    Sources.filesOf(table, v)
      .filter(f => only.forall(_.contains(f)))
      .map(f => fs.getFileStatus(new Path(f)))
  }

  // identity-partitioned table (`partition.columns` property): the
  // hive-laid-out batch dirs carry `c=v` segments, and the spec is
  // built DIRECTLY from the manifest's paths — Spark's own
  // inferPartitioning cannot serve a multi-batch layout (its
  // discovered-base-path validation requires ONE parent above the
  // partition dirs; every commit's immutable batch dir is a different
  // parent, exactly like Delta — which also builds its own spec).
  // Value types come from the declared schema (DDL); absent that,
  // strings. Catalyst's partitionFilters then drop whole directories
  // before stats pruning even looks.
  private lazy val spec: PartitionSpec = {
    val partSchema = ManifestFileIndex.partitionSchemaOf(table, v)
    if (partSchema.isEmpty) PartitionSpec.emptySpec
    else PartitionSpec(partSchema,
      statuses.map(_.getPath.getParent).distinct.map(d =>
        org.apache.spark.sql.execution.datasources.PartitionPath(
          ManifestFileIndex.partitionValues(d.toUri.getPath, partSchema), d)))
  }
  private val stats = Sources.statsOf(table, v)
  private val strStats = Sources.statsOfString(table, v)
  // per-file bloom filters, deserialized once per index instance —
  // the point-predicate skipping device for non-clustering columns
  private lazy val blooms: Map[(String, String), org.apache.spark.util.sketch.BloomFilter] =
    Sources.bloomsOf(table, v).map { case (k, bytes) =>
      k -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    }

  // two reads of one version (or one file subset of it) plan equal, so
  // `persist` and exchange reuse match them — the base class compares
  // by reference
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.table == table && m.v == v && m.only == only
    case _ => false
  }
  override def hashCode: Int = (table, v, only).hashCode

  override def rootPaths: Seq[Path] = Seq(new Path(table))
  override def partitionSpec(): PartitionSpec = spec
  override def leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(st => m += (st.getPath -> st))
    m
  }
  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }
  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  override def refresh(): Unit = ()

  /** Lower/upper bounds per column name extractable from the pushed
    * predicates. Strict bounds are relaxed to inclusive (conservative:
    * may keep a boundary file, never drops a needed one). */
  private def boundsOf(filters: Seq[Expression])
      : Map[String, (Option[BigDecimal], Option[BigDecimal])] = {
    def lit(e: Expression): Option[BigDecimal] = e match {
      case Literal(null, _) => None // null literal: contributes no bound
      case Literal(x, dt) => dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(BigDecimal(x.toString))
        case FloatType | DoubleType => Some(BigDecimal(x.toString))
        case _: DecimalType =>
          Some(BigDecimal(x.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal))
        case _ => None
      }
      case _ => None
    }
    val perCol = scala.collection.mutable.Map
      .empty[String, (Option[BigDecimal], Option[BigDecimal])]
    def add(name: String, lo: Option[BigDecimal], hi: Option[BigDecimal]): Unit = {
      val (l0, h0) = perCol.getOrElse(name, (None, None))
      perCol(name) = (
        (l0 ++ lo).reduceOption(_ max _),
        (h0 ++ hi).reduceOption(_ min _))
    }
    filters.foreach {
      case GreaterThanOrEqual(a: AttributeReference, l) =>
        add(a.name, lit(l), None)
      case GreaterThan(a: AttributeReference, l) => add(a.name, lit(l), None)
      case LessThanOrEqual(a: AttributeReference, l) =>
        add(a.name, None, lit(l))
      case LessThan(a: AttributeReference, l) => add(a.name, None, lit(l))
      case EqualTo(a: AttributeReference, l) => add(a.name, lit(l), lit(l))
      case GreaterThanOrEqual(l, a: AttributeReference) =>
        add(a.name, None, lit(l))
      case GreaterThan(l, a: AttributeReference) => add(a.name, None, lit(l))
      case LessThanOrEqual(l, a: AttributeReference) =>
        add(a.name, lit(l), None)
      case LessThan(l, a: AttributeReference) => add(a.name, lit(l), None)
      case EqualTo(l, a: AttributeReference) => add(a.name, lit(l), lit(l))
      case In(a: AttributeReference, vs) if vs.nonEmpty =>
        val bds = vs.map(lit)
        if (bds.forall(_.isDefined)) {
          val xs = bds.flatten
          add(a.name, Some(xs.min), Some(xs.max))
        }
      case And(x, y) => // conjuncts usually arrive split; handle nesting too
        val inner = boundsOf(Seq(x, y))
        inner.foreach { case (n, (lo, hi)) => add(n, lo, hi) }
      case _ => () // unknown shape: contributes no bounds (no pruning)
    }
    perCol.toMap
  }

  /** String-column bounds from the pushed predicates — the read-side
    * consumer of [[Sources.commitStats]]'s `S:`+base64 sidecar lines
    * (lang/source/category predicates that dominate text-corpus scans).
    * Comparison safety: stored bounds are write-side-guarded to ASCII,
    * and UTF-8 binary order (Spark's string min/max) agrees with Java's
    * UTF-16 compareTo whenever ONE side is pure ASCII — the first
    * differing position pits an ASCII unit against anything, and ASCII
    * sorts below every non-ASCII unit in both encodings — so an
    * arbitrary query literal against ASCII bounds can never misorder. */
  private def stringBoundsOf(filters: Seq[Expression])
      : Map[String, (Option[String], Option[String])] = {
    def lit(e: Expression): Option[String] = e match {
      case Literal(null, _) => None
      case Literal(s, org.apache.spark.sql.types.StringType) =>
        Option(s).map(_.toString)
      case _ => None
    }
    val perCol = scala.collection.mutable.Map
      .empty[String, (Option[String], Option[String])]
    def add(name: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = perCol.getOrElse(name, (None, None))
      perCol(name) = (
        (l0 ++ lo).reduceOption((a, b) => if (a.compareTo(b) >= 0) a else b),
        (h0 ++ hi).reduceOption((a, b) => if (a.compareTo(b) <= 0) a else b))
    }
    filters.foreach {
      case GreaterThanOrEqual(a: AttributeReference, l) => add(a.name, lit(l), None)
      case GreaterThan(a: AttributeReference, l) => add(a.name, lit(l), None)
      case LessThanOrEqual(a: AttributeReference, l) => add(a.name, None, lit(l))
      case LessThan(a: AttributeReference, l) => add(a.name, None, lit(l))
      case EqualTo(a: AttributeReference, l) => add(a.name, lit(l), lit(l))
      case GreaterThanOrEqual(l, a: AttributeReference) => add(a.name, None, lit(l))
      case GreaterThan(l, a: AttributeReference) => add(a.name, None, lit(l))
      case LessThanOrEqual(l, a: AttributeReference) => add(a.name, lit(l), None)
      case LessThan(l, a: AttributeReference) => add(a.name, lit(l), None)
      case EqualTo(l, a: AttributeReference) => add(a.name, lit(l), lit(l))
      case In(a: AttributeReference, vs) if vs.nonEmpty =>
        val bds = vs.map(lit)
        if (bds.forall(_.isDefined)) {
          val xs = bds.flatten
          add(a.name, Some(xs.min), Some(xs.max))
        }
      case And(x, y) =>
        val inner = stringBoundsOf(Seq(x, y))
        inner.foreach { case (n, (lo, hi)) => add(n, lo, hi) }
      case _ => ()
    }
    perCol.toMap
  }

  /** Top-level point-equality conjuncts as (column, candidate values)
    * — one entry PER CONJUNCT (two `c = …` conjuncts on one column
    * must both hold). Values render as the string the write side
    * hashed (`cast(col as string)`); only integral and string literal
    * types are rendered — other types' cast renderings are not
    * guaranteed to match literal.toString, and skipping a render just
    * keeps the file. */
  private def pointChecksOf(filters: Seq[Expression])
      : Seq[(String, Seq[String])] = {
    def render(v: Any, dt: org.apache.spark.sql.types.DataType): Option[String] =
      dt match {
        case _ if v == null => None
        case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
        // covers both Literal values and InSet's raw UTF8String members
        case org.apache.spark.sql.types.StringType => Some(v.toString)
        case _ => None
      }
    filters.flatMap {
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        render(v, dt).map(s => a.name -> Seq(s))
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        render(v, dt).map(s => a.name -> Seq(s))
      case In(a: AttributeReference, vs) if vs.nonEmpty =>
        val rs = vs.map { case Literal(v, dt) => render(v, dt); case _ => None }
        if (rs.forall(_.isDefined)) Some(a.name -> rs.flatten)
        else None
      // OptimizeIn rewrites long IN lists (> conversion threshold) to
      // InSet before predicates reach the planner — the many-candidate
      // point lookup is where bloom skipping matters most
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        val rs = hset.toSeq.map(v => render(v, a.dataType))
        if (rs.forall(_.isDefined)) Some(a.name -> rs.flatten.sorted)
        else None
      case And(x, y) => pointChecksOf(Seq(x)) ++ pointChecksOf(Seq(y))
      case _ => None
    }
  }

  /** The per-file stats/bloom keep-decision for one predicate set —
    * shared by the flat and the partitioned listFiles paths. Returns a
    * trivially-true keeper when no predicate yields a usable bound, so
    * the common no-filter scan pays nothing. */
  private def statsKeeper(dataFilters: Seq[Expression]): String => Boolean = {
    val bounds = boundsOf(dataFilters)
    val strBounds = stringBoundsOf(dataFilters)
    // analyze the PREDICATES first (pure expression work): the bloom
    // sidecar only deserializes when a point check actually exists
    val pointCandidates = pointChecksOf(dataFilters)
    val points = if (pointCandidates.isEmpty || blooms.isEmpty) Nil
                 else pointCandidates
    if (bounds.isEmpty && strBounds.isEmpty && points.isEmpty) _ => true
    else f =>
      bounds.forall { case (c, (lo, hi)) =>
        stats.get((f, c)) match {
          case Some((mn, mx)) =>
            lo.forall(mx >= _) && hi.forall(mn <= _)
          case None => true // no stats row: must keep
        }
      } && strBounds.forall { case (c, (lo, hi)) =>
        strStats.get((f, c)) match {
          case Some((mn, mx)) =>
            lo.forall(mx.compareTo(_) >= 0) && hi.forall(mn.compareTo(_) <= 0)
          case None => true // no stats row: must keep
        }
      } && points.forall { case (c, vals) =>
        blooms.get((f, c)) match {
          // bloom "might contain" keeps; definite absence of EVERY
          // candidate value drops — false positives only ever read
          case Some(b) => vals.exists(b.mightContainString)
          case None => true // no bloom: must keep
        }
      }
  }

  // ---- HIDDEN partition-transform pruning (days/months/years/hours/
  // truncate): a pushed predicate on the RAW source column converts to
  // a window test against each file's `_pt=<v>` directory segment.
  // This is the coarse tier for transform-partitioned tables (their
  // partition spec is deliberately EMPTY — the derived column is
  // hidden), sitting above stats/bloom exactly where identity tables'
  // partitionFilters sit. Conservative throughout: unparsable dir
  // values, exotic predicate shapes, or non-literal bounds keep the
  // file; Spark re-evaluates every predicate above the scan. ----------

  private lazy val ptransform = Sources.partTransformOf(table)

  /** The unescaped `_pt=` segment of a manifest path, if any. */
  private def ptValueOf(path: String): Option[String] =
    path.split('/').find(_.startsWith("_pt=")).map(seg =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(4)))

  /** Single-column literal bounds in a caller-chosen numeric space —
    * the temporal sibling of [[boundsOf]] (strict relaxed to
    * inclusive; unknown shapes contribute nothing). */
  private def pickBounds(colName: String, filters: Seq[Expression],
      toLong: Expression => Option[Long]): (Option[Long], Option[Long]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def add(l: Option[Long], h: Option[Long]): Unit = {
      lo = (lo ++ l).reduceOption(_ max _)
      hi = (hi ++ h).reduceOption(_ min _)
    }
    def walk(fs: Seq[Expression]): Unit = fs.foreach {
      case GreaterThanOrEqual(a: AttributeReference, l)
        if a.name == colName => add(toLong(l), None)
      case GreaterThan(a: AttributeReference, l)
        if a.name == colName => add(toLong(l), None)
      case LessThanOrEqual(a: AttributeReference, l)
        if a.name == colName => add(None, toLong(l))
      case LessThan(a: AttributeReference, l)
        if a.name == colName => add(None, toLong(l))
      case EqualTo(a: AttributeReference, l)
        if a.name == colName => add(toLong(l), toLong(l))
      case GreaterThanOrEqual(l, a: AttributeReference)
        if a.name == colName => add(None, toLong(l))
      case GreaterThan(l, a: AttributeReference)
        if a.name == colName => add(None, toLong(l))
      case LessThanOrEqual(l, a: AttributeReference)
        if a.name == colName => add(toLong(l), None)
      case LessThan(l, a: AttributeReference)
        if a.name == colName => add(toLong(l), None)
      case EqualTo(l, a: AttributeReference)
        if a.name == colName => add(toLong(l), toLong(l))
      case In(a: AttributeReference, vs)
        if a.name == colName && vs.nonEmpty =>
        val bds = vs.map(toLong)
        if (bds.forall(_.isDefined)) {
          val xs = bds.flatten
          add(Some(xs.min), Some(xs.max))
        }
      case And(x, y) => walk(Seq(x, y))
      case _ => ()
    }
    walk(filters)
    (lo, hi)
  }

  private def transformKeeper(dataFilters: Seq[Expression])
      : String => Boolean = ptransform match {
    case None => _ => true
    case Some(t) =>
      val srcType = Sources.declaredSchema(table, v)
        .flatMap(_.fields.find(_.name == t.column)).map(_.dataType)
      (t.kind, srcType) match {
        case ("truncate", Some(StringType)) =>
          stringBoundsOf(dataFilters).get(t.column) match {
            case None | Some((None, None)) => _ => true
            case Some((lo, hi)) => f => ptValueOf(f).forall { p =>
              // file values x satisfy x.take(w) == p, and prefixing is
              // monotone under lexicographic order, so overlap with
              // [lo, hi] requires lo.take(w) <= p <= hi.take(w)
              lo.forall(_.take(t.width).compareTo(p) <= 0) &&
                hi.forall(_.take(t.width).compareTo(p) >= 0)
            }
          }
        case ("truncate", Some(ByteType | ShortType | IntegerType |
            LongType)) =>
          boundsOf(dataFilters).get(t.column) match {
            case None | Some((None, None)) => _ => true
            case Some((lo, hi)) => f => ptValueOf(f).forall { p =>
              // file values lie in [base, base + width)
              scala.util.Try(BigDecimal(p)).toOption.forall(base =>
                lo.forall(_ < base + t.width) && hi.forall(_ >= base))
            }
          }
        case (_, Some(dt @ (DateType | TimestampType | TimestampNTZType))) =>
          val zone = dt match {
            case TimestampType => java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            case _ => java.time.ZoneOffset.UTC // NTZ/date: wall clock
          }
          // comparable space: DATE in epoch days, timestamps in micros
          val toLong: Expression => Option[Long] = {
            case Literal(null, _) => None
            case Literal(d: Int, DateType) if dt == DateType => Some(d.toLong)
            case Literal(d: Int, DateType) => // date literal vs ts column
              Some(java.time.LocalDate.ofEpochDay(d.toLong)
                .atStartOfDay(zone).toInstant.toEpochMilli * 1000L)
            case Literal(x: Long, TimestampType | TimestampNTZType)
              if dt != DateType => Some(x)
            case _ => None
          }
          val (lo, hi) = pickBounds(t.column, dataFilters, toLong)
          if (lo.isEmpty && hi.isEmpty) _ => true
          else f => ptValueOf(f).forall { p =>
            windowOf(p, zone, dt).forall { case (ws, we) =>
              lo.forall(_ < we) && hi.forall(_ >= ws)
            }
          }
        case _ => _ => true // undeclared/unsupported source type: no pruning
      }
  }

  /** [start, end) of a `_pt` dir value in the comparable space (epoch
    * days for DATE sources, epoch/wall-clock micros for timestamps);
    * None keeps the file (null partition, unparsable value).
    *
    * The GRANULARITY IS INFERRED FROM THE VALUE'S SHAPE — `yyyy` /
    * `yyyy-MM` / `yyyy-MM-dd` / `yyyy-MM-dd-HH` are mutually
    * unambiguous — not from the table's currently declared kind. That
    * one property IS per-file partition-spec evolution (Iceberg's
    * spec-id, shape-encoded): after `SET PARTITIONING days(ts) ->
    * hours(ts)` old day-laid files keep pruning under their own
    * day-wide window while new files prune hour-wide, no rewrite, no
    * per-file spec bookkeeping. */
  private def windowOf(p: String, zone: java.time.ZoneId,
      dt: org.apache.spark.sql.types.DataType): Option[(Long, Long)] =
    scala.util.Try {
      val kind = p.length match {
        case 4 => "years"
        case 7 => "months"
        case 10 => "days"
        case 13 => "hours"
        case _ => throw new IllegalArgumentException(s"not temporal: $p")
      }
      if (kind == "hours") {
        val h = java.time.LocalDateTime.parse(p,
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH"))
        (h.atZone(zone).toInstant.toEpochMilli * 1000L,
          h.plusHours(1).atZone(zone).toInstant.toEpochMilli * 1000L)
      } else {
        val (start, end) = kind match {
          case "years" =>
            val y = java.time.Year.parse(p)
            (y.atDay(1), y.plusYears(1).atDay(1))
          case "months" =>
            val m = java.time.YearMonth.parse(p)
            (m.atDay(1), m.plusMonths(1).atDay(1))
          case "days" =>
            val d = java.time.LocalDate.parse(p)
            (d, d.plusDays(1))
        }
        if (dt == DateType) (start.toEpochDay, end.toEpochDay)
        else (start.atStartOfDay(zone).toInstant.toEpochMilli * 1000L,
          end.atStartOfDay(zone).toInstant.toEpochMilli * 1000L)
      }
    }.toOption

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val statsKeep = statsKeeper(dataFilters)
    val ptKeep = transformKeeper(dataFilters)
    val keep: String => Boolean = f => ptKeep(f) && statsKeep(f)
    if (spec.partitionColumns.nonEmpty)
      // partitioned table: the BASE implementation prunes partitions
      // against partitionFilters (whole directories drop before any
      // file is considered); the per-file stats/bloom tier then thins
      // each surviving partition's file list on dataFilters
      super.listFiles(partitionFilters, dataFilters)
        .map(pd => pd.copy(files =
          pd.files.filter(f => keep(f.getPath.toUri.getPath))))
    else
      Seq(PartitionDirectory(InternalRow.empty,
        statuses.filter(st => keep(st.getPath.toUri.getPath)).toArray))
  }
}

object ManifestFileIndex {

  /** The identity partition columns of `table` (`partition.columns`)
    * with the types their path values take: the declared integral or
    * string type, else string. Empty for every other layout. */
  private[sources] def partitionSchemaOf(table: String,
      version: Int): StructType = {
    val partCols = Sources.partitionColumnsOf(table)
    if (partCols.isEmpty) return StructType(Nil)
    val declared = Sources.declaredSchema(table, version)
      .map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    StructType(partCols.map(c =>
      org.apache.spark.sql.types.StructField(c, declared.get(c) match {
        case Some(t @ (ByteType | ShortType | IntegerType | LongType)) => t
        case _ => StringType
      })))
  }

  /** The identity-partition values a data file or directory path holds
    * in its `c=v` segments, typed by `partSchema`: NULL where a segment
    * is absent or holds the hive default. The one path-to-value rule of
    * the index's partition spec, the eq probe and the change stream. */
  private[sources] def partitionValues(path: String,
      partSchema: StructType): InternalRow = {
    val segs = path.split('/')
    InternalRow.fromSeq(partSchema.fields.toSeq.map { f =>
      segs.reverseIterator.find(_.startsWith(s"${f.name}=")).map(n =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.substring(f.name.length + 1))) match {
        case None | Some("__HIVE_DEFAULT_PARTITION__") => null
        case Some(s) => f.dataType match {
          case ByteType => s.toByte
          case ShortType => s.toShort
          case IntegerType => s.toInt
          case LongType => s.toLong
          case _ => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        }
      }
    })
  }

  /** The files of `version` that the index's [[listFiles]] keeps for
    * the Catalyst `conjuncts` of a scan over the served schema, with
    * their sizes: identity-partition pruning on the conjuncts that
    * reference partition columns only, then the `_pt` window rule and
    * stats/bloom skipping on the rest — the planner's call, made by a
    * DSv2 scan. A partition conjunct whose served type differs from the
    * path type compares through a cast, as [[frameForFiles]]' projection
    * compares it. */
  private[sources] def keptFiles(spark: SparkSession, table: String,
      version: Int, conjuncts: Seq[Expression]): Map[String, Long] = {
    val index = new ManifestFileIndex(spark, table, version)
    val part = index.partitionSchema
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val (partFilters, dataFilters) = conjuncts.filter(_.deterministic)
      .partition(e => e.references.nonEmpty &&
        e.references.forall(a => part.fieldNames.contains(a.name)))
    val pathTyped = partFilters.map(_.transform {
      case a: AttributeReference if a.dataType != part(a.name).dataType =>
        Cast(a.withDataType(part(a.name).dataType), a.dataType, tz)
    })
    index.listFiles(pathTyped, dataFilters).flatMap(_.files)
      .map(st => st.getPath.toUri.getPath -> st.getLen).toMap
  }

  /** The schema a read of `version` serves: the declared schema (else
    * the head file's footer), with identity partition columns the
    * footer lacks appended in their path types. */
  private[sources] def servedSchema(spark: SparkSession, table: String,
      version: Int): StructType =
    withPartitionColumns(Sources.schemaOf(spark, table, version),
      partitionSchemaOf(table, version))

  private def withPartitionColumns(base: StructType,
      partSchema: StructType): StructType =
    StructType(base.fields ++
      partSchema.fields.filterNot(f => base.fieldNames.contains(f.name)))

  /** The manifest-pinned HadoopFsRelation as a DataFrame, optionally
    * restricted to a FILE SUBSET (`only`) — the one reader behind every
    * DataFrame read of a version ([[Sources.readVersion]], the rewrite
    * survivor scans, the DV candidate scan, the change feed, the lineage
    * readers). It lists nothing and infers nothing: files come from the
    * manifest, the schema is `schema` (default: the version's declared
    * or footer schema). Partitioned tables serve their partition
    * columns from the hive paths (cast to the declared types, declared
    * column order); NO delete filter here — callers apply
    * [[Sources.readRows]]. */
  private[sources] def frameForFiles(spark: SparkSession, table: String,
      version: Int, only: Option[Set[String]],
      schema: Option[StructType] = None): DataFrame = {
    val index = new ManifestFileIndex(spark, table, version, only)
    val partSchema = index.partitionSchema
    val partNames = partSchema.fieldNames.toSet
    // API tables without a declared-schema sidecar fall back to a data
    // file's footer, which never contains the partition columns (they
    // live in paths) — append them so the served schema is complete
    val declared = withPartitionColumns(
      schema.getOrElse(Sources.schemaOf(spark, table, version)), partSchema)
    val dataSchema = StructType(
      declared.fields.filterNot(f => partNames.contains(f.name)))
    val relation = HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    val df = org.apache.spark.sql.graftbridge.Bridge.ofRows(
      spark, LogicalRelation(relation))
    if (partSchema.isEmpty) df
    else
      // declared order + declared types (partition values are inferred
      // from path strings — int today, but the DDL may say long/string)
      df.select(declared.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name)
          .cast(f.dataType).as(f.name)): _*)
  }
}
