package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{NumericType, StringType, StructType}
import org.apache.spark.util.sketch.BloomFilter

// ---- per-file statistics, computed by the job that writes the file ----
//
// Every data file a commit adds gets its skipping sidecar lines (min/max
// in `v<N>.stats`, row count and HLL sketch in `v<N>.ndv`, bloom filter
// in `v<N>.bloom`) from ONE accumulator that sees each row as the writer
// emits it — Delta's `DeltaJobStatisticsTracker`/`add.stats` design. The
// batch writer feeds it through Spark's `WriteJobStatsTracker` hook
// ([[FileStatsTracker]]), the DSv2 writers (SQL row-level writes,
// streaming epochs) from their own `DataWriter`, and the explicit
// backfill ([[Sources.commitStats]]) from a scan — so one implementation
// renders every sidecar line, and no commit re-reads the files it wrote.

/** The columns a commit's sidecars cover: min/max + HLL for `stats`,
  * a bloom filter for `blooms`. */
private[graft] final case class StatsCover(stats: Seq[String],
    blooms: Seq[String]) {
  def isEmpty: Boolean = stats.isEmpty && blooms.isEmpty
  def withStats(cols: Seq[String]): StatsCover =
    copy(stats = (stats ++ cols).distinct)
}

private[graft] object StatsCover {
  val empty: StatsCover = StatsCover(Nil, Nil)
}

/** What a writer saw of one data file, in mergeable form: the row
  * count and, per covered column of its [[FileStatsSpec]], the raw
  * min/max (null when none), the HLL aggregation buffer in Spark's
  * serialized form and the bloom filter's bytes. `file` is the path
  * the writer knows (the batch writer's is relative to its batch). */
private[graft] final case class FileStats(file: String, rows: Long,
    lo: Array[Any], hi: Array[Any], hll: Array[Array[Byte]],
    bloom: Array[Array[Byte]])

/** Rendered sidecar lines for the `files` a commit wrote or scanned. */
private[graft] final case class SidecarLines(files: Set[String],
    stats: Seq[String], ndv: Seq[String], bloom: Seq[String]) {
  def ++(o: SidecarLines): SidecarLines =
    SidecarLines(files ++ o.files, stats ++ o.stats, ndv ++ o.ndv,
      bloom ++ o.bloom)
}

private[graft] object SidecarLines {
  val empty: SidecarLines = SidecarLines(Set.empty, Nil, Nil, Nil)
}

/** Binds a [[StatsCover]] to the schema of the rows a writer sees
  * (the data columns of its files). Built on the driver, shipped to the
  * tasks, which each open one [[FileStatsAccumulator]] per file; the
  * driver then renders the collected [[FileStats]] into sidecar lines,
  * exactly as a per-file Spark aggregate renders them (`WriteStatsSpec`
  * holds the two byte-equal): `min`/`max` cast to string, `count(1)`,
  * `hll_sketch_agg(cast(c as string), 12)` and a `BloomFilter.putString`
  * over the same string cast. */
private[graft] final class FileStatsSpec(schema: StructType,
    cover: StatsCover, timeZone: String) extends Serializable {
  import FileStatsSpec._

  private val names = schema.fieldNames.toSet
  val statCols: Array[String] = cover.stats.distinct.filter(names).toArray
  val bloomCols: Array[String] = cover.blooms.distinct.filter(names).toArray
  def isEmpty: Boolean = statCols.isEmpty && bloomCols.isEmpty

  // one string cast per distinct covered column, shared by sketch and bloom
  private val castCols = (statCols ++ bloomCols).distinct
  private[sources] val statOrd = statCols.map(schema.fieldIndex)
  private[sources] val statType = statCols.map(schema(_).dataType)
  private[sources] val statStr = statCols.map(castCols.indexOf(_))
  private[sources] val bloomStr = bloomCols.map(castCols.indexOf(_))
  // min/max only where a sidecar line can result: numeric and string
  // columns (every other type's rendering fails the decimal parse)
  private[sources] val bounded = statCols.map(c =>
    schema(c).dataType match {
      case _: NumericType | _: StringType => true
      case _ => false
    })

  private[sources] def castProjection(): UnsafeProjection =
    UnsafeProjection.create(castCols.toSeq.map { c =>
      val f = schema(c)
      Cast(BoundReference(schema.fieldIndex(c), f.dataType, f.nullable),
        StringType, Some(timeZone))
    })

  private[sources] def ordering(j: Int): Ordering[Any] =
    PhysicalDataType.ordering(statType(j))

  def newAccumulator(): FileStatsAccumulator = new FileStatsAccumulator(this)

  /** Fold two partial results for the same file (a file read by more
    * than one scan task). */
  def merge(a: FileStats, b: FileStats): FileStats = {
    val agg = hllAgg(0)
    FileStats(a.file, a.rows + b.rows,
      statCols.indices.map(j => pick(j, a.lo(j), b.lo(j), min = true)).toArray,
      statCols.indices.map(j => pick(j, a.hi(j), b.hi(j), min = false)).toArray,
      a.hll.zip(b.hll).map { case (x, y) =>
        agg.serialize(agg.merge(agg.deserialize(x), agg.deserialize(y))) },
      a.bloom.zip(b.bloom).map { case (x, y) =>
        val m = readBloom(x)
        m.mergeInPlace(readBloom(y))
        bloomBytes(m)
      })
  }

  private def pick(j: Int, x: Any, y: Any, min: Boolean): Any =
    if (x == null) y
    else if (y == null) x
    else {
      val c = ordering(j).compare(y, x)
      if ((min && c < 0) || (!min && c > 0)) y else x
    }

  /** The sidecar lines of `stats`, keyed by `pathOf(stats.file)`. A file
    * with no rows gets only its row count line (the aggregate sees no
    * group for it), which still marks it as covered. */
  def render(stats: Seq[FileStats], pathOf: String => String): SidecarLines = {
    val agg = hllAgg(0)
    val enc = java.util.Base64.getEncoder
    def asString(v: Any, j: Int): String =
      Cast(Literal(v, statType(j)), StringType,
        Some(timeZone)).eval().toString
    def asciiOk(s: String) = s.forall(_ < 128) && s.length <= 256
    def b64(s: String) = enc.encodeToString(s.getBytes("UTF-8"))
    val live = stats.filter(_.rows > 0).map(s => pathOf(s.file) -> s)
    val statLines = live.flatMap { case (f, s) =>
      statCols.indices.flatMap { j =>
        if (!bounded(j) || s.lo(j) == null || s.hi(j) == null) None
        else {
          val (lo, hi) = (asString(s.lo(j), j), asString(s.hi(j), j))
          // string bounds: ASCII only (UTF-8 binary order and the
          // driver's UTF-16 compare agree there); numeric: must parse
          // exactly (NaN/Infinity get no line — never pruned)
          if (statType(j).isInstanceOf[StringType])
            if (asciiOk(lo) && asciiOk(hi))
              Some(s"$f\t${statCols(j)}\tS:${b64(lo)}\tS:${b64(hi)}")
            else None
          else if (scala.util.Try(BigDecimal(lo)).isSuccess &&
              scala.util.Try(BigDecimal(hi)).isSuccess)
            Some(s"$f\t${statCols(j)}\t$lo\t$hi")
          else None
        }
      }
    }
    val empty = stats.filter(_.rows == 0).map(s => s"R\t${pathOf(s.file)}\t0")
    val ndvLines = empty ++ live.flatMap { case (f, s) =>
      s"R\t$f\t${s.rows}" +: statCols.indices.map { j =>
        // the final phase of hll_sketch_agg: an empty buffer merged
        // with the deserialized partial, then evaluated
        val sk = agg.eval(agg.merge(agg.createAggregationBuffer(),
          agg.deserialize(s.hll(j)))).asInstanceOf[Array[Byte]]
        s"H\t$f\t${statCols(j)}\t${enc.encodeToString(sk)}"
      }
    }
    val bloomLines = live.flatMap { case (f, s) =>
      bloomCols.indices.map(b =>
        s"$f\t${bloomCols(b)}\t${enc.encodeToString(s.bloom(b))}")
    }
    SidecarLines(stats.map(s => pathOf(s.file)).toSet,
      statLines, ndvLines, bloomLines)
  }
}

private[graft] object FileStatsSpec {
  val HllLgK = 12
  val BloomExpectedPerFile = 100000L
  val BloomFpp = 0.01

  /** Spark's own `hll_sketch_agg` over the string in field `ord`. */
  def hllAgg(ord: Int): HllSketchAgg =
    new HllSketchAgg(BoundReference(ord, StringType, nullable = true),
      Literal(HllLgK), 0, 0)

  def bloomBytes(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  def readBloom(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
}

/** One file's running statistics; `add` sees every row written to it. */
private[graft] final class FileStatsAccumulator(spec: FileStatsSpec) {
  import FileStatsSpec._

  private val n = spec.statCols.length
  private val proj = spec.castProjection()
  private val aggs = spec.statStr.map(hllAgg)
  private val sketches = aggs.map(_.createAggregationBuffer())
  private val ords = spec.statCols.indices.map(j =>
    if (spec.bounded(j)) spec.ordering(j) else null).toArray
  private val lo = new Array[Any](n)
  private val hi = new Array[Any](n)
  private val blooms = spec.bloomCols.map(_ =>
    BloomFilter.create(BloomExpectedPerFile, BloomFpp))
  private var rows = 0L

  def add(row: InternalRow): Unit = {
    rows += 1
    val s = proj(row)
    var j = 0
    while (j < n) {
      sketches(j) = aggs(j).update(sketches(j), s)
      val o = ords(j)
      val i = spec.statOrd(j)
      if (o != null && !row.isNullAt(i)) {
        val v = row.get(i, spec.statType(j))
        // first-seen wins ties, as `min`/`max` keep their buffer
        if (lo(j) == null || o.lt(v, lo(j))) lo(j) = InternalRow.copyValue(v)
        if (hi(j) == null || o.gt(v, hi(j))) hi(j) = InternalRow.copyValue(v)
      }
      j += 1
    }
    var b = 0
    while (b < blooms.length) {
      val k = spec.bloomStr(b)
      if (!s.isNullAt(k)) blooms(b).putString(s.getUTF8String(k).toString)
      b += 1
    }
  }

  def result(file: String): FileStats =
    FileStats(file, rows, lo.clone(), hi.clone(),
      aggs.indices.map(j => aggs(j).serialize(sketches(j))).toArray,
      blooms.map(bloomBytes))
}

/** The per-task results of a [[FileStatsTracker]]. */
private[graft] final case class FileStatsTaskResult(files: Seq[FileStats])
  extends WriteTaskStats

/** [[FileStatsSpec]] riding Spark's `FileFormatWriter` as a
  * `WriteJobStatsTracker`: each task keeps one accumulator per open
  * file; the driver collects every task's results in [[collected]].
  * A task writes under a staging directory, so each file is recorded
  * by its path relative to the output root: its last `depth + 1`
  * components (the partition directories and the file name). */
private[graft] final class FileStatsTracker(spec: FileStatsSpec,
    depth: Int) extends WriteJobStatsTracker {

  @transient private var results = Vector.empty[FileStats]
  def collected: Seq[FileStats] = results

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val open =
        scala.collection.mutable.Map.empty[String, FileStatsAccumulator]
      private val done = Vector.newBuilder[FileStats]
      private def relative(p: String): String =
        p.split('/').takeRight(depth + 1).mkString("/")
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit =
        open(path) = spec.newAccumulator()
      override def closeFile(path: String): Unit =
        open.remove(path).foreach(a => done += a.result(relative(path)))
      override def newRow(path: String, row: InternalRow): Unit =
        open(path).add(row)
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
        open.keys.toSeq.foreach(closeFile)
        FileStatsTaskResult(done.result())
      }
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    results ++= stats.collect { case FileStatsTaskResult(fs) => fs }.flatten
}
