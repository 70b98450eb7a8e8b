package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.sources.Sources

object Stats {
  /** Linear-interpolated quantile of an ascending-sorted sample. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}

/** What every workload run hands back to [[Main]]. `after` runs once
  * the run's own measurements (the end calibration probe included) are
  * taken — for work that replaces the session. */
final case class Outcome(metrics: Map[String, Double], attempted: Long,
    failed: Long, checks: Seq[(String, Boolean)],
    after: () => Map[String, Double] = () => Map.empty)

/** Per-run context shared by the workloads. */
final class Ctx(var spark: SparkSession, var tracer: Tracer,
    val seed: Long, val seconds: Double, val work: Path) {
  /** Tracers of sessions stopped before the run ended. */
  var retired: List[Tracer] = Nil
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Run one AvailableNow drain of a maintainer to completion as span
    * `name`. */
  def drain(name: String)(start: => StreamingQuery): Unit = span(name) {
    val q = start
    tracer.drainStarted(name, q.id)
    q.awaitTermination()
  }
  def now(): Double = System.nanoTime() / 1e9
}

object Common {

  /** Order-independent content hash (row count, sum of per-row
    * xxhash64) over a canonical form: columns by name, decimals at one
    * fixed scale, everything rendered as strings — so two relations
    * compare equal exactly when they hold the same multiset of rows. */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("decimal(38,4)").cast("string")
        case _ => col(f.name).cast("string")
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** `r` as one JSON object with `schema`'s field names. */
  def jsonLine(r: Row, schema: StructType): String =
    schema.fieldNames.zip(r.toSeq).map {
      case (k, null) => s""""$k":null"""
      case (k, v: String) => s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** Bytes of the head version's live data files. */
  def liveBytes(spark: SparkSession, table: String): Long =
    Sources.readVersion(spark, table).inputFiles
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum

  def liveFiles(spark: SparkSession, table: String): Int =
    Sources.readVersion(spark, table).inputFiles.length

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  /** Collect the garbage the previous phase left, so a collection it
    * owes does not land inside the next phase's timings. Returns the
    * seconds it took, which callers keep out of `jvm.gc_s`. */
  def settleHeap(): Double = {
    val g0 = gcSeconds()
    System.gc()
    gcSeconds() - g0
  }

  /** Total collection seconds over the JVM's collectors. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Host-drift witness: a fixed scan + join + aggregate (the shape of
    * the engine's own bench calibration) over a constant, seed-free
    * input written once per run. Its time moves with the host, not with
    * any workload; comparing start and end shows drift inside a run. */
  final class Calibration(init: SparkSession, root: Path) {
    private val li = root.resolve("cal_lineitem").toString
    private val od = root.resolve("cal_orders").toString
    init.range(0, 100000, 1, 4)
      .select(col("id").as("l_orderkey"),
        (col("id") % 997).cast("double").as("l_extendedprice"),
        ((col("id") % 10) / 100.0).as("l_discount"))
      .write.parquet(li)
    init.range(0, 25000, 1, 4).select((col("id") * 4).as("o_orderkey"))
      .write.parquet(od)

    def probe(spark: SparkSession): Double = {
      val t0 = System.nanoTime()
      val l = spark.read.parquet(li)
      val o = spark.read.parquet(od)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy((l("l_orderkey") % 16).as("g"))
        .agg(sum(l("l_extendedprice") * (lit(1.0) - l("l_discount"))).as("s"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
  }
}
