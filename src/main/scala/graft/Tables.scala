package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table readers over the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Schemas are pinned here as `StructType`s — the reference declares its
  * schemas by hand too (positional `resultSet.getX` calls,
  * StreamGeneratorThread.java:59-65), and production paths must never rely
  * on inference. Readers take the scale-factor directory so every query in
  * [[SparkEntry.queries]] is parameterized by `sfDir`.
  *
  * Scale note (100 TB): these are plain `spark.read.parquet` scans, so
  * Catalyst predicate pushdown + column pruning apply. Dimension-sized
  * tables expose `broadcastable = true` intent via the `dim*` helpers used
  * at join sites.
  */
object Tables {

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
  def part(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nation.parquet")
  def region(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/region.parquet")
  /** Normalize the fixture's `ts` to the engine's internal epoch-nanos
    * LongType contract. Fixture generations differ: one stores parquet
    * TIMESTAMP(NANOS) — which Spark 4 refuses outright and, under
    * `nanosAsLong`, reads as raw epoch-nanos LongType — while another
    * stores TIMESTAMP_NTZ(µs). The session runs UTC, so the naive→instant
    * interpretation of the NTZ variant matches DuckDB's `epoch()` on the
    * same naive values; every downstream `es = ts div 1e9` derivation
    * then agrees across both generations and both engines. */
  def tsToNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case _ =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsToNanos(spark.read.parquet(s"$dir/events.parquet"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** ONE deterministic scratch path per (gate, sf dir), wiped and
    * recreated on entry — repeated bench/verify sweeps reuse (not
    * leak) disk. The lifecycle gates share this; the long-abs avoids
    * the `math.abs(Int.MinValue)` negative-path quirk the older
    * inline copies carry. */
  def scratchRoot(name: String, dir: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft-$name-${math.abs(dir.hashCode.toLong).toString}")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(root)
    root
  }
}

/** Shared numeric canonicalization for oracle-comparable results.
  *
  * Money math is carried in exact DECIMAL so sums are order-independent
  * (SURVEY.md §7.4), then cast to DOUBLE at the output boundary: a decimal
  * with unscaled value < 2^53 converts to the identical IEEE double in
  * both Spark and DuckDB, giving bitwise-hashable results without decimal
  * precision/scale drift between engines.
  */
object Canon {
  import org.apache.spark.sql.Column

  /** Exact money type for a single value. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Narrower operand type used inside products to keep result precision
    * comfortably under 38 in both engines. */
  def dec12(c: Column): Column = c.cast(DecimalType(12, 4))

  /** Re-clamp an aggregated decimal to (18,4) before the double cast.
    * Wide decimal sums (scale 8–12 from products) have unscaled values
    * beyond 2^53; DuckDB converts those via int128→double→÷10^scale
    * (double rounding) while Spark's BigDecimal.doubleValue rounds once
    * — clamping the scale first makes both conversions exact. */
  def outD(aggregated: Column): Column =
    aggregated.cast(DecimalType(18, 4)).cast(DoubleType)

  /** Order-independent exact sum, emitted as double. */
  def dsum(c: Column): Column = outD(sum(dec(c)))

  /** avg = exact-sum / count, computed in double on both engines. */
  def davg(c: Column): Column =
    outD(sum(dec(c))) / count(lit(1)).cast(DoubleType)

  /** The engine's one cross-engine-portable integer hash: a 60-bit
    * md5-hex prefix reduced mod `m` (Spark `xxhash64` and DuckDB `hash`
    * use different algorithms; md5 is identical in both). Every
    * deterministic-sampling / token-hashing path MUST route through
    * this single definition — a prefix-length or radix drift between
    * copies silently changes sample membership. DuckDB equivalent:
    * `CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % m`. */
  def md5Residue(c: Column, m: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % m
  def md5Residue(c: Column, m: Long): Column = md5Residue(c, lit(m))

  /** Deterministic noisy-URL synthesis shared by the URL-keyed ops
    * (q74 canonical dedup, q85 domain stats): the fixture has no URL
    * column, so one is composed from (source, lang, doc_id) with
    * deliberate scheme / case / query-string noise. Single definition —
    * the Spark column and the DuckDB SQL below must never drift. */
  def noisyUrl(docId: Column, source: Column, lang: Column): Column =
    concat(
      when(pmod(docId, lit(3)) === 0, lit("HTTPS://WWW."))
        .when(pmod(docId, lit(3)) === 1, lit("http://"))
        .otherwise(lit("https://")),
      source, lit(".Example.COM/"), lang,
      lit("/item"), pmod(docId, lit(40)),
      when(pmod(docId, lit(2)) === 0,
        concat(lit("/?utm_source=feed&id="), docId))
        .otherwise(lit("")))

  /** URL canonicalization shared by q74 dedup and the `graft_canon_url`
    * SQL function: lowercase, strip scheme / `www.` / query string /
    * fragment / trailing slash. */
  def canonUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(url), "^https?://(www[.])?", ""),
        "[?#].*$", ""),
      "/$", "")

  /** DuckDB rendering of [[noisyUrl]] (one line so it interpolates into
    * stripMargin oracle blocks cleanly). */
  val noisyUrlSql: String =
    "concat(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'https://' END, " +
      "source, '.Example.COM/', lang, '/item', doc_id % 40, " +
      "CASE WHEN doc_id % 2 = 0 THEN concat('/?utm_source=feed&id=', doc_id) ELSE '' END)"
}
