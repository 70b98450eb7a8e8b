package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** The table-wide `_gfile`/`_gpos` metadata columns
  * ([[graft.sources.GraftTable.metadataColumns]]): advertised through
  * `SupportsMetadataColumns` for the row-level delta operations, they
  * must ALSO be servable by a plain SELECT of every version — all
  * through the native scan: a clean version's query that references
  * them is routed there from the stock parquet path
  * (`MetaRoutingScanBuilder`, which keeps every conjunct residual, so
  * a partition predicate is never lost), and DV-carrying and bucketed
  * versions plan through it anyway — with values in the DV sidecar's
  * key space (manifest path + physical row index). */
class MetadataColumnSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def freshCatalog(): (String, String) = {
    val wh = tmp("meta-cat")
    val cat = s"mc${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def manifestFiles(table: String, v: Int): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, s"v$v.manifest")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
  }

  private def orders = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  test("plain table: SELECT _gfile/_gpos serves manifest paths and " +
    "0-based per-file positions; SELECT * hides them") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("meta_src_plain")
    spark.sql(s"""CREATE TABLE $cat.plain (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.plain SELECT * FROM meta_src_plain")
    val t = s"$wh/plain"
    val v = Sources.latestVersion(t)
    val df = spark.sql(s"SELECT _gfile, _gpos, o_orderkey FROM $cat.plain")
    assert(df.count() === orders.count())
    // _gfile values ARE the manifest's file list
    val gfiles = df.select("_gfile").distinct()
      .collect().map(_.getString(0)).toSet
    assert(gfiles === manifestFiles(t, v))
    // per file: positions are distinct and span 0..n-1 (physical index)
    val perFile = df.groupBy("_gfile").agg(
      count(lit(1)).as("n"),
      countDistinct(col("_gpos")).as("nd"),
      min("_gpos").as("mn"), max("_gpos").as("mx")).collect()
    perFile.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), "positions distinct per file")
      assert(r.getLong(3) === 0L, "positions start at 0")
      assert(r.getLong(4) === r.getLong(1) - 1, "positions are dense")
    }
    // metadata columns stay hidden from *
    assert(spark.sql(s"SELECT * FROM $cat.plain").columns.toSet ===
      Set("o_orderkey", "o_custkey", "o_totalprice"))
  }

  test("partitioned table: a partition predicate filtered alongside " +
    "_gfile is NOT lost when the meta scan replaces the pruned plain scan") {
    val (cat, wh) = freshCatalog()
    orders.withColumn("pr", (col("o_orderkey") % 3).cast("int"))
      .createOrReplaceTempView("meta_src_part")
    spark.sql(s"""CREATE TABLE $cat.part (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, pr INT)
                 |PARTITIONED BY (pr)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.part SELECT * FROM meta_src_part")
    val expected = orders.filter(col("o_orderkey") % 3 === 1).count()
    val rows = spark.sql(
      s"SELECT _gfile, pr, o_orderkey FROM $cat.part WHERE pr = 1")
      .collect()
    assert(rows.length.toLong === expected,
      "the consumed partition filter must be re-applied by the meta scan")
    assert(rows.forall(_.getInt(1) === 1))
    assert(rows.forall(_.getString(0).contains("pr=1")),
      "_gfile paths come from the matching hive partition only")
  }

  test("DV-carrying version: _gpos reflects PHYSICAL positions (deleted " +
    "rows leave holes, survivors keep their original index)") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("meta_src_dv")
    spark.sql(s"""CREATE TABLE $cat.d (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.d SELECT * FROM meta_src_dv")
    val t = s"$wh/d"
    val before = spark.sql(s"SELECT _gfile, _gpos, o_orderkey FROM $cat.d")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val victims = orders.select("o_orderkey").orderBy("o_orderkey")
      .limit(5).collect().map(_.getLong(0)).toSet
    val (_, marked, usedDv) = Sources.deleteWhereDv(spark, t,
      col("o_orderkey").isin(victims.toSeq: _*))
    assert(usedDv && marked === 5L)
    val after = spark.sql(s"SELECT _gfile, _gpos, o_orderkey FROM $cat.d")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(after.size === before.size - 5)
    // every surviving row kept its exact (file, position) identity
    after.foreach { case (id, key) => assert(before(id) === key) }
    // and the marked identities are exactly the missing ones
    val gone = before.keySet -- after.keySet
    assert(gone.map(before(_)) === victims)
  }

  test("bucketed table: _gfile/_gpos served from the bucketed scan " +
    "(paths in _b= dirs), before and after a DV delete") {
    val (cat, wh) = freshCatalog()
    orders.createOrReplaceTempView("meta_src_bk")
    spark.sql(s"""CREATE TABLE $cat.b (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE)
                 |PARTITIONED BY (bucket(4, o_orderkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM meta_src_bk")
    val t = s"$wh/b"
    val df = spark.sql(s"SELECT _gfile, _gpos, o_orderkey FROM $cat.b")
    assert(df.count() === orders.count())
    assert(df.select("_gfile").distinct().collect()
      .forall(_.getString(0).matches(".*/_b=\\d+/[^/]+$")),
      "bucketed paths carry their _b= dir")
    val before = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val victims = orders.select("o_orderkey").orderBy(desc("o_orderkey"))
      .limit(4).collect().map(_.getLong(0)).toSet
    val (_, marked, usedDv) = Sources.deleteWhereDv(spark, t,
      col("o_orderkey").isin(victims.toSeq: _*))
    assert(usedDv && marked === 4L)
    val after = spark.sql(s"SELECT _gfile, _gpos, o_orderkey FROM $cat.b")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(after.size === before.size - 4)
    after.foreach { case (id, key) => assert(before(id) === key) }
    assert((before.keySet -- after.keySet).map(before(_)) === victims)
  }
}
