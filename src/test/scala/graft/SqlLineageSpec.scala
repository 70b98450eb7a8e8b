package graft

import graft.sources.{RowIds, Sources}
import org.apache.spark.sql.functions._

/** The SQL surface of row lineage: `CALL system.enable_rowids`, the
  * `_row_id` metadata column on every version of a flat lineage table
  * (clean, DV-carrying, eq-pending — all served by the native scan), and
  * the `` t$rid `` inventory table. */
class SqlLineageSpec extends SparkTestBase {

  private def freshCat(name: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(name)
    wh.toFile.deleteOnExit()
    val cat = s"rl${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    (cat, wh.toString)
  }

  test("_row_id serves through SQL on the plain, DV'd, eq-pending, " +
    "and rewritten table states; ids stay put throughout") {
    val (cat, wh) = freshCat("sql-rid")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) " +
      "FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) " +
      "FROM range(100, 200)")
    val enabled = spark.sql(
      s"CALL $cat.system.enable_rowids('t')").collect()
    assert(enabled.head.getLong(1) === 200L,
      "next_row_id must equal the rows assigned so far")
    def sqlIds(): Map[Long, Long] =
      spark.sql(s"SELECT k, _row_id FROM $cat.t").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m0 = sqlIds()
    assert(m0.size === 200 && m0.values.toSeq.distinct.size === 200)
    assert(m0 === RowIds.readVersionWithRowIds(spark, s"$wh/t")
      .select(col("k"), col(RowIds.COL))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "the SQL metadata column must equal the library read")
    // MoR DELETE -> the native DV batch scan path
    spark.sql(s"DELETE FROM $cat.t WHERE k % 7 = 0")
    val m1 = sqlIds()
    assert(m1 === m0.filter { case (k, _) => k % 7 != 0 })
    // pending equality deletes -> the V1-wrap path
    val s2 = spark
    import s2.implicits._
    Sources.mergeVersionEq(spark, s"$wh/t",
      Seq((5L, "v5-edited", "upsert")).toDF("k", "v", "op"), Seq("k"))
    val m2 = sqlIds()
    assert(m2.keys.toSet === m1.keys.toSet)
    assert(m2(5L) > m1.values.max, "the eq upsert re-ids its key")
    m1.foreach { case (k, id) => if (k != 5L) assert(m2(k) === id) }
    spark.sql(s"CALL $cat.system.purge_eq('t')")
    // OPTIMIZE materializes ids into the rewritten files
    spark.sql(s"CALL $cat.system.optimize('t', 50)")
    assert(sqlIds() === m2, "compaction must not move a single id")
    // a predicate ON the id must not row-group-prune wrong results
    val probe = m2(11L)
    val hit = spark.sql(
      s"SELECT k FROM $cat.t WHERE _row_id = $probe").collect()
    assert(hit.map(_.getLong(0)).toSeq === Seq(11L))
  }

  test("SQL UPDATE and MERGE-matched rows keep their row ids (the " +
    "delta write materializes the scan-served id); inserts draw fresh") {
    val (cat, wh) = freshCat("sql-rid-dml")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) " +
      "FROM range(0, 100)")
    spark.sql(s"CALL $cat.system.enable_rowids('t')")
    def ids(): Map[Long, Long] =
      spark.sql(s"SELECT k, _row_id FROM $cat.t").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m0 = ids()
    spark.sql(s"UPDATE $cat.t SET v = 'edited' WHERE k % 9 = 0")
    val m1 = ids()
    assert(m1 === m0, "an in-place SQL UPDATE must not move ANY id")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE v = 'edited'").head.getLong(0) === m0.keys.count(_ % 9 == 0))
    // the lineage feed pairs the SQL update as pre/post images
    val from = Sources.latestVersion(s"$wh/t") - 1
    val f = RowIds.readChangesLineage(spark, s"$wh/t",
      from, from + 1).select("_change_type", "k").collect()
    assert(f.count(_.getString(0) == "update_postimage") ===
      m0.keys.count(_ % 9 == 0))
    assert(!f.exists(r => r.getString(0) == "insert" ||
      r.getString(0) == "delete"))
    // MERGE: matched updates keep ids, not-matched inserts draw fresh
    val s2 = spark
    import s2.implicits._
    Seq((5L, "m5"), (500L, "m500")).toDF("k", "v")
      .createOrReplaceTempView("chg")
    spark.sql(s"""MERGE INTO $cat.t USING chg ON t.k = chg.k
      WHEN MATCHED THEN UPDATE SET v = chg.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (chg.k, chg.v)""")
    val m2 = ids()
    assert(m2(5L) === m0(5L), "MERGE-matched row must keep its id")
    assert(m2(500L) > m0.values.max, "MERGE-inserted row draws fresh")
    m0.foreach { case (k, id) => assert(m2(k) === id) }
  }

  test("t$rid inventories ranges + materialization; layouts refuse") {
    val (cat, wh) = freshCat("sql-rid-meta")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'x' FROM range(0, 60)")
    spark.sql(s"CALL $cat.system.enable_rowids('t')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'y' FROM range(60, 90)")
    val rid0 = spark.sql(s"SELECT * FROM $cat.`t$$rid`").collect()
    assert(rid0.map(_.getLong(1)).distinct.length === rid0.length,
      "distinct first_row_id per file")
    assert(rid0.forall(!_.getBoolean(3)), "no rewrite yet: nothing " +
      "materialized")
    assert(rid0.head.getLong(4) === 90L)
    spark.sql(s"CALL $cat.system.optimize('t', 1000)")
    val rid1 = spark.sql(s"SELECT * FROM $cat.`t$$rid`").collect()
    assert(rid1.forall(_.getBoolean(3)),
      "compacted files carry materialized ids")
    assert(rid1.head.getLong(4) === 180L,
      "the counter advances by the rewritten row count")
    // a bucketed table refuses the feature loudly
    spark.sql(s"CREATE TABLE $cat.tb (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.tb VALUES (1, 'a')")
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.system.enable_rowids('tb')").collect()
    }
    assert(err.getMessage.contains("flat tables only") ||
      Option(err.getCause).exists(_.getMessage.contains("flat tables only")))
  }
}
