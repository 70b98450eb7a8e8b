package graft

import graft.sources.RuntimeScanWitness
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime (DPP-style) filtering on the native graft scans
  * (`SupportsRuntimeFiltering`): a selective dimension filter, known
  * only at execution, prunes fact BUCKETS (hash of the collected key
  * in-set) and fact FILES (stats/bloom sidecar probes) before any task
  * launches. */
class RuntimeFilterSpec extends SparkTestBase {

  private def freshCatalog(): String = {
    val wh = java.nio.file.Files.createTempDirectory("rtf-cat")
    wh.toFile.deleteOnExit()
    val cat = s"rt${math.abs(wh.toString.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    cat
  }

  private def mkBucketedFact(cat: String, name: String): Long = {
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .createOrReplaceTempView("rtf_orders_src")
    spark.sql(s"""CREATE TABLE $cat.$name (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)
                 |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.$name SELECT * FROM rtf_orders_src")
    spark.sql(s"SELECT count(*) FROM $cat.`$name$$files`").head().getLong(0)
  }

  test("bucketed fact: a selective broadcast dim prunes whole buckets " +
    "at runtime, result identical to the unpruned join") {
    val cat = freshCatalog()
    val totalFiles = mkBucketedFact(cat, "fact")
    // the dim filter is selective (few keys) and only knowable at
    // runtime from the join — exactly DPP's shape
    Tables.customer(spark, sf)
      .filter(pmod(col("c_custkey"), lit(50)) === 1)
      .select("c_custkey", "c_nationkey")
      .createOrReplaceTempView("rtf_dim")
    val q = spark.sql(
      s"""SELECT f.o_orderpriority, count(*) AS n,
         |       sum(f.o_totalprice) AS s
         |FROM $cat.fact f JOIN rtf_dim d ON f.o_custkey = d.c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin)
    val got = q.collect().toSeq
    val w = RuntimeScanWitness.of(q.queryExecution.executedPlan)
    assert(w.nonEmpty, "expected a graft scan in the executed plan")
    assert(w.head.runtimeFiltered,
      s"no runtime filter planned: ${q.queryExecution.executedPlan}")
    assert(w.head.files < totalFiles && w.head.files > 0,
      s"runtime pruning read ${w.head.files} of $totalFiles files")
    // ground truth from the raw fixtures
    val exp = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf)
        .filter(pmod(col("c_custkey"), lit(50)) === 1),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(1))) ==
      exp.map(r => (r.getString(0), r.getLong(1))))
  }

  test("unbucketed DV table: runtime keys probe the bloom sidecar and " +
    "drop files (dynamic file pruning)") {
    val cat = freshCatalog()
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("rtf_src2")
    spark.sql(s"""CREATE TABLE $cat.dfp (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |TBLPROPERTIES ('stats.columns' = 'o_orderkey',
                 |  'bloom.columns' = 'o_orderkey')""".stripMargin)
    // range-cluster on the key so per-file intervals are tight, then
    // 8 files; a DV delete routes reads through GraftNativeScan
    spark.sql(s"""INSERT INTO $cat.dfp
                 |SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */ *
                 |FROM rtf_src2""".stripMargin)
    spark.sql(s"DELETE FROM $cat.dfp WHERE o_orderkey % 97 = 5")
    val totalFiles = spark.sql(
      s"SELECT count(*) FROM $cat.`dfp$$files`").head().getLong(0)
    assert(totalFiles >= 4, s"fixture too small: $totalFiles files")
    // dim: THREE order keys — the in-set prunes by interval + bloom
    Tables.orders(spark, sf).select("o_orderkey")
      .filter(col("o_orderkey").isin(1L, 2L, 4L))
      .createOrReplaceTempView("rtf_dim2")
    val q = spark.sql(
      s"""SELECT count(*) AS n, sum(f.o_totalprice) AS s
         |FROM $cat.dfp f JOIN rtf_dim2 d
         |  ON f.o_orderkey = d.o_orderkey""".stripMargin)
    val got = q.head()
    val w = RuntimeScanWitness.of(q.queryExecution.executedPlan)
    assert(w.nonEmpty && w.head.runtimeFiltered,
      s"no runtime filter planned: ${q.queryExecution.executedPlan}")
    assert(w.head.files < totalFiles,
      s"runtime pruning read ${w.head.files} of $totalFiles files")
    val exp = Tables.orders(spark, sf)
      .filter(col("o_orderkey").isin(1L, 2L, 4L) &&
        not(pmod(col("o_orderkey"), lit(97)) === 5))
      .agg(count(lit(1)), sum("o_totalprice")).head()
    assert(got.getLong(0) == exp.getLong(0))
    assert(math.abs(got.getDouble(1) - exp.getDouble(1)) < 1e-6)
  }

  test("a DV table joined without selecting its stats/bloom columns " +
    "plans: runtime-filter attributes name only the scan's output") {
    val cat = freshCatalog()
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("rtf_src3")
    spark.sql(s"""CREATE TABLE $cat.dfo (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                 |TBLPROPERTIES ('stats.columns' = 'o_orderkey')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.dfo SELECT * FROM rtf_src3")
    spark.sql(s"DELETE FROM $cat.dfo WHERE o_orderkey % 97 = 5")
    Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
      .createOrReplaceTempView("rtf_dim3")
    // the scan outputs o_custkey/o_totalprice only: its stats column
    // o_orderkey must not be offered as a runtime-filter attribute
    val got = spark.sql(
      s"""SELECT count(*) AS n, sum(f.o_totalprice) AS s
         |FROM $cat.dfo f JOIN rtf_dim3 d ON f.o_custkey = d.c_custkey
         |WHERE d.c_nationkey = 3""".stripMargin).head()
    val exp = Tables.orders(spark, sf)
      .filter(not(pmod(col("o_orderkey"), lit(97)) === 5))
      .join(Tables.customer(spark, sf).filter(col("c_nationkey") === 3),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)), sum("o_totalprice")).head()
    assert(got.getLong(0) == exp.getLong(0))
    assert(math.abs(got.getDouble(1) - exp.getDouble(1)) < 1e-6)
  }

  test("runtime filtering composes with SPJ: v2 bucketing enabled, " +
    "co-bucketed join stays correct") {
    val cat = freshCatalog()
    mkBucketedFact(cat, "spjf")
    // co-bucketed dim on the same key
    Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
      .createOrReplaceTempView("rtf_cust_src")
    spark.sql(s"""CREATE TABLE $cat.spjd (
                 |  c_custkey BIGINT, c_nationkey INT)
                 |PARTITIONED BY (bucket(8, c_custkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.spjd SELECT * FROM rtf_cust_src")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = spark.sql(
        s"""SELECT f.o_orderpriority, count(*) AS n
           |FROM $cat.spjf f JOIN $cat.spjd d
           |  ON f.o_custkey = d.c_custkey
           |WHERE d.c_nationkey = 3
           |GROUP BY 1 ORDER BY 1""".stripMargin)
      val got = q.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      val exp = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf).filter(col("c_nationkey") === 3),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1)))
      assert(got == exp)
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
