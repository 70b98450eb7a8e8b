package graft

import graft.sources.{RuntimeScanWitness, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.functions._

/** One native catalog scan: delete-carrying versions of every layout,
  * the target scan of SQL UPDATE/MERGE and plain selects of the
  * metadata columns all plan through `GraftNativeScan`. Tables are
  * tiny; the witness counts the files a scan plans, and every answer is
  * checked against a model computed here. */
class NativeScanSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def freshCatalog(): (String, String) = {
    val wh = tmp("native-cat")
    val cat = s"ns${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** The files each graft native scan of `plan` plans; a command's
    * plan is read through its executed physical plan. */
  private def plannedFiles(plan: SparkPlan): Seq[Int] =
    RuntimeScanWitness.of(plan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }).map(_.files)

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.waitForListeners(sc)
      (out, n.get())
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planNodes(q.plan)
    case o => o.children.flatMap(planNodes)
  })

  private def changes(ups: Seq[(Int, Long, Long)],
      dels: Seq[(Int, Long)]): DataFrame =
    ups.toDF("g", "k", "x").withColumn("op", lit("upsert"))
      .unionByName(dels.toDF("g", "k").withColumn("x", lit(null).cast("long"))
        .withColumn("op", lit("delete")))

  // (layout, DDL clause); the identity layout also takes an eq entry
  // keyed on its partition column
  private val layouts = Seq(
    "flat" -> "",
    "identity" -> "PARTITIONED BY (g)",
    "truncate" -> "PARTITIONED BY (truncate(20, k))",
    "bucketed" -> "PARTITIONED BY (bucket(4, k))")

  private def manifestFiles(t: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(t,
      s"v${Sources.latestVersion(t)}.manifest")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  test("an identity-partitioned API table serves its partition column " +
    "in the catalog and the graft data source, clean and DV'd") {
    val (cat, wh) = freshCatalog()
    val t = s"$wh/u"
    Sources.writeTableProperties(t, Map("partition.columns" -> "g"))
    val base = (1L to 40L).map(k => (k, k * 10, (k % 4).toInt))
    Sources.commitVersion(base.toDF("k", "x", "g"), t)
    def model(ks: Seq[(Long, Long, Int)]) =
      ks.map { case (k, x, g) => s"[$k,$x,$g]" }.sorted
    for (step <- Seq("clean", "dv")) {
      val live = if (step == "clean") base else base.filterNot(_._1 % 3 == 0)
      assert(spark.table(s"$cat.u").columns.toSet === Set("k", "x", "g"), step)
      assert(rows(spark.sql(s"SELECT k, x, g FROM $cat.u"), "k", "x", "g") ===
        model(live), s"catalog, $step")
      val ds = spark.read.format("graft").load(t)
      assert(ds.columns.toSet === Set("k", "x", "g"), s"graft source, $step")
      assert(rows(ds, "k", "x", "g") === model(live), s"graft source, $step")
      if (step == "clean") Sources.deleteWhereDv(spark, t, col("k") % 3 === 0)
    }
  }

  test("the graft data source reads a clean catalog-created " +
    "identity-partitioned table") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, x BIGINT, g INT) PARTITIONED BY (g)")
    (1L to 30L).map(k => (k, k * 2, (k % 3).toInt)).toDF("k", "x", "g")
      .createOrReplaceTempView("native_src_p")
    spark.sql(s"INSERT INTO $cat.p SELECT * FROM native_src_p")
    val ds = spark.read.format("graft").load(s"$wh/p")
    assert(rows(ds, "k", "x", "g") ===
      (1L to 30L).map(k => s"[$k,${k * 2},${k % 3}]").sorted)
    assert(ds.filter(col("g") === 1).count() === 10L)
  }

  test("a DV'd identity-partitioned read plans exactly the g = 2 files, " +
    "and serves g, _gfile and _gpos together") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ip (k BIGINT, x BIGINT, g INT) PARTITIONED BY (g)")
    (1L to 200L).map(k => (k, k * 10, (k % 5).toInt)).toDF("k", "x", "g")
      .createOrReplaceTempView("native_src_ip")
    spark.sql(s"""INSERT INTO $cat.ip
                 |SELECT /*+ REPARTITION(4) */ * FROM native_src_ip""".stripMargin)
    val t = s"$wh/ip"
    val g2 = manifestFiles(t).count(_.contains("/g=2/"))
    assert(g2 >= 2 && manifestFiles(t).length > g2, "fixture too small")
    Sources.deleteWhereDv(spark, t, col("k") % 7 === 0)
    val live = (1L to 200L).filterNot(_ % 7 == 0)
    val q = spark.sql(s"SELECT k, x FROM $cat.ip WHERE g = 2")
    assert(rows(q, "k", "x") ===
      live.filter(_ % 5 == 2).map(k => s"[$k,${k * 10}]").sorted)
    assert(plannedFiles(q.queryExecution.executedPlan) === Seq(g2))
    // the partition value, the file and the position of every live row
    val m = spark.sql(s"SELECT k, g, _gfile, _gpos FROM $cat.ip").collect()
    assert(m.map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ===
      live.map(k => (k, (k % 5).toInt)))
    assert(m.forall(r => r.getString(2).contains(s"/g=${r.getInt(1)}/")))
    assert(m.map(r => (r.getString(2), r.getLong(3))).distinct.length === m.length)
    assert(m.map(_.getString(2)).toSet === manifestFiles(t).toSet)
  }

  test("a DV'd truncate-partitioned read plans exactly the window's files") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.tr (k BIGINT, x BIGINT)
                 |PARTITIONED BY (truncate(100, k))""".stripMargin)
    (1L to 800L).map(k => (k, k * 3)).toDF("k", "x")
      .createOrReplaceTempView("native_src_tr")
    spark.sql(s"""INSERT INTO $cat.tr
                 |SELECT /*+ REPARTITION(2) */ * FROM native_src_tr""".stripMargin)
    val t = s"$wh/tr"
    val window = manifestFiles(t).count(_.contains("/_pt=300/"))
    assert(window >= 1 && manifestFiles(t).length > window, "fixture too small")
    Sources.deleteWhereDv(spark, t, col("k") % 11 === 0)
    val q = spark.sql(s"SELECT k, x FROM $cat.tr WHERE k BETWEEN 301 AND 350")
    assert(rows(q, "k", "x") === (301L to 350L).filterNot(_ % 11 == 0)
      .map(k => s"[$k,${k * 3}]").sorted)
    assert(plannedFiles(q.queryExecution.executedPlan) === Seq(window))
  }

  test("SQL UPDATE plans only the files its predicate's stats keep") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.up (k BIGINT, x BIGINT)
                 |TBLPROPERTIES ('stats.columns' = 'k')""".stripMargin)
    (1L to 640L).map(k => (k, k)).toDF("k", "x")
      .createOrReplaceTempView("native_src_up")
    spark.sql(s"""INSERT INTO $cat.up
                 |SELECT /*+ REPARTITION_BY_RANGE(32, k) */ * FROM native_src_up""".stripMargin)
    val t = s"$wh/up"
    assert(manifestFiles(t).length === 32)
    val upd = spark.sql(s"UPDATE $cat.up SET x = 0 WHERE k = 305")
    assert(plannedFiles(upd.queryExecution.executedPlan) === Seq(1))
    assert(rows(spark.sql(s"SELECT k, x FROM $cat.up"), "k", "x") ===
      (1L to 640L).map(k => s"[$k,${if (k == 305L) 0L else k}]").sorted)
  }

  test("every layout: eq-pending reads that select no key column, and " +
    "SQL DML on the table, plan with no Spark job and equal the model") {
    for ((layout, ddl) <- layouts) {
      val (cat, wh) = freshCatalog()
      spark.sql(s"CREATE TABLE $cat.e (g INT, k BIGINT, x BIGINT) $ddl")
      (1L to 60L).map(k => ((k % 5).toInt, k, k * 10)).toDF("g", "k", "x")
        .createOrReplaceTempView("native_src_e")
      spark.sql(s"INSERT INTO $cat.e SELECT * FROM native_src_e WHERE k <= 40")
      spark.sql(s"INSERT INTO $cat.e SELECT * FROM native_src_e WHERE k > 40")
      val t = s"$wh/e"
      var model = (1L to 60L).map(k => k -> ((k % 5).toInt, k * 10)).toMap
      Sources.deleteWhereDv(spark, t, col("k") % 7 === 0)
      model = model.filterNot(_._1 % 7 == 0)
      Sources.mergeVersionEq(spark, t,
        changes(Seq((3, 3L, 1003L), (0, 10L, 1010L)), Seq((2, 17L))), Seq("k"))
      model = model - 17L + (3L -> (3, 1003L)) + (10L -> (0, 1010L))
      if (layout == "identity") {
        Sources.mergeVersionEq(spark, t, changes(Seq((2, 999L, 1L)), Nil),
          Seq("g"))
        model = model.filterNot(_._2._1 == 2) + (999L -> (2, 1L))
      }
      assert(Sources.eqOf(t, Sources.latestVersion(t)).nonEmpty, layout)
      def check(step: String): Unit = {
        val count = spark.sql(s"SELECT count(*) FROM $cat.e WHERE x >= 200")
        val (_, jobs) = jobsDuring(count.queryExecution.executedPlan)
        assert(jobs === 0, s"$layout: planning started $jobs jobs, $step")
        assert(count.head().getLong(0) === model.count(_._2._2 >= 200),
          s"$layout: count, $step")
        assert(rows(spark.sql(s"SELECT x FROM $cat.e"), "x") ===
          model.values.map(v => s"[${v._2}]").toSeq.sorted, s"$layout: x, $step")
        assert(rows(spark.sql(s"SELECT g, k, x FROM $cat.e"), "g", "k", "x") ===
          model.map { case (k, (g, x)) => s"[$g,$k,$x]" }.toSeq.sorted,
          s"$layout: rows, $step")
      }
      check("after the deletes")
      // the target scan of the DML is the native scan: eq-retired rows
      // are never match candidates. Only a flat table takes UPDATE; the
      // partitioned layouts take the row-level DELETE
      if (layout == "flat") {
        spark.sql(s"UPDATE $cat.e SET x = x + 1 WHERE x > 300")
        model = model.map { case (k, (g, x)) => k -> (g, if (x > 300) x + 1 else x) }
      } else {
        spark.sql(s"DELETE FROM $cat.e WHERE x % 3 = 1")
        model = model.filterNot(_._2._2 % 3 == 1)
      }
      assert(Sources.eqOf(t, Sources.latestVersion(t)).nonEmpty, layout)
      check("the DML")
    }
  }

  test("every layout: a file that predates an eq key column is skipped " +
    "for that entry, so its rows survive") {
    for ((layout, ddl) <- layouts) {
      val (cat, wh) = freshCatalog()
      spark.sql(s"CREATE TABLE $cat.a (g INT, k BIGINT, x BIGINT) $ddl")
      (1L to 30L).map(k => ((k % 5).toInt, k, k * 10)).toDF("g", "k", "x")
        .createOrReplaceTempView("native_src_a")
      spark.sql(s"INSERT INTO $cat.a SELECT * FROM native_src_a")
      spark.sql(s"ALTER TABLE $cat.a ADD COLUMNS (c BIGINT)")
      (31L to 60L).map(k => ((k % 5).toInt, k, k * 10, k % 4))
        .toDF("g", "k", "x", "c").createOrReplaceTempView("native_src_a2")
      spark.sql(s"INSERT INTO $cat.a SELECT * FROM native_src_a2")
      val t = s"$wh/a"
      // retire c = 1: the old files hold no c and serve it as NULL, and
      // a NULL key matches nothing
      Sources.mergeVersionEq(spark, t, Seq((0, 0L, 0L, 1L))
        .toDF("g", "k", "x", "c").withColumn("op", lit("delete")), Seq("c"))
      assert(Sources.eqOf(t, Sources.latestVersion(t)).length === 1, layout)
      val live = (1L to 60L).filterNot(k => k > 30 && k % 4 == 1)
      assert(rows(spark.sql(s"SELECT k FROM $cat.a"), "k") ===
        live.map(k => s"[$k]").sorted, s"$layout: k")
      assert(rows(spark.sql(s"SELECT k, c FROM $cat.a"), "k", "c") ===
        live.map(k => s"[$k,${if (k > 30) (k % 4).toString else "null"}]")
          .sorted, s"$layout: k, c")
    }
  }

  test("an eq-pending bucketed join stays shuffle-free and equals the model") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.bl (k BIGINT, x BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.br (k BIGINT, y BIGINT) PARTITIONED BY (bucket(4, k))")
    (1L to 80L).map(k => (k, k * 10)).toDF("k", "x")
      .createOrReplaceTempView("native_src_bl")
    (1L to 80L).map(k => (k, k + 1)).toDF("k", "y")
      .createOrReplaceTempView("native_src_br")
    spark.sql(s"INSERT INTO $cat.bl SELECT * FROM native_src_bl")
    spark.sql(s"INSERT INTO $cat.br SELECT * FROM native_src_br")
    val t = s"$wh/bl"
    Seq(Seq(5L, 6L), Seq(6L, 40L)).zipWithIndex.foreach { case (ks, i) =>
      Sources.mergeVersionEq(spark, t,
        ks.map(k => (k, -k - i, "upsert")).toDF("k", "x", "op") union
          Seq((70L + i, 0L, "delete")).toDF("k", "x", "op"), Seq("k"))
    }
    assert(Sources.eqOf(t, Sources.latestVersion(t)).length === 2)
    val model = (1L to 80L).map(k => k -> k * 10).toMap ++
      Map(5L -> -5L, 6L -> -7L, 40L -> -41L) -- Seq(70L, 71L)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(s"""SELECT /*+ MERGE(r) */ l.k, l.x, r.y
                           |FROM $cat.bl l JOIN $cat.br r ON l.k = r.k""".stripMargin)
      assert(rows(j, "k", "x", "y") ===
        model.map { case (k, x) => s"[$k,$x,${k + 1}]" }.toSeq.sorted)
      val shuffles = planNodes(j.queryExecution.executedPlan).count {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
        case _ => false
      }
      assert(shuffles === 0, s"expected SPJ, got\n${j.queryExecution.executedPlan}")
    }
  }

  test("a DV'd partitioned read of many small files plans no more tasks " +
    "than the stock path plans for its clean copy") {
    val (cat, wh) = freshCatalog()
    (1L to 1600L).map(k => (k, k * 10, (k % 5).toInt)).toDF("k", "x", "g")
      .createOrReplaceTempView("native_src_many")
    for (n <- Seq("dvd", "cln")) {
      spark.sql(s"CREATE TABLE $cat.$n (k BIGINT, x BIGINT, g INT) PARTITIONED BY (g)")
      spark.sql(s"""INSERT INTO $cat.$n
                   |SELECT /*+ REPARTITION(32) */ * FROM native_src_many""".stripMargin)
    }
    val t = s"$wh/dvd"
    assert(manifestFiles(t).length === 160, "fixture: 32 tasks x 5 values")
    Sources.deleteWhereDv(spark, t, col("k") % 7 === 0)
    val dvd = spark.sql(s"SELECT k, x FROM $cat.dvd WHERE g = 2")
    val cln = spark.sql(s"SELECT k, x FROM $cat.cln WHERE g = 2")
    assert(plannedFiles(dvd.queryExecution.executedPlan) === Seq(32))
    assert(RuntimeScanWitness.of(cln.queryExecution.executedPlan).isEmpty,
      "the clean copy reads through the stock path")
    val tasks = dvd.rdd.getNumPartitions
    assert(tasks <= cln.rdd.getNumPartitions,
      s"the native scan planned $tasks tasks for 32 small files")
    assert(rows(dvd, "k", "x") === (1L to 1600L)
      .filter(k => k % 5 == 2 && k % 7 != 0).map(k => s"[$k,${k * 10}]").sorted)
  }
}
