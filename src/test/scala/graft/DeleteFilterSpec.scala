package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one DataFrame reader and the one delete filter: every read of a
  * version goes through the manifest index and drops DV- and eq-deleted
  * rows in one row predicate. Tables are tiny; every answer is checked
  * against a model computed here, on every layout, and the job counts
  * pin that building a read starts no Spark job and that pending
  * entries add none when it runs. */
class DeleteFilterSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def freshCatalog(): (String, String) = {
    val wh = tmp("delfilter-cat")
    val cat = s"df${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

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

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def fmt(rs: Iterable[(Int, Long, Long)]): Seq[String] =
    rs.map { case (g, k, x) => s"[$g,$k,$x]" }.toSeq.sorted

  private def changes(ups: Seq[(Int, Long, Long)],
      dels: Seq[(Int, Long)]): DataFrame =
    ups.toDF("g", "k", "x").withColumn("op", lit("upsert"))
      .unionByName(dels.toDF("g", "k").withColumn("x", lit(null).cast("long"))
        .withColumn("op", lit("delete")))

  // (layout DDL clause, partition column the layout keeps in paths)
  private val layouts = Seq(
    "flat" -> ("", false),
    "identity" -> ("PARTITIONED BY (g)", true),
    "transform" -> ("PARTITIONED BY (truncate(20, k))", false),
    "bucketed" -> ("PARTITIONED BY (bucket(4, k))", false))

  /** (name, the delete, its effect on the model). */
  private def deletes(partitioned: Boolean)
      : Seq[(String, String => Unit, Map[Long, (Int, Long)] => Map[Long, (Int, Long)])] =
    Seq[(String, String => Unit,
        Map[Long, (Int, Long)] => Map[Long, (Int, Long)])](
      ("dv delete", t => Sources.deleteWhereDv(spark, t, col("k") % 7 === 0),
        m => m.filterNot(_._1 % 7 == 0)),
      ("eq merge on a data key", t => Sources.mergeVersionEq(spark, t,
          changes(Seq((3, 3L, 1003L), (0, 10L, 1010L)), Seq((2, 17L))),
          Seq("k")),
        m => m - 17L + (3L -> (3, 1003L)) + (10L -> (0, 1010L)))) ++
      (if (!partitioned) Nil
       else Seq[(String, String => Unit,
           Map[Long, (Int, Long)] => Map[Long, (Int, Long)])](
         ("eq merge on the partition column", t => Sources.mergeVersionEq(
             spark, t, changes(Seq((2, 999L, 1L)), Nil), Seq("g")),
           m => m.filterNot(_._2._1 == 2) + (999L -> (2, 1L)))))

  private def modelRows(m: Map[Long, (Int, Long)]): Seq[String] =
    fmt(m.map { case (k, (g, x)) => (g, k, x) })

  test("every layout x every delete: readVersion, the catalog read, " +
    "readChanges, deleteWhereDv, purgeEq and compactVersion equal the model") {
    for ((layout, (ddl, partitioned)) <- layouts;
         (name, delete, effect) <- deletes(partitioned)) {
      val (cat, wh) = freshCatalog()
      val what = s"$layout / $name"
      spark.sql(s"CREATE TABLE $cat.t (g INT, k BIGINT, x BIGINT) $ddl")
      val base = (1L to 60L).map(k => k -> ((k % 5).toInt, k * 10)).toMap
      (1L to 60L).map(k => ((k % 5).toInt, k, k * 10)).toDF("g", "k", "x")
        .createOrReplaceTempView("delfilter_src")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM delfilter_src WHERE k <= 40")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM delfilter_src WHERE k > 40")
      val t = s"$wh/t"
      val v0 = Sources.latestVersion(t)
      delete(t)
      var model = effect(base)
      def check(step: String): Unit = {
        assert(rows(Sources.readVersion(spark, t), "g", "k", "x") ===
          modelRows(model), s"$what: readVersion after $step")
        assert(rows(spark.sql(s"SELECT g, k, x FROM $cat.t"), "g", "k", "x")
          === modelRows(model), s"$what: catalog read after $step")
      }
      check("the delete")
      val feed = Sources.readChanges(spark, t, v0, Sources.latestVersion(t))
      val before = modelRows(base).toSet
      val after = modelRows(model).toSet
      assert(rows(feed.filter(col("_change_type") === "delete"), "g", "k", "x")
        === (before -- after).toSeq.sorted, s"$what: readChanges deletes")
      assert(rows(feed.filter(col("_change_type") === "insert"), "g", "k", "x")
        === (after -- before).toSeq.sorted, s"$what: readChanges inserts")
      val victim = model.keys.filter(_ > 40).min
      Sources.deleteWhereDv(spark, t, col("k") === victim)
      model -= victim
      check("deleteWhereDv")
      Sources.purgeEq(spark, t)
      assert(Sources.eqOf(t, Sources.latestVersion(t)).isEmpty, what)
      check("purgeEq")
      Sources.compactVersion(spark, t, 1000L)
      check("compactVersion")
      spark.sql(s"DROP TABLE $cat.t")
    }
  }

  test("readChanges across a schema evolution aligns every side to the " +
    "to-version schema") {
    val t = s"${tmp("delfilter-evo")}/t"
    val v1Rows = (1L to 20L).map(k => (k, k.toInt * 2))
    Sources.commitVersion(v1Rows.toDF("k", "c"), t)
    val v2Rows = (21L to 30L).map(k => (k, k * 2, s"t$k"))
    Sources.commitVersionEvolving(v2Rows.toDF("k", "c", "tag"), t)
    val retired = Set(2L, 25L)
    Sources.mergeVersionEq(spark, t,
      Seq((2L, 200L, "up"), (25L, 250L, "up")).toDF("k", "c", "tag")
        .withColumn("op", lit("upsert")), Seq("k"))
    val feed = Sources.readChanges(spark, t, 1, 3)
    assert(feed.schema.fieldNames.toSeq === Seq("k", "c", "tag", "_change_type"))
    val before = v1Rows.map { case (k, c) => s"[$k,$c,null]" }.toSet
    val after = (v1Rows.filterNot(r => retired(r._1))
        .map { case (k, c) => s"[$k,$c,null]" } ++
      v2Rows.filterNot(r => retired(r._1)).map { case (k, c, g) => s"[$k,$c,$g]" } ++
      Seq("[2,200,up]", "[25,250,up]")).toSet
    assert(rows(feed.filter(col("_change_type") === "delete"), "k", "c", "tag")
      === (before -- after).toSeq.sorted)
    assert(rows(feed.filter(col("_change_type") === "insert"), "k", "c", "tag")
      === (after -- before).toSeq.sorted)
  }

  test("the change feeds of an identity-partitioned table keep the " +
    "partition column and see eq deletes keyed on it") {
    val t = s"${tmp("delfilter-part-cdf")}/t"
    Sources.writeTableProperties(t, Map("partition.columns" -> "g"))
    val base = (1L to 700L).map(k => (k, k * 3, s"g ${k % 35}"))
    Sources.commitVersion(base.toDF("k", "x", "g"), t)
    val v1 = Sources.latestVersion(t)
    val replaced = base.filter(_._1 % 10 == 0)
    Sources.mergeVersionEq(spark, t,
      replaced.map { case (k, _, g) => (k, -k, g) }.toDF("k", "x", "g")
        .withColumn("op", lit("upsert")), Seq("g", "k"))
    val (head, headJobs) = jobsDuring(Sources.readVersion(spark, t))
    assert(headJobs === 0, s"building a partitioned readVersion started $headJobs jobs")
    assert(head.count() === 700L)
    assert(head.filter(col("x") < 0).count() === 70L)
    val dels = replaced.map { case (k, x, g) => s"[$k,$x,$g]" }.sorted
    val ins = replaced.map { case (k, _, g) => s"[$k,${-k},$g]" }.sorted
    val (batch, batchJobs) = jobsDuring(
      Sources.readChanges(spark, t, v1, Sources.latestVersion(t)))
    assert(batchJobs === 0, s"building a partitioned readChanges started $batchJobs jobs")
    spark.readStream.format("graft-cdf")
      .option("path", t).option("startingVersion", v1.toString)
      .load().writeStream.format("memory").queryName("delfilter_part_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val stream = spark.sql("SELECT * FROM delfilter_part_cdf")
    for ((feed, which) <- Seq(batch -> "readChanges", stream -> "graft-cdf")) {
      assert(feed.columns.contains("g"), s"$which lost the partition column")
      assert(rows(feed.filter(col("_change_type") === "delete"), "k", "x", "g")
        === dels, s"$which deletes")
      assert(rows(feed.filter(col("_change_type") === "insert"), "k", "x", "g")
        === ins, s"$which inserts")
    }
  }

  test("building readVersion, readChanges and readVersionEvolved starts " +
    "no Spark job") {
    // a flat table of 40 files: more than the parallel listing threshold
    val flat = s"${tmp("delfilter-40")}/t"
    Sources.commitVersion(spark.range(0, 400).toDF("k")
      .withColumn("x", col("k") * 2).repartition(40), flat)
    assert(Sources.readVersion(spark, flat).inputFiles.length === 40)
    val (df, jobs) = jobsDuring(Sources.readVersion(spark, flat))
    assert(jobs === 0, s"building readVersion started $jobs jobs")
    assert(df.count() === 400L)
    // readChanges over appends, a DV delete and an eq merge
    Sources.commitVersion(spark.range(400, 420).toDF("k")
      .withColumn("x", col("k") * 2), flat)
    Sources.deleteWhereDv(spark, flat, col("k") === 3L)
    Sources.mergeVersionEq(spark, flat, Seq((5L, -5L)).toDF("k", "x")
      .withColumn("op", lit("upsert")), Seq("k"))
    val (feed, feedJobs) = jobsDuring(
      Sources.readChanges(spark, flat, 1, Sources.latestVersion(flat)))
    assert(feedJobs === 0, s"building readChanges started $feedJobs jobs")
    assert(rows(feed, "k", "x", "_change_type").length === 20 + 1 + 2)
    // readVersionEvolved over two generations
    val evo = s"${tmp("delfilter-evo-build")}/t"
    Sources.commitVersion((1L to 10L).map(k => (k, k.toInt)).toDF("k", "c"), evo)
    Sources.commitVersionEvolving(
      (11L to 15L).map(k => (k, k, s"t$k")).toDF("k", "c", "tag"), evo)
    val (evolved, evoJobs) = jobsDuring(Sources.readVersionEvolved(spark, evo))
    assert(evoJobs === 0, s"building readVersionEvolved started $evoJobs jobs")
    assert(rows(evolved, "k", "c", "tag") === ((1L to 10L).map(k => s"[$k,$k,null]") ++
      (11L to 15L).map(k => s"[$k,$k,t$k]")).sorted)
  }

  test("pending eq entries add no job to an executed read, and two reads " +
    "of one version plan the same result and share a persist") {
    val t = s"${tmp("delfilter-exec")}/t"
    Sources.commitVersion(spark.range(0, 300).toDF("k")
      .withColumn("g", col("k") % 3).repartition(4), t)
    def merge(k: Long): Unit = Sources.mergeVersionEq(spark, t,
      Seq((k, -1L)).toDF("k", "g").withColumn("op", lit("upsert")), Seq("k"))
    def run(): (Seq[String], Int) =
      jobsDuring(rows(Sources.readVersion(spark, t).groupBy("g").count(),
        "g", "count"))
    merge(1L)
    val (one, jobsOne) = run()
    merge(2L); merge(4L)
    assert(Sources.eqOf(t, Sources.latestVersion(t)).length === 3)
    val (three, jobsThree) = run()
    assert(jobsThree === jobsOne,
      s"1 pending entry: $jobsOne jobs, 3 pending entries: $jobsThree jobs")
    assert(one.contains("[-1,1]") && three.contains("[-1,3]"))
    Sources.deleteWhereDv(spark, t, col("k") === 7L)
    val a = Sources.readVersion(spark, t)
    val b = Sources.readVersion(spark, t)
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    a.persist()
    try {
      assert(a.count() === 299L)
      val cached = b.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.nonEmpty, "the second read missed the first one's persist")
      assert(b.count() === 299L)
    } finally a.unpersist()
  }
}
