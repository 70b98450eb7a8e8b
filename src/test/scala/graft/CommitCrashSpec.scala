package graft

import graft.sources.{Refs, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The manifest is the whole commit: every commit path publishes the
  * version's declared schema and its stats/NDV/bloom lines with the
  * same link as its file list, DV and eq state. Each case runs one
  * commit path on a tiny table with a declared schema, `stats.columns`
  * and `bloom.columns`, copies the table, and simulates a crash right
  * after the link on the copy: every file the manifest points at goes
  * back to its staged name and every other `v<N>.*` file except the
  * manifest is deleted. Both tables then commit once more. Versions N
  * and N+1 of the crashed copy must read exactly like the original's. */
class CommitCrashSpec extends SparkTestBase {

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("s", StringType), StructField("x", DoubleType)))
  private val props = Map("stats.columns" -> "k,x", "bloom.columns" -> "s")

  private def root(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def rows(from: Long, n: Int): DataFrame =
    spark.range(from, from + n, 1, 1).select(col("id").as("k"),
      concat(lit("s"), (col("id") % 7).cast("string")).as("s"),
      (col("id") * 1.5).as("x"))

  /** Props, a declared schema (v1, empty) and 20 rows (v2). */
  private def table(dir: String): String = {
    val t = s"$dir/t"
    Sources.writeTableProperties(t, props)
    Sources.createEmptyTable(t, schema)
    Sources.commitVersion(rows(0, 20), t)
    t
  }

  private def changes: DataFrame =
    rows(0, 3).withColumn("x", lit(-1.0)).withColumn("op", lit("upsert"))
      .unionByName(rows(100, 1).withColumn("op", lit("upsert")))
      .unionByName(rows(5, 1).withColumn("op", lit("delete")))
      .coalesce(1)

  private def manifest(t: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(t,
      s"v$v.manifest")).asScala.toSeq
  }

  /** The state a crash right after `t`'s v`v` link leaves. */
  private def crash(t: String, v: Int): Unit = {
    val dir = java.nio.file.Paths.get(t)
    manifest(t, v).map(_.split("\t", -1)).collect {
      case Array("#sidecar", ext, name) =>
        val canonical = dir.resolve(s"v$v.$ext")
        if (java.nio.file.Files.exists(canonical))
          java.nio.file.Files.move(canonical, dir.resolve(name))
    }
    dir.toFile.listFiles().filter(f => f.getName.startsWith(s"v$v.") &&
        f.getName != s"v$v.manifest")
      .foreach(f => java.nio.file.Files.delete(f.toPath))
  }

  private def copyTable(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val q = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  /** What a reader sees of a version, files named by manifest position
    * (two runs write the same data under different batch names) and
    * sketches and blooms by digest. */
  private def snapshot(t: String, v: Int): Seq[Any] = {
    val pos = manifest(t, v).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(Sources.normalizePath).zipWithIndex.toMap
    def f(p: String) = pos.get(Sources.normalizePath(p)).fold(p)(i => s"#$i")
    def digest(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(b))
    val (counts, sketches) = Sources.ndvOf(t, v)
    Seq(Sources.declaredSchema(t, v),
      Sources.statsOf(t, v).toSeq.map { case ((p, c), mm) => (f(p), c, mm) }
        .sortBy(_.toString),
      Sources.statsOfString(t, v).toSeq.map { case ((p, c), mm) =>
        (f(p), c, mm) }.sortBy(_.toString),
      counts.toSeq.map { case (p, n) => (f(p), n) }.sortBy(_.toString),
      sketches.toSeq.map { case ((p, c), b) => (f(p), c, digest(b)) }.sortBy(_.toString),
      Sources.bloomsOf(t, v).toSeq.map { case ((p, c), b) => (f(p), c, digest(b)) }
        .sortBy(_.toString),
      Sources.readVersion(spark, t, v).collect().map(_.toString).sorted.toSeq)
  }

  /** Run `op` on `t` (it must publish a new version N), crash a copy
    * right after N's link, commit once more on both, and compare. */
  private def crashAfter(name: String, t: String)(op: => Any)(
      next: String => Any = Sources.commitVersion(rows(1000, 4), _)): Unit = {
    val before = Sources.latestVersion(t)
    op
    val n = Sources.latestVersion(t)
    assert(n > before, s"$name published no version")
    val crashed = root(s"crash-$name") + "/t"
    copyTable(t, crashed)
    crash(crashed, n)
    assert(snapshot(crashed, n) === snapshot(t, n), s"$name: v$n")
    next(t)
    next(crashed)
    assert(Sources.latestVersion(crashed) === n + 1)
    assert(snapshot(crashed, n + 1) === snapshot(t, n + 1), s"$name: v${n + 1}")
  }

  test("appends, evolving and checked commits, ALTER and rollback") {
    val d = root("cc-append")
    val t1 = table(s"$d/a")
    crashAfter("commitVersion", t1)(Sources.commitVersion(rows(20, 5), t1))()
    val t2 = table(s"$d/b")
    crashAfter("commitVersionEvolving", t2)(Sources.commitVersionEvolving(
      rows(20, 5).withColumn("note", lit("n")), t2))()
    val t3 = table(s"$d/c")
    crashAfter("commitVersionChecked", t3)(Sources.commitVersionChecked(
      rows(20, 5), t3, Seq("pos" -> (col("k") >= 0))))()
    val t4 = table(s"$d/d")
    crashAfter("alterSchema", t4)(
      Sources.alterSchema(t4, schema.add("note", StringType)))()
    // the append after an ALTER re-declares the evolved schema: a lost
    // v<N>.schema would drop `note` from every later version
    val t5 = table(s"$d/e")
    Sources.alterSchema(t5, schema.add("note", StringType))
    crashAfter("append onto ALTER", t5)(Sources.commitVersion(rows(20, 5), t5))()
    assert(Sources.declaredSchema(t5, Sources.latestVersion(t5))
      .exists(_.fieldNames.contains("note")))
    val t6 = table(s"$d/f")
    Sources.commitVersion(rows(20, 5), t6)
    crashAfter("rollbackTo", t6)(Sources.rollbackTo(t6, 2))()
  }

  test("DV and eq deletes, their purges, the rewrites and the merges") {
    val d = root("cc-rows")
    val cases: Seq[(String, String => Any, String => Any)] = Seq(
      ("deleteWhereDv", _ => (), t => Sources.deleteWhereDv(spark, t, col("k") < 3)),
      ("purgeDv", t => Sources.deleteWhereDv(spark, t, col("k") < 3),
        t => Sources.purgeDv(spark, t)),
      ("deleteWhere", _ => (), t => Sources.deleteWhere(spark, t, col("k") < 3)),
      ("updateWhere", _ => (), t => Sources.updateWhere(spark, t, col("k") < 3,
        Map("x" -> lit(0.0)))),
      ("mergeVersion", _ => (), t => Sources.mergeVersion(spark, t, changes, "k")),
      ("mergeVersionDv", _ => (), t => Sources.mergeVersionDv(spark, t, changes, "k")),
      ("mergeVersionEq", _ => (), t => Sources.mergeVersionEq(spark, t, changes,
        Seq("k"))),
      ("purgeEq", t => Sources.mergeVersionEq(spark, t, changes, Seq("k")),
        t => Sources.purgeEq(spark, t)),
      ("compactVersion", t => Sources.commitVersion(rows(20, 5), t),
        t => Sources.compactVersion(spark, t, 1000L)),
      ("compactVersionWhere", t => Sources.commitVersion(rows(20, 5), t),
        t => Sources.compactVersionWhere(spark, t, 1000L, _ => true)))
    cases.foreach { case (name, setup, op) =>
      val t = table(s"$d/$name")
      setup(t)
      crashAfter(name, t)(op(t))()
    }
  }

  test("an empty table, a clone, a branch fork and a branch publish") {
    val d = root("cc-meta")
    val empty = s"$d/empty"
    Sources.writeTableProperties(empty, props)
    crashAfter("createEmptyTable", empty)(Sources.createEmptyTable(empty, schema))()

    val src = table(s"$d/src")
    Sources.deleteWhereDv(spark, src, col("k") < 3)
    val clone = s"$d/clone"
    crashAfter("cloneTable", clone)(Sources.cloneTable(spark, src, clone))()

    val main = table(s"$d/main")
    Sources.deleteWhereDv(spark, main, col("k") < 3)
    val bd = Refs.branchDir(main, "fork")
    crashAfter("createBranch", bd)(Refs.createBranch(main, "fork"))()

    val pub = table(s"$d/pub")
    val pbd = Refs.createBranch(pub, "wap")
    Sources.commitVersion(rows(50, 5), pbd)
    Sources.deleteWhereDv(spark, pbd, col("k") === 51)
    crashAfter("publishBranch", pub)(Refs.publishBranch(pub, "wap"))()
  }

  test("a SQL INSERT and TRUNCATE through the catalog and a streaming " +
    "sink epoch") {
    val wh = root("cc-cat")
    spark.conf.set("spark.sql.catalog.ccc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ccc.warehouse", wh)
    val tblProps = "TBLPROPERTIES ('stats.columns' = 'k,x', " +
      "'bloom.columns' = 's')"
    spark.sql(s"CREATE TABLE ccc.ins (k BIGINT, s STRING, x DOUBLE) $tblProps")
    crashAfter("SQL INSERT", s"$wh/ins")(spark.sql(
      "INSERT INTO ccc.ins VALUES (1, 's1', 1.5), (2, 's2', 3.0)"))()
    crashAfter("SQL TRUNCATE", s"$wh/ins")(spark.sql("TRUNCATE TABLE ccc.ins"))()

    spark.sql(s"CREATE TABLE ccc.st (k BIGINT, s STRING, x DOUBLE) $tblProps")
    val landing = root("cc-land")
    rows(0, 10).write.mode("append").parquet(landing)
    crashAfter("streaming epoch", s"$wh/st") {
      val q = spark.readStream.schema(schema).parquet(landing)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$landing-ckpt").toTable("ccc.st")
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }()
  }

  test("t$history names each version's operation from its manifest, " +
    "resolves has_stats through the pointer and starts no job") {
    val t = table(root("cc-hist"))
    Sources.deleteWhereDv(spark, t, col("k") < 3)
    Sources.mergeVersionEq(spark, t, changes, Seq("k"))
    // a blocked promote: v5's stats live only under their staged name
    val v5 = java.nio.file.Paths.get(t, "v5.stats")
    java.nio.file.Files.createDirectories(v5.resolve("block"))
    Sources.commitVersion(rows(20, 5), t)
    // a version written before the `#commit` record
    val v1 = java.nio.file.Paths.get(t, "v1.manifest")
    val lines = manifest(t, 1).filterNot(_.startsWith("#commit"))
    java.nio.file.Files.delete(v1)
    java.nio.file.Files.write(v1, lines.mkString("\n").getBytes("UTF-8"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    val h =
      try {
        val df = Sources.history(spark, t)
        org.apache.spark.GraftTestBridge.waitForListeners(sc)
        df
      } finally sc.removeSparkListener(listener)
    assert(jobs.get() === 0, "building the history started a job")
    assert(h.columns.last === "operation")
    val got = h.collect()
    assert(got.map(r => Option(r.getAs[String]("operation"))).toSeq ===
      Seq(None, Some("append"), Some("dv-delete"), Some("eq-merge"),
        Some("append")))
    assert(got.map(_.getAs[Boolean]("has_stats")).toSeq ===
      Seq(true, true, true, true, true))
    Sources.deleteTree(v5)
  }
}
