package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Statistics ride the write: every commit path publishes the per-file
  * `v<N>.stats`, `.ndv` and `.bloom` lines its own write job computed
  * ([[graft.sources.FileStatsSpec]]), byte-equal to what a per-file
  * Spark aggregate over the written files produces, and no commit
  * re-reads the files it wrote. Also pins the job-free schema reads
  * and the flat job count of a DV delete under pending eq entries. */
class WriteStatsSpec extends SparkTestBase {

  private def fresh(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("t").toString
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

  /** 200 rows over numeric, string, date, decimal, timestamp, a
    * partly-null and an all-null column. */
  private def rows(from: Long = 0L): DataFrame =
    spark.range(from, from + 200).select(
      col("id").as("k"),
      concat(lit("s"), (col("id") % 17).cast("string")).as("s"),
      (col("id") * 1.5).as("x"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 30).cast("int"))
        .as("dt"),
      (col("id") / 7).cast("decimal(10,2)").as("dec"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 11).as("n"),
      lit(null).cast("int").as("z"),
      timestamp_seconds(lit(1700000000L) + col("id") * 7200).as("ts"),
      (col("id") % 3).as("p"))

  private val statCols = Seq("k", "s", "x", "dt", "dec", "n", "z", "ts")
  private val bloomCols = Seq("k", "s")
  private val declared = Map("stats.columns" -> statCols.mkString(","),
    "bloom.columns" -> bloomCols.mkString(","))

  private def manifestFiles(t: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(t,
      s"v$v.manifest")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** The version's `kind` lines as its manifest resolves them. */
  private def sidecar(t: String, v: Int, kind: String): Seq[String] =
    Sources.sidecarRaw(t, v, kind)

  /** The lines the former per-file Spark aggregate wrote for `files`:
    * one `groupBy(input_file_name())` of `min`/`max` cast to string,
    * `count(1)` and `hll_sketch_agg(cast(c as string), 12)`, and a
    * bloom per file over the same string cast — the reference the
    * write-time accumulator must reproduce. */
  private def reference(files: Seq[String]): (Set[String], Set[String], Set[String]) = {
    val df = spark.read.parquet(files: _*)
    val present = statCols.filter(df.columns.contains)
    val strCols = present.filter(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType).toSet
    val aggs = present.flatMap(c => Seq(min(col(c)).cast("string"),
      max(col(c)).cast("string"))) ++ Seq(count(lit(1))) ++
      present.map(c => hll_sketch_agg(col(c).cast("string"), 12))
    val agg = df.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val enc = java.util.Base64.getEncoder
    def b64(s: String) = enc.encodeToString(s.getBytes("UTF-8"))
    def asciiOk(s: String) = s.forall(_ < 128) && s.length <= 256
    val stats = agg.flatMap { r =>
      val f = Sources.normalizePath(r.getString(0))
      present.zipWithIndex.flatMap { case (c, i) =>
        (Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i))) match {
          case (Some(lo), Some(hi)) if strCols(c) =>
            if (asciiOk(lo) && asciiOk(hi)) Some(s"$f\t$c\tS:${b64(lo)}\tS:${b64(hi)}")
            else None
          case (Some(lo), Some(hi)) if scala.util.Try(BigDecimal(lo)).isSuccess &&
              scala.util.Try(BigDecimal(hi)).isSuccess => Some(s"$f\t$c\t$lo\t$hi")
          case _ => None
        }
      }
    }.toSet
    val base = 1 + 2 * present.length
    val ndv = agg.flatMap { r =>
      val f = Sources.normalizePath(r.getString(0))
      s"R\t$f\t${r.getLong(base)}" +: present.indices.map(j =>
        s"H\t$f\t${present(j)}\t${enc.encodeToString(
          r.getAs[Array[Byte]](base + 1 + j))}")
    }.toSet
    val bl = bloomCols.filter(df.columns.contains)
    val blooms = df.select(input_file_name() +: bl.map(c => col(c).cast("string")): _*)
      .collect().groupBy(r => Sources.normalizePath(r.getString(0))).toSeq
      .flatMap { case (f, rs) =>
        bl.indices.map { i =>
          val b = org.apache.spark.util.sketch.BloomFilter.create(100000L, 0.01)
          rs.foreach(r => if (!r.isNullAt(i + 1)) b.putString(r.getString(i + 1)))
          val bos = new java.io.ByteArrayOutputStream()
          b.writeTo(bos)
          s"$f\t${bl(i)}\t${enc.encodeToString(bos.toByteArray)}"
        }
      }.toSet
    (stats, ndv, blooms)
  }

  /** The head's sidecars cover every file and equal the reference. */
  private def assertSidecarsMatch(t: String): Unit = {
    val v = Sources.latestVersion(t)
    val files = manifestFiles(t, v)
    assert(files.nonEmpty)
    val (stats, ndv, blooms) = reference(files)
    assert(sidecar(t, v, "stats").toSet === stats)
    assert(sidecar(t, v, "ndv").toSet === ndv)
    assert(sidecar(t, v, "bloom").toSet === blooms)
    val (rowsOf, _) = Sources.ndvOf(t, v)
    assert(files.forall(f => rowsOf.contains(Sources.normalizePath(f))),
      "every file has a row count")
  }

  test("commitVersion appends publish stats, NDV and bloom lines for " +
    "every file of the head, from the write job alone") {
    val t = fresh("ws-append")
    Sources.writeTableProperties(t, declared)
    Sources.commitVersion(rows().repartition(3), t)
    val (_, jobs) = jobsDuring(
      Sources.commitVersion(rows(1000L).repartition(2), t))
    val head = Sources.latestVersion(t)
    assert(head === 2)
    val files = manifestFiles(t, head).map(Sources.normalizePath(_))
    val statted = Sources.statsOf(t, head).keys.map(_._1).toSet
    val (rowsOf, sketches) = Sources.ndvOf(t, head)
    val blooms = Sources.bloomsOf(t, head).keys.map(_._1).toSet
    assert(files.forall(statted), "every file has min/max lines")
    assert(files.forall(rowsOf.contains), "every file has a row count")
    assert(files.forall(f => sketches.contains((f, "k"))), "every file has a sketch")
    assert(files.forall(blooms), "every file has a bloom")
    assert(Sources.versionRows(t, head) === Some(400L))
    // the write (a shuffle map stage and the write stage) — no stats job
    val bare = fresh("ws-bare")
    Sources.commitVersion(rows().repartition(3), bare)
    val (_, bareJobs) = jobsDuring(
      Sources.commitVersion(rows(1000L).repartition(2), bare))
    assert(jobs === bareJobs, "a stats table's append starts no extra job")
    assertSidecarsMatch(t)
  }

  test("sidecars equal the per-file Spark aggregate: flat, identity-" +
    "partitioned, transform-partitioned and bucketed batch writes") {
    val layouts = Seq(
      "flat" -> Map.empty[String, String],
      "identity" -> Map("partition.columns" -> "p"),
      "transform" -> Map("ptransform.kind" -> "days",
        "ptransform.column" -> "ts", "ptransform.width" -> "0"),
      "bucketed" -> Map("bucket.column" -> "k", "bucket.count" -> "4"))
    layouts.foreach { case (name, props) =>
      val t = fresh(s"ws-$name")
      Sources.writeTableProperties(t, declared ++ props)
      Sources.commitVersion(rows().repartition(2), t)
      if (name == "transform")
        assert(manifestFiles(t, 1).forall(_.contains("/_pt=")))
      assertSidecarsMatch(t)
    }
  }

  test("SQL INSERT and the streaming sink carry their writers' lines") {
    val wh = java.nio.file.Files.createTempDirectory("ws-cat").toString
    spark.conf.set("spark.sql.catalog.wsc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wsc.warehouse", wh)
    val ddl = "k BIGINT, s STRING, x DOUBLE, dt DATE, dec DECIMAL(10,2), " +
      "n BIGINT, z INT, ts TIMESTAMP, p BIGINT"
    val props = s"TBLPROPERTIES ('stats.columns' = '${statCols.mkString(",")}'," +
      s" 'bloom.columns' = '${bloomCols.mkString(",")}')"
    spark.sql(s"CREATE TABLE wsc.ins ($ddl) $props")
    rows().repartition(2).createOrReplaceTempView("ws_src")
    spark.sql("INSERT INTO wsc.ins SELECT * FROM ws_src")
    assertSidecarsMatch(s"$wh/ins")

    spark.sql(s"CREATE TABLE wsc.st ($ddl) $props")
    val landing = java.nio.file.Files.createTempDirectory("ws-land").toString
    (0 until 2).foreach(i => rows(i * 1000L).coalesce(1)
      .write.mode("append").parquet(landing))
    val q = spark.readStream.schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$landing-ckpt")
      .toTable("wsc.st")
    q.awaitTermination()
    assert(Sources.latestVersion(s"$wh/st") === 3)
    assertSidecarsMatch(s"$wh/st")
  }

  /** Make promoting `t`'s `v<v>.stats` fail: a non-empty directory
    * stands where the staged sidecar's atomic move lands. */
  private def blockStats(t: String, v: Int): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(t, s"v$v.stats")
    java.nio.file.Files.createDirectories(d.resolve("block"))
    d
  }

  test("a sidecar write that fails after the publish fails neither the " +
    "commit nor the streaming epoch, and the next commit restores it") {
    val t = fresh("ws-fault")
    Sources.writeTableProperties(t, declared)
    Sources.commitVersion(rows(), t)
    val block = blockStats(t, 2)
    assert(Sources.commitVersion(rows(1000L), t) === 2)
    assert(Sources.readVersion(spark, t, 2).count() === 400)
    // the lines rode the link: only their promote was blocked, and the
    // manifest's pointer still resolves them
    assertSidecarsMatch(t)
    Sources.deleteTree(block)
    assertSidecarsMatch(t)
    Sources.commitVersion(rows(2000L), t)
    assertSidecarsMatch(t)

    val wh = java.nio.file.Files.createTempDirectory("ws-fcat").toString
    spark.conf.set("spark.sql.catalog.wsf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wsf.warehouse", wh)
    spark.sql("CREATE TABLE wsf.st (k BIGINT, s STRING, x DOUBLE, " +
      "dt DATE, dec DECIMAL(10,2), n BIGINT, z INT, ts TIMESTAMP, p BIGINT) " +
      s"TBLPROPERTIES ('stats.columns' = '${statCols.mkString(",")}')")
    val st = s"$wh/st"
    val epoch = Sources.latestVersion(st) + 1
    blockStats(st, epoch)
    val landing = java.nio.file.Files.createTempDirectory("ws-fland").toString
    rows().coalesce(1).write.mode("append").parquet(landing)
    val q = spark.readStream.schema(spark.read.parquet(landing).schema)
      .parquet(landing).writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$landing-ckpt")
      .toTable("wsf.st")
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(Sources.latestVersion(st) === epoch)
    val files = manifestFiles(st, epoch)
    assert(files.nonEmpty && files.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))),
      "the published epoch's files are kept")
    assert(Sources.readVersion(spark, st, epoch).count() === 200)
  }

  test("a commit reads once the kept files its base has no lines for, " +
    "and skips malformed carried lines") {
    val t = fresh("ws-restore")
    Sources.writeTableProperties(t, declared)
    Sources.commitVersion(rows().repartition(2), t)
    // a base whose `.ndv` a racing commit never saw, and a torn line
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, "v1.ndv"))
    java.nio.file.Files.write(java.nio.file.Paths.get(t, "v1.stats"),
      "\ntorn".getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    java.nio.file.Files.write(java.nio.file.Paths.get(t, "v1.ndv"),
      "R".getBytes("UTF-8"))
    Sources.commitVersion(rows(1000L), t)
    assertSidecarsMatch(t)
    // covered now: the next append scans nothing
    val bare = fresh("ws-restore-bare")
    Sources.commitVersion(rows().repartition(2), bare)
    Sources.commitVersion(rows(1000L), bare)
    val (_, bareJobs) = jobsDuring(Sources.commitVersion(rows(3000L), bare))
    val (_, jobs) = jobsDuring(Sources.commitVersion(rows(3000L), t))
    assert(jobs === bareJobs)
    assertSidecarsMatch(t)
  }

  test("schemaOf and building readVersion on a commitVersion table " +
    "start no job and return the inferred schema") {
    val t = fresh("ws-schema")
    Sources.commitVersion(rows().select(col("k"), col("s"), col("dec"),
      struct(col("k").as("a"), col("s").as("b")).as("st"),
      array(col("k")).as("arr"), map(col("s"), col("k")).as("m")), t)
    val expected = spark.read.parquet(manifestFiles(t, 1).head).schema
    val (schema, jobs) = jobsDuring(Sources.schemaOf(spark, t, 1))
    assert(jobs === 0)
    assert(schema === expected)
    val (df, readJobs) = jobsDuring(Sources.readVersion(spark, t))
    assert(readJobs === 0)
    assert(df.schema === expected)
    assert(df.count() === 200)
  }

  test("a catalog star join over two commitVersion dimensions plans in " +
    "at most one job") {
    val wh = java.nio.file.Files.createTempDirectory("ws-star").toString
    spark.conf.set("spark.sql.catalog.wss", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wss.warehouse", wh)
    val fact = s"$wh/wh/sales"
    Sources.writeTableProperties(fact, Map("stats.columns" -> "k,p"))
    Sources.commitVersion(spark.range(0, 300)
      .select(col("id").as("k"), (col("id") % 7).as("p"),
        (col("id") % 5).as("q"), col("id").cast("double").as("v")), fact)
    Sources.mergeVersionEq(spark, fact, spark.range(0, 20)
      .select(col("id").as("k"), (col("id") % 7).as("p"),
        (col("id") % 5).as("q"), lit(1.0).as("v"), lit("upsert").as("op")),
      Seq("k"))
    Sources.commitVersion(spark.range(0, 7).select(col("id").as("p_key"),
      concat(lit("b"), col("id").cast("string")).as("brand")), s"$wh/wh/part")
    Sources.commitVersion(spark.range(0, 5).select(col("id").as("q_key"),
      (col("id") % 2).as("nation")), s"$wh/wh/supplier")
    val sql =
      """SELECT p.brand, s.nation, count(*) AS n, sum(f.v) AS rev
        |FROM wss.wh.sales f JOIN wss.wh.part p ON f.p = p.p_key
        |JOIN wss.wh.supplier s ON f.q = s.q_key
        |WHERE f.k BETWEEN 10 AND 200
        |GROUP BY p.brand, s.nation""".stripMargin
    val (df, jobs) = jobsDuring {
      val d = spark.sql(sql); d.queryExecution.executedPlan; d }
    assert(jobs <= 1, s"planning started $jobs jobs")
    assert(df.collect().map(_.getLong(2)).sum === 191)
  }

  test("deleteWhereDv's job count stays flat as eq entries pile up, " +
    "and its answers equal a plain filtered read") {
    val t = fresh("ws-dvdel")
    Sources.commitVersion(spark.range(0, 400).select(col("id").as("k"),
      (col("id") % 13).as("g")).repartition(2), t)
    var live = (0L until 400L).toSet
    val counts = (1 to 3).map { i =>
      // one more pending eq entry before each delete
      Sources.mergeVersionEq(spark, t, spark.range(i * 10, i * 10 + 5)
        .select(col("id").as("k"), lit(-1L).as("g"), lit("upsert").as("op")),
        Seq("k"))
      val (_, jobs) = jobsDuring(
        Sources.deleteWhereDv(spark, t, col("g") === i))
      live = live.filterNot(k => k % 13 == i &&
        !(1 to i).exists(j => k >= j * 10 && k < j * 10 + 5))
      val got = Sources.readVersion(spark, t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val upserted = (1 to i).flatMap(j => (j * 10L until j * 10L + 5)
        .map(_ -> -1L)).toSet
      val expected = live.filterNot(k => (1 to i).exists(j =>
        k >= j * 10 && k < j * 10 + 5)).map(k => k -> k % 13) ++ upserted
      assert(got === expected, s"after delete $i")
      jobs
    }
    assert(counts.distinct.length === 1,
      s"delete_dv jobs per call grew with entries: $counts")
  }
}
