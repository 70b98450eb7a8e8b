package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--spans <file>]`. Builds the engine's
  * session (`local[nproc - 1]`), runs the workload, and prints one line
  * `BENCH_RESULT {...}` carrying every measured value by name, the
  * correctness checks and the traffic dimensions; `run.py` turns it
  * into the benchmark's result line. */
object Main {
  /** name -> (run, traffic dimensions) */
  val workloads: Map[String, ((Ctx, Boolean) => Outcome, Map[String, Any])] = Map(
    "etl_stream" -> (EtlStream.run _, EtlStream.traffic),
    "olap_read" -> (OlapRead.run _, OlapRead.traffic))

  def session(master: String): SparkSession = {
    val spark = GraftSession.build(master = master,
      shufflePartitions = math.max(1, master.stripPrefix("local[")
        .stripSuffix("]").toIntOption.getOrElse(nproc)))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Task threads: one core is left to Spark's driver thread, which
    * plans and schedules every one of the many small jobs, so task
    * threads plus that thread never outnumber the cores. */
  def taskThreads: Int = math.max(1, nproc - 1)

  /** Replace the run's session (the single-core baseline); the traced
    * numbers gathered so far are kept. */
  def restartSession(ctx: Ctx, master: String): Unit = {
    ctx.tracer.close()
    ctx.retired ::= ctx.tracer
    ctx.spark.stop()
    ctx.spark = session(master)
    ctx.tracer = new Tracer(ctx.spark, on = false)
  }

  /** Metrics computed from others. A traced run repeats the end-to-end
    * values under `trace.` — compared with an untraced run of the same
    * seed, they give the tracing overhead. */
  private def derived(m: Map[String, Double], trace: Boolean): Map[String, Double] =
    if (!trace) Map.empty
    else {
      val reads = Seq("star_agg", "rollup", "topk", "lookup", "time_travel")
        .flatMap(k => m.get(s"read.$k.rows_read")).sum
      Seq("setup_s", "freshness_s_p50", "query_s_p50", "catchup_rows_per_s")
        .flatMap(k => m.get(k).map(v => s"trace.$k" -> v)).toMap ++
        Map("spans.failed" -> m.collect {
          case (k, v) if k.endsWith(".failed") => v }.sum) ++
        m.get("scan.rows_out").filter(_ > 0).map(n =>
          "scan.rows_read_per_row_out" -> reads / n)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val (run, traffic) = workloads.getOrElse(name,
      sys.error(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = session(s"local[$taskThreads]")
    val ctx = new Ctx(spark, new Tracer(spark, trace), seed, seconds, work)
    val cal = new Common.Calibration(spark, work.resolve("calibration"))
    val calStart = cal.probe(spark)
    val t0 = System.nanoTime()
    val out = run(ctx, trace)
    val wall = (System.nanoTime() - t0) / 1e9
    val tracers = (ctx.tracer :: ctx.retired).filter(_.on)
    val traced = tracers.reverse.map(_.summary()).foldLeft(
      Map.empty[String, Double])(_ ++ _)
    opts.get("spans").foreach(p =>
      tracers.headOption.foreach(_.writeSpans(Paths.get(p))))
    val calEnd = cal.probe(ctx.spark)
    val metrics = out.metrics ++ traced ++ derived(out.metrics ++ traced,
      trace) ++ out.after() ++ Map(
      "host.calibration_s_start" -> calStart,
      "host.calibration_s_end" -> calEnd,
      "run.wall_s" -> wall)
    val correct = out.checks.forall(_._2) && out.checks.nonEmpty
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(a: Any): String = a match {
      case s: String => "\"" + s + "\""
      case d: Double => num(d)
      case x => x.toString
    }
    val json = new StringBuilder("{")
    json ++= s""""workload":"$name","seed":$seed,"trace":$trace,"""
    json ++= s""""correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"""
    json ++= "\"checks\":" + out.checks.map { case (k, ok) => s""""$k":$ok""" }
      .mkString("{", ",", "}") + ","
    json ++= "\"traffic\":" + traffic.toSeq.sortBy(_._1).map {
      case (k, v) => s""""$k":${str(v)}""" }.mkString("{", ",", "}") + ","
    json ++= "\"metrics\":" + metrics.toSeq.sortBy(_._1).map {
      case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    json ++= "}"
    ctx.tracer.close()
    ctx.spark.stop()
    println("BENCH_RESULT " + json)
    Console.out.flush()
  }
}
