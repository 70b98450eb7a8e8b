package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Ad-hoc profiler: run named inventory queries (or all) against a SF
  * dir, print per-query build/read seconds, then roll the query's Spark
  * jobs up by call site — the seconds say how long, the rollup says
  * WHERE inside build() the time goes (how the fixed per-commit
  * overhead of the lifecycle gates was located). `-x` additionally
  * dumps the formatted physical plan — the `.explain` loop SURVEY.md §7
  * mandates after each operator lands.
  *
  * Usage: runMain graft.Profile <sfDir> [-x] [name...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val explain = args.contains("-x")
    val names = args.drop(1).filterNot(_ == "-x")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")

    // job -> (start ns, site); site -> (total ms, jobs)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val agg = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        // prefer the explicit description (setJobDescription) — the
        // maintainers label their phases; fall back to the call site,
        // which names the result stage. A streaming batch's label
        // carries its run id and batch number on extra lines: dropped,
        // so every batch of one stream rolls up together
        val site = p.flatMap(x =>
            Option(x.getProperty("spark.job.description")))
          .map(_.split("\n").map(_.trim).filterNot(l => l.isEmpty ||
            l.startsWith("runId =") || l.startsWith("batch =")).mkString(" "))
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          agg.merge(site, ((System.nanoTime() - t0) / 1000000, 1L),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
    })

    // same warm-up as Bench: touch parquet reader, codegen and shuffle
    // once so the first profiled query isn't charged for JVM warm-up
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
      .write.mode("overwrite").format("noop").save()
    Thread.sleep(300) // let the warm-up's job events land before clearing
    agg.clear()

    val picked =
      if (names.isEmpty) SparkEntry.inventory
      else SparkEntry.inventory.filter(q => names.exists(q.name.contains))
    picked.foreach { q =>
      val tb = System.nanoTime()
      val df = q.build(spark, sfDir)
      val build = (System.nanoTime() - tb) / 1e9
      if (explain) {
        println(s"===== ${q.name} =====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val read = (System.nanoTime() - t0) / 1e9
      println(f"[profile] ${q.name}%-28s build $build%8.2f s  read $read%8.2f s")
      Thread.sleep(300) // listener events are asynchronous
      scala.jdk.CollectionConverters.MapHasAsScala(agg).asScala.toSeq
        .sortBy(-_._2._1).foreach { case (site, (ms, n)) =>
          println(f"  ${ms}%7d ms  ${n}%4d jobs  $site")
        }
      agg.clear()
    }
    spark.stop()
  }
}
