package graft

import graft.streaming.StreamingPipeline

/** Runnable streaming demo: replays the events fixture through the
  * micro-batch ETL (watermarked window agg + foreachBatch keyed upsert)
  * and prints what landed — the E1 pipeline of SURVEY.md §3, end to end.
  *
  * Usage: runMain graft.StreamSmoke [sfDir] [outDir]
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("stream-smoke").toString)
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")

    val q = StreamingPipeline.dimUpsertQuery(spark, sfDir, outDir)
    q.awaitTermination(120000)

    val dim = spark.read.parquet(s"$outDir/dim_user")
    println(s"[stream-smoke] dim_user rows: ${dim.count()}")
    dim.orderBy("user_id").show(5, truncate = false)

    val counts = StreamingPipeline.windowedCounts(
        StreamingPipeline.readEvents(spark, sfDir))
      .writeStream.outputMode("append").format("memory").queryName("wc")
      .option("checkpointLocation", s"$outDir/_ckpt_wc")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    counts.awaitTermination(120000)
    val wc = spark.table("wc")
    println(s"[stream-smoke] closed windows emitted: ${wc.count()}")
    wc.orderBy("window").show(5, truncate = false)
    spark.stop()
  }
}
