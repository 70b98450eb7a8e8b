package graft

import org.apache.spark.sql.SparkSession

/** The engine's front door: a SparkSession pre-configured with every
  * graft extension and the measured tuning defaults, so a user gets the
  * full surface (SQL functions, optimizer rules, the native as-of join
  * strategy) from one call:
  *
  * {{{
  * val spark = GraftSession.build()           // local[<cpus>]
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  * graft.plans.AsOfOps.asofJoin(...)
  * }}}
  *
  * Tuning ledger (measured at sf0.1, BASELINE.md): shuffle partitions
  * sized to cores not the 200 default; AQE on for runtime re-planning
  * and skew splitting; 4 MB Tungsten pages (large heaps inflate the
  * default to 64 MB and hash-aggregate tasks then spend their time
  * zeroing pages); UTC session timezone for oracle-stable timestamps.
  */
object GraftSession {

  /** Task threads: the `SPARK_GRAFT_CPUS` deployment setting, else the
    * host's core count. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def build(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may have returned a PRE-EXISTING session, silently
    // ignoring every builder config above — re-assert the
    // runtime-settable ones (static confs like pageSize can't change
    // post-hoc) and install rules/functions imperatively so that
    // session still gains the full surface
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    plans.GraftRules.install(spark)
    spark
  }
}
