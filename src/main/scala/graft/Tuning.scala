package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cache and job-label policy shared by the streaming maintainers and
  * the table format ([[graft.sources.Sources]]). */
object Tuning {

  /** Run `body` under a job-description label, RESTORING the caller's
    * label after — setJobDescription(null) would clear a caller-set
    * phase label, so every job after the first internal commit would
    * profile under "?" instead of the caller's phase. */
  def withJobDescription[T](spark: SparkSession, desc: String)
      (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** `persist()` + immediate materialization. For a pinned frame that a
    * LATER action references from SEVERAL of its leaf stages: AQE
    * submits independent stages concurrently, and every stage that
    * reaches the cache before its blocks land recomputes the whole
    * subtree (cache stampede — measured as 13 concurrent ~2 s jobs all
    * computing the same minhash aggregate inside one store drain).
    * One labeled count up front computes the subtree ONCE; every
    * subsequent stage reads blocks. Costs one extra small job, saves
    * (fan-out − 1) recomputes of the pinned plan. */
  def pinEager(df: DataFrame, tag: String): DataFrame = {
    val p = df.persist()
    withJobDescription(df.sparkSession, s"pin:$tag") { p.count() }
    p
  }
}
