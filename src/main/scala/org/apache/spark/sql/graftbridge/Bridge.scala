package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.hadoop.fs.Path

/** Minimal `private[sql]` access bridge for the graft engine's custom
  * logical plans (the standard pattern for Spark-external plan
  * libraries): constructing a `DataFrame` from a hand-built
  * `LogicalPlan` and unwrapping a public `Column` to its Catalyst
  * `Expression` have no public API in Spark 4, and neither has a file
  * write that takes extra per-file statistics trackers, so this one
  * object lives under `org.apache.spark.sql` to reach them. Nothing
  * else of Spark's internals is touched here.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Write `df` as parquet into the new directory `path`, hive-laid by
    * `partitionBy`, through Spark's own `FileFormatWriter` with extra
    * per-file `trackers` — the call `df.write.partitionBy(...)
    * .parquet(path)` makes (`InsertIntoHadoopFsRelationCommand`), which
    * has no way to take trackers. Delta's `TransactionalWrite` makes
    * the same call. Runs as one SQL execution of `df`'s plan, so
    * observed metrics and listeners see it as they see a save. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val options = Map("path" -> path)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    require(!fs.exists(out), s"path $path already exists")
    val qualified =
      out.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = qualified)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val resolver = spark.sessionState.conf.resolver
      val parts = partitionBy.map(p => plan.output.find(a =>
        resolver(a.name, p)).getOrElse(throw new IllegalArgumentException(
          s"partition column $p is not in ${plan.output.mkString(", ")}")))
      FileFormatWriter.write(spark, plan, new ParquetFileFormat(),
        committer, FileFormatWriter.OutputSpec(qualified, Map.empty,
          plan.output), hadoopConf, parts, None, trackers, options)
    }
  }
}
