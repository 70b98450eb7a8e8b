package graft

import graft.sources.Sources
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._

/** Damaged table metadata fails LOUDLY. A DV line, an eq line, a
  * staged-sidecar pointer or a `#txn` ledger entry that read as absent
  * would bring deleted rows back, or re-apply a batch, without any
  * reader noticing — so each of them throws instead. */
class DamagedMetadataSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def table(root: String): String = {
    val t = s"$root/t"
    Sources.commitVersion(spark.range(0, 20).select(col("id").as("k"),
      (col("id") * 10).as("v")), t)
    t
  }

  private def overwrite(p: java.nio.file.Path, text: String): Unit =
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))

  private def loud(body: => Any): String =
    intercept[IllegalStateException] { body }.getMessage

  test("a corrupted DV line fails the read") {
    val t = table(tmp("dmg-dv"))
    Sources.deleteWhereDv(spark, t, col("k") < 3)
    val v = Sources.latestVersion(t)
    assert(Sources.readVersion(spark, t).count() === 17L)
    overwrite(java.nio.file.Paths.get(t, s"v$v.dv"), "no-tab-here")
    assert(loud(Sources.readVersion(spark, t).count())
      .contains("malformed DV line"))
  }

  test("a corrupted eq line fails the read") {
    val t = table(tmp("dmg-eq"))
    Sources.mergeVersionEq(spark, t, spark.range(0, 3)
      .select(col("id").as("k"), lit(0L).as("v"), lit("delete").as("op")),
      Seq("k"))
    val v = Sources.latestVersion(t)
    assert(Sources.readVersion(spark, t).count() === 17L)
    overwrite(java.nio.file.Paths.get(t, s"v$v.eq"), "k\t/some/dir\tNaN")
    assert(loud(Sources.readVersion(spark, t).count())
      .contains("malformed eq line"))
  }

  test("a manifest pointing at a sidecar that exists neither staged " +
    "nor canonical fails the read") {
    val t = table(tmp("dmg-ptr"))
    Sources.deleteWhereDv(spark, t, col("k") < 3)
    val v = Sources.latestVersion(t)
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, s"v$v.dv"))
    assert(loud(Sources.readVersion(spark, t).count())
      .contains("exists neither staged nor canonical"))
  }

  test("a schema pointer whose file exists neither staged nor canonical " +
    "fails the read") {
    val t = table(tmp("dmg-schema"))
    Sources.alterSchema(t, Sources.schemaOf(spark, t, 1)
      .add("note", org.apache.spark.sql.types.StringType))
    val v = Sources.latestVersion(t)
    assert(Sources.readVersion(spark, t).columns.contains("note"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, s"v$v.schema"))
    assert(loud(Sources.declaredSchema(t, v))
      .contains("exists neither staged nor canonical"))
    assert(loud(Sources.readVersion(spark, t).count())
      .contains("exists neither staged nor canonical"))
  }

  test("a stats pointer whose file exists neither staged nor canonical " +
    "reads unpruned") {
    val root = tmp("dmg-stats")
    val t = s"$root/t"
    Sources.writeTableProperties(t, Map("stats.columns" -> "k",
      "bloom.columns" -> "k"))
    Sources.commitVersion(spark.range(0, 20, 1, 2).select(col("id").as("k"),
      (col("id") * 10).as("v")), t)
    val v = Sources.latestVersion(t)
    assert(Sources.statsOf(t, v).nonEmpty)
    Seq("stats", "ndv", "bloom").foreach(ext => java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, s"v$v.$ext")))
    assert(Sources.statsOf(t, v).isEmpty && Sources.bloomsOf(t, v).isEmpty)
    assert(Sources.ndvOf(t, v)._1.isEmpty)
    assert(Sources.readVersion(spark, t).filter(col("k") === 3).count() === 1L)
    assert(Sources.pruneFiles(t, v, "k", 0, 1)._2.isEmpty,
      "no file is skipped without its lines")
  }

  test("a malformed #txn entry fails the consumer's drain") {
    import spark.implicits._
    val root = tmp("dmg-txn")
    val src = s"$root/src"
    val dst = s"$root/dst"
    Sources.commitVersion((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"),
      src)
    StreamingPipeline.replicateTable(spark, src, dst, "k", s"$root/ck")
      .awaitTermination()
    val consumer = Sources.txnConsumer("replica", src)
    assert(Sources.appliedVersion(dst, consumer) === 1L)
    java.nio.file.Files.write(java.nio.file.Paths.get(dst,
        s"v${Sources.latestVersion(dst)}.manifest"),
      s"\n#txn\t$consumer".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(loud(Sources.appliedVersion(dst, consumer))
      .contains("malformed ledger line"))
    Sources.commitVersion(Seq((10L, "v10")).toDF("k", "v"), src)
    val e = intercept[Exception] {
      StreamingPipeline.replicateTable(spark, src, dst, "k", s"$root/ck")
        .awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("malformed ledger line")), s"got $e")
  }
}
