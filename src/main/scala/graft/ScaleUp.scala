package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Fixture scale-up: replicate an existing SF directory N× with
  * DISJOINT key spaces, producing the next SF up for scale witnessing
  * (the round-9 verdict's "no gate runs above sf0.1" gap). Every
  * synthetic key is offset by `replica * Stride` so FK joins stay
  * consistent (lineitem→orders/part/supplier, orders→customer) and
  * entity-grain partitions (user_id, doc_id, vec_id) grow in COUNT,
  * not in per-key depth — the way a real corpus grows. The tiny
  * region/nation dims copy as-is; document text gets a per-replica
  * suffix token so the dedup pipelines face realistic near-dups
  * instead of 10 exact copies of everything.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [factor]
  */
object ScaleUp {

  /** Far above any sf0.1 key (orders peak ~600k, events/docs lower). */
  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // the caesar shift has 25 distinct non-identity values: replicas r
    // and r+25 would share one, silently re-introducing the cross-
    // replica near-duplication this generator exists to avoid — for a
    // larger corpus, scale an already-scaled output again
    require(factor <= 26,
      s"factor $factor exceeds the 26 distinct text transforms; " +
        "compose ScaleUp runs instead (e.g. sf0.1 -> sf1 -> sf10)")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    /** `df` replicated `factor`×, with each listed key column offset by
      * replica*Stride and optional per-replica extras. */
    def replicate(df: DataFrame, keys: Seq[String],
        extra: (DataFrame, Long) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { r =>
        val off = r.toLong * Stride
        extra(keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(off))), r.toLong)
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // tiny dims: verbatim
    Seq("region", "nation").foreach(n => write(n, tbl(n)))
    write("customer", replicate(tbl("customer"), Seq("c_custkey")))
    write("supplier", replicate(tbl("supplier"), Seq("s_suppkey")))
    write("part", replicate(tbl("part"), Seq("p_partkey")))
    write("orders", replicate(tbl("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(tbl("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", replicate(tbl("events"), Seq("event_id", "user_id")))
    write("documents", replicate(tbl("documents"), Seq("doc_id"),
      // per-replica CAESAR-SHIFTED text: replication must preserve the
      // corpus's DUP RATE, not multiply it — a trailing-token-only
      // variant left every doc 10-way near-duplicated, which inflated
      // set-similarity candidate mass ~x100 (q137 read 2.2s -> 65s)
      // and connected-component depth (q66 build 40s). Shifting the
      // alphabet per replica keeps token structure, lengths, and the
      // within-replica dup rate while making replicas mutually
      // non-similar — how a corpus actually grows.
      (d, r) => if (r == 0L) d
        else {
          val a = "abcdefghijklmnopqrstuvwxyz"
          val s = (r % 25 + 1).toInt
          val shifted = a.drop(s) + a.take(s)
          d.withColumn("text", translate(col("text"),
            a + a.toUpperCase, shifted + shifted.toUpperCase))
        }))
    write("embeddings", replicate(tbl("embeddings"), Seq("vec_id")))
    println(s"[scaleup] done -> $out (factor $factor)")
    spark.stop()
  }
}
