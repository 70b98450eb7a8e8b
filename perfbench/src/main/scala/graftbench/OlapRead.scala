package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{AnnIndex, SimilarityOps}
import graft.sources.Sources

/** `olap_read` — closed loop, one client that waits for each answer.
  *
  * Set-up builds a star schema as `g` catalog tables carrying seeded
  * merge-on-read debt (small files, pending equality deletes, deletion
  * vectors). The client then issues a fixed cycle of SQL query kinds
  * with seeded parameters: star-join aggregate, rollup, per-key top-k,
  * selective key lookup and a `VERSION AS OF` read. After every query
  * a small CDC batch (two equality-delete upserts to one
  * deletion-vector delete) lands on the fact table, so the debt readers
  * pay keeps growing as it would in service; its commit latency and a
  * final backlog give this workload's write-side numbers.
  *
  * The AnnIndex build and the curation chain with its TextIndex
  * ([[CurationStream.probe]]) cost more than an untraced run can spend,
  * so only the traced run builds them, times their searches and checks
  * their answers.
  *
  * Traffic: one client, as the issue's closed loop asks; a trickle
  * upsert is 100 rows, the reference's 100-tuple stream buffer
  * (SURVEY.md §6). Every other size, share and the query mix are
  * chosen, not recorded: the reference issues no analyst queries.
  *
  * Why: it exercises `catalog`, `scan` and the read side of `sources`
  * (eq/DV application) with almost no writes — the bypass workload for
  * write-path changes, and the one that catches cost a writer defers
  * onto readers. */
object OlapRead {
  val Orders = 12000
  val Parts = 2000
  val Suppliers = 100
  val Nations = 25
  val BaseCommits = 4
  val DebtUpserts = 400
  val DebtDeletes = 300
  val TrickleEvery = 1
  /** Every third trickle batch is a delete, the others upserts: over
    * the 11 batches of one kind cycle, p50 falls inside the upserts
    * and p90 on the (slower) deletes, not on the edge between them. */
  val TrickleDeleteEvery = 3
  val MaxTrickles = 24
  val TrickleUpserts = 100
  val TrickleDeletes = 40
  val BacklogBatches = 6
  val BacklogUpserts = 12000
  val Vectors = 1200
  val Dim = 64
  val Centers = 10
  val AnnProbes = 16
  val RecallFloor = 0.5
  /** The kinds, in the fixed order every run issues them; only their
    * parameters are seeded, so runs with different seeds time the same
    * mix. Half are lookups; three run faster than a lookup (`VERSION
    * AS OF` reads, which apply no pending deletes) and three slower
    * (top-k, star join, rollup), so over one cycle p50 falls between
    * the two middle lookups, not on the edge between two kinds, and p90
    * between the top-k and the star join. */
  val Cycle: Seq[String] = Seq("lookup", "star_agg", "lookup", "time_travel",
    "lookup", "topk", "lookup", "time_travel", "lookup", "time_travel",
    "lookup", "rollup")

  def traffic: Map[String, Any] = Map(
    "clients" -> 1, "orders" -> Orders, "fact_rows" -> Orders * 4,
    "base_commits" -> BaseCommits, "debt_eq_upserts" -> DebtUpserts,
    "debt_dv_deletes" -> DebtDeletes, "trickle_every_queries" -> TrickleEvery,
    "trickle_delete_every" -> TrickleDeleteEvery,
    "trickle_upserts" -> TrickleUpserts, "trickle_deletes" -> TrickleDeletes,
    "backlog_batches" -> BacklogBatches, "backlog_upserts" -> BacklogUpserts,
    "vectors" -> Vectors,
    "query_mix" -> Cycle.mkString(" ")) ++ CurationStream.traffic

  val FactSchema = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_shipday", IntegerType),
    StructField("qty", DecimalType(12, 4)),
    StructField("sales", DecimalType(18, 4))))

  /** Generation happens in the constructor, so the timed set-up
    * includes it. */
  type Key = (Long, Int)
  sealed trait Op { def name: String }
  final case class Upserts(name: String, rows: Seq[Row]) extends Op
  final case class Deletes(name: String, keys: Seq[Key]) extends Op

  /** One query of the mix: its kind and seeded parameter. */
  final case class Instance(kind: String, p: Int)

  def run(ctx: Ctx, trace: Boolean): Outcome = {
    ctx.spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
    ctx.spark.conf.set("spark.sql.catalog.g.warehouse",
      ctx.work.resolve("wh").toString)
    val t0 = ctx.now()
    val last = ctx.span("setup") { val o = new OlapRead(ctx); o.setup(); o }
    val out = last.measure(ctx.now() - t0)
    if (!trace) out
    else {
      // the index layers whose build alone would not fit an untraced
      // run: traced once here
      val (recall, annOk) = last.annProbe()
      val extra = ("ann_recall_at_10" -> annOk) +: CurationStream.probe(ctx)
      out.copy(metrics = out.metrics + ("ann.recall_at_10" -> recall),
        attempted = out.attempted + extra.size,
        failed = out.failed + extra.count(!_._2),
        checks = out.checks ++ extra)
    }
  }
}

final class OlapRead(ctx: Ctx) {
  import OlapRead._

  private def spark = ctx.spark
  private val rnd = new java.util.SplittableRandom(ctx.seed)
  private val wh = ctx.work.resolve("wh")
  private val sales = wh.resolve("wh/sales").toString
  private val part = wh.resolve("wh/part").toString
  private val supp = wh.resolve("wh/supplier").toString
  private val emb = wh.resolve("lake/embeddings").toString
  private val annIdx = wh.resolve("lake/ann_index").toString
  private val staging = ctx.work.resolve("staging")
  private val loop = new OpenLoop(staging, ctx.work.resolve("inbox"))

  /** Everything the generator decided, pre-materialized. */
  private val base: IndexedSeq[Row] = {
    val r = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    for (o <- 1 to Orders; l <- 1 to 4) yield factRow(r, o.toLong, l)
  }
  private def factRow(r: java.util.SplittableRandom, o: Long, l: Int): Row = {
    val qty = java.math.BigDecimal.valueOf(1 + r.nextInt(50)).setScale(4)
    val price = java.math.BigDecimal.valueOf(100000L + r.nextLong(9900000L), 2)
      .setScale(4)
    Row(o, l, 1L + r.nextInt(Parts), 1L + r.nextInt(Suppliers),
      r.nextInt(365), qty, qty.multiply(price).setScale(4))
  }
  private val partRows = (1 to Parts).map(k => Row(k.toLong,
    s"Brand#${1 + k % 5}${1 + k % 7 % 5}", Seq("STEEL", "BRASS", "TIN",
      "COPPER", "NICKEL")(k % 5), 1 + k % 50))
  private val suppRows = (1 to Suppliers).map(k => Row(k.toLong, k % Nations))

  /** Replayable fact state: the debt and trickle operations in order. */

  private val live = mutable.LinkedHashMap.empty[Key, Row]
  base.foreach(r => live((r.getLong(0), r.getInt(1))) = r)
  private val liveKeys = mutable.ArrayBuffer.from(live.keys)
  private var opSeq = 0
  private def upserts(n: Int): Upserts = {
    opSeq += 1
    val rows = Seq.fill(n)(liveKeys(rnd.nextInt(liveKeys.size))).distinct
      .map { case (o, l) => factRow(rnd, o, l) }
    Upserts(s"op=$opSeq", rows)
  }
  private def deletes(n: Int): Deletes = {
    opSeq += 1
    Deletes(s"op=$opSeq",
      Seq.fill(n)(liveKeys(rnd.nextInt(liveKeys.size))).distinct)
  }
  private def applyOp(op: Op): Unit = op match {
    case Upserts(_, rows) => rows.foreach(r => live((r.getLong(0), r.getInt(1))) = r)
    case Deletes(_, keys) => keys.foreach { k => live.remove(k); liveKeys -= k }
  }
  private val ops: IndexedSeq[Op] = {
    val debt = IndexedSeq(upserts(DebtUpserts), deletes(DebtDeletes),
      upserts(DebtUpserts))
    debt.foreach(applyOp)
    val trickle = (0 until MaxTrickles).map { i =>
      val op = if (i % TrickleDeleteEvery == TrickleDeleteEvery - 1)
        deletes(TrickleDeletes) else upserts(TrickleUpserts)
      applyOp(op); op
    }
    val backlog = (1 to BacklogBatches).map { _ =>
      val op = upserts(BacklogUpserts); applyOp(op); op }
    debt ++ trickle ++ backlog
  }
  private val debtOps = 3
  private val backlogFrom = ops.size - BacklogBatches


  private val vecRows: Seq[Row] = {
    val r = new java.util.SplittableRandom(ctx.seed * 23 + 11)
    val centers = Array.fill(Centers, Dim)(r.nextDouble() * 2 - 1)
    (0 until Vectors).map { i =>
      val c = centers(r.nextInt(Centers))
      Row(i.toLong, c.map(x => (x + (r.nextDouble() - 0.5) * 0.6).toFloat).toSeq,
        i % 10)
    }
  }
  private val annProbeSets: IndexedSeq[Seq[Long]] = {
    val r = new java.util.SplittableRandom(ctx.seed * 37 + 17)
    IndexedSeq.fill(8)(Seq.fill(AnnProbes)(r.nextInt(Vectors).toLong).distinct)
  }

  private val mix: IndexedSeq[Instance] = {
    val r = new java.util.SplittableRandom(ctx.seed * 41 + 19)
    IndexedSeq.tabulate(Cycle.size * 8)(i => Cycle(i % Cycle.size)).map {
      case k @ "star_agg" => Instance(k, r.nextInt(300))
      case k @ "rollup" => Instance(k, 1 + r.nextInt(Suppliers - 20))
      case k @ "topk" => Instance(k, 1 + r.nextInt(Suppliers - 10))
      case k @ "lookup" => Instance(k, 1 + r.nextInt(Orders))
      case k => Instance(k, 1 + r.nextInt(Suppliers))
    }
  }

  private var baseVersion = 0

  private def sqlOf(q: Instance): String = q.kind match {
    case "star_agg" =>
      s"""SELECT p.p_brand, s.s_nationkey, count(*) AS n, sum(f.sales) AS rev
         |FROM g.wh.sales f JOIN g.wh.part p ON f.l_partkey = p.p_partkey
         |JOIN g.wh.supplier s ON f.l_suppkey = s.s_suppkey
         |WHERE f.l_shipday BETWEEN ${q.p} AND ${q.p + 60}
         |GROUP BY p.p_brand, s.s_nationkey""".stripMargin
    case "rollup" =>
      s"""SELECT p.p_type, p.p_size, count(*) AS n, sum(f.qty) AS q
         |FROM g.wh.sales f JOIN g.wh.part p ON f.l_partkey = p.p_partkey
         |WHERE f.l_suppkey BETWEEN ${q.p} AND ${q.p + 20}
         |GROUP BY ROLLUP(p.p_type, p.p_size)""".stripMargin
    case "topk" =>
      s"""SELECT l_suppkey, l_orderkey, l_linenumber, sales FROM (
         |  SELECT *, row_number() OVER (PARTITION BY l_suppkey
         |    ORDER BY sales DESC, l_orderkey, l_linenumber) AS rn
         |  FROM g.wh.sales WHERE l_suppkey BETWEEN ${q.p} AND ${q.p + 9})
         |WHERE rn <= 3""".stripMargin
    case "lookup" => s"SELECT * FROM g.wh.sales WHERE l_orderkey = ${q.p}"
    case _ =>
      s"""SELECT count(*) AS n, sum(sales) AS rev
         |FROM g.wh.sales VERSION AS OF $baseVersion
         |WHERE l_suppkey = ${q.p}""".stripMargin
  }

  /** The answer `q` must give over `fact` — computed in this process from
    * the generator's own rows, i.e. what a fully compacted table gives. */
  private def expected(q: Instance, fact: Iterable[Row]): Array[Row] = {
    def sum(xs: Iterable[java.math.BigDecimal]): java.math.BigDecimal =
      if (xs.isEmpty) null else xs.reduce(_ add _)
    val partOf = partRows.map(r => r.getLong(0) -> r).toMap
    q.kind match {
      case "star_agg" =>
        fact.filter(r => r.getInt(4) >= q.p && r.getInt(4) <= q.p + 60)
          .groupBy(r => (partOf(r.getLong(2)).getString(1),
            (r.getLong(3) % Nations).toInt))
          .map { case ((b, n), rs) => Row(b, n, rs.size.toLong,
            sum(rs.map(_.getDecimal(6)))) }.toArray
      case "rollup" =>
        val rs = fact.filter(r => r.getLong(3) >= q.p && r.getLong(3) <= q.p + 20)
          .map(r => (partOf(r.getLong(2)), r.getDecimal(5)))
        def agg(key: (Any, Any), xs: Iterable[(Row, java.math.BigDecimal)]) =
          Row(key._1, key._2, xs.size.toLong, sum(xs.map(_._2)))
        (rs.groupBy { case (p, _) => (p.getString(2), p.getInt(3)) }
          .map { case (k, xs) => agg(k, xs) } ++
          rs.groupBy(_._1.getString(2)).map { case (t, xs) => agg((t, null), xs) } ++
          Seq(agg((null, null), rs))).toArray
      case "topk" =>
        fact.filter(r => r.getLong(3) >= q.p && r.getLong(3) <= q.p + 9)
          .groupBy(_.getLong(3)).values.flatMap(_.toSeq.sortWith { (a, b) =>
            val c = a.getDecimal(6).compareTo(b.getDecimal(6))
            if (c != 0) c > 0
            else if (a.getLong(0) != b.getLong(0)) a.getLong(0) < b.getLong(0)
            else a.getInt(1) < b.getInt(1)
          }.take(3)).map(r => Row(r.getLong(3), r.getLong(0), r.getInt(1),
            r.getDecimal(6))).toArray
      case "lookup" => fact.filter(_.getLong(0) == q.p).toArray
      case _ =>
        val rs = base.filter(_.getLong(3) == q.p)
        Array(Row(rs.size.toLong, sum(rs.map(_.getDecimal(6)))))
    }
  }

  private def write(rows: Seq[Row], schema: StructType, path: String): Unit =
    Sources.commitVersion(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).coalesce(1), path)

  private def applyTo(table: String, op: Op): Unit = op match {
    case Upserts(name, _) =>
      ctx.span("sources.merge_eq") {
        Sources.mergeVersionEq(spark, table,
          Sources.readParquet(spark, loop.path(name)).withColumn("op", lit("upsert")),
          Seq("l_orderkey", "l_linenumber"))
      }
    case Deletes(name, _) =>
      ctx.span("sources.delete_dv") {
        val keys = Sources.readParquet(spark, loop.path(name)).collect()
          .map(r => (r.getLong(0), r.getInt(1)))
        Sources.deleteWhereDv(spark, table,
          (col("l_orderkey") * 8 + col("l_linenumber"))
            .isin(keys.map { case (o, l) => o * 8 + l }: _*))
      }
  }

  def setup(): Unit = {
    ctx.span("setup.stage") {
      // one partitioned write per op type; partition `op=<n>` is op n
      def stage(rows: Seq[Row], schema: StructType): Unit =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            schema.add("op", IntegerType))
          .repartition(col("op")).write.mode("append").partitionBy("op")
          .parquet(staging.toString)
      val n = (o: Op) => o.name.stripPrefix("op=").toInt
      stage(ops.collect { case u: Upserts => u.rows.map(r =>
        Row.fromSeq(r.toSeq :+ n(u))) }.flatten, FactSchema)
      stage(ops.collect { case d: Deletes => d.keys.map { case (o, l) =>
        Row(o, l, n(d)) } }.flatten, StructType(FactSchema.fields.take(2)))
    }
    ctx.span("setup.warehouse") {
      Sources.createEmptyTable(sales, FactSchema)
      Sources.writeTableProperties(sales,
        Map("stats.columns" -> "l_orderkey,l_suppkey,l_shipday"))
      base.grouped(base.size / BaseCommits).foreach(g => write(g, FactSchema, sales))
      baseVersion = Sources.latestVersion(sales)
      write(partRows, StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType))), part)
      write(suppRows, StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_nationkey", IntegerType))), supp)
      val now = ctx.now()
      loop.release(ops.take(debtOps).map(o => o.name -> now)).join()
      ops.take(debtOps).foreach(applyTo(sales, _))
    }
    // one query of each kind, so the timed loop starts warm
    ctx.span("setup.warmup") {
      Cycle.distinct.foreach(k => spark.sql(sqlOf(mix.find(_.kind == k).get)).collect())
    }
  }

  /** Walk an executed plan (through adaptive stages) for scan file counts. */
  private def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case b: BatchScanExec => b.inputPartitions.collect {
      case f: FilePartition => f.files.length.toLong }.sum
    case p => p.metrics.get("numFiles").map(_.value).getOrElse(0L) +
      p.children.map(filesRead).sum + p.subqueries.map(filesRead).sum
  }

  private def canon(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map {
      case d: Double => f"$d%.6f"
      case null => "null"
      case x => x.toString
    }.mkString("|")).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private var filesScanned = 0L
  private var filesLive = 0L
  private var sqlIssued = 0L
  private var rowsOut = 0L

  /** Issue one query on the serving side; return its answer rows. */
  private def issue(q: Instance): Array[Row] = {
      val kind = q.kind
      val df = ctx.span("catalog.plan") {
        val d = spark.sql(sqlOf(q)); d.queryExecution.executedPlan; d }
      val rows = ctx.span(s"read.$kind") { df.collect() }
      filesScanned += filesRead(df.queryExecution.executedPlan)
      sqlIssued += 1
      rowsOut += rows.length
      rows
  }

  def measure(setupS: Double): Outcome = {
    filesLive = Common.liveFiles(spark, sales)

    val fresh = mutable.ArrayBuffer.empty[Double]
    val latency = mutable.ArrayBuffer.empty[Double]
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val freshByOp = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var failedOps = 0
    val applied = mutable.ArrayBuffer.from(ops.take(debtOps))
    var qi = 0
    // (query, operations applied when it ran, canonical answer)
    val answers = mutable.ArrayBuffer.empty[(Instance, Int, String)]
    Common.settleHeap()
    val gc0 = Common.gcSeconds()
    val end = ctx.now() + ctx.seconds
    // at least one full kind cycle, so every run times every kind
    while (ctx.now() < end || qi < Cycle.size) {
      // a trickle batch lands after every TrickleEvery-th query; the
      // client applies it before its next query
      if (qi > 0 && qi % TrickleEvery == 0 && applied.size < backlogFrom) {
        val op = ops(applied.size)
        ctx.tracer.traceId = op.name
        val due = ctx.now()
        loop.release(Seq(op.name -> due)).join()
        try {
          applyTo(sales, op)
          fresh += ctx.now() - due
          freshByOp.getOrElseUpdate(op.getClass.getSimpleName.toLowerCase,
            mutable.ArrayBuffer.empty) += fresh.last
        } catch { case e: Exception =>
          System.err.println(s"[olap_read] ${op.name} failed: $e")
          failedOps += 1
        }
        applied += op
      }
      val q = mix(qi % mix.size)
      ctx.tracer.traceId = s"q$qi"
      qi += 1
      val qt0 = ctx.now()
      try {
        val rows = issue(q)
        val dt = ctx.now() - qt0
        answers += ((q, applied.size, canon(rows)))
        latency += dt
        byKind.getOrElseUpdate(q.kind, mutable.ArrayBuffer.empty) += dt
      } catch { case e: Exception =>
        System.err.println(s"[olap_read] ${q.kind} failed: $e")
        failedOps += 1
      }
    }
    val lag = loop.lagSeconds

    // the backlog: CDC batches that queued up while the consumer was
    // away, released at once and applied in order
    val backlog = ops.drop(backlogFrom)
    val due = ctx.now()
    loop.release(backlog.map(_.name -> due)).join()
    ctx.tracer.traceId = "backlog"
    // rows/s per backlog batch, median: one slow batch does not move it
    val catchup = try {
      var t = due
      Stats.median(backlog.collect { case u: Upserts =>
        applyTo(sales, u)
        val t1 = ctx.now()
        val rate = u.rows.size / (t1 - t)
        t = t1
        rate
      })
    } catch { case e: Exception =>
      System.err.println(s"[olap_read] backlog failed: $e"); failedOps += 1; 0.0
    }
    val gcS = Common.gcSeconds() - gc0

    val checks = gate(answers.toSeq)
    val inputBytes = Common.dirBytes(ctx.work.resolve("inbox")) + rawBytes
    val tables = Seq(sales, part, supp)
    val stored = tables.map(t => Common.liveBytes(spark, t)).sum
    val v = Sources.latestVersion(sales)
    val lat = latency.sorted.toSeq
    val fr = fresh.sorted.toSeq
    val metrics = Map[String, Double](
      "setup_s" -> setupS,
      "freshness_s_p50" -> Stats.quantile(fr, 0.5),
      "freshness_s_p90" -> Stats.quantile(fr, 0.9),
      "catchup_rows_per_s" -> catchup,
      "query_s_p50" -> Stats.quantile(lat, 0.5),
      "query_s_p90" -> Stats.quantile(lat, 0.9),
      "stored_bytes_per_input_byte" -> stored.toDouble / inputBytes,
      "generator_lag_s" -> lag,
      "freshness.samples" -> fr.size,
      "query.samples" -> lat.size,
      "jvm.gc_s" -> gcS,
      "sources.pending_eq" -> Sources.eqOf(sales, v).size,
      "sources.dv_rows" -> Sources.dvRowCount(sales, v).toDouble,
      "sources.files_live" -> tables.map(t => Common.liveFiles(spark, t)).sum,
      "sources.stored_mb" -> stored / 1e6,
      "scan.files_read_frac" -> (if (filesLive == 0 || sqlIssued == 0) 0.0
        else filesScanned.toDouble / (filesLive * sqlIssued)),
      "scan.rows_out" -> rowsOut.toDouble) ++
      byKind.map { case (k, xs) => s"read.$k.latency_s_p50" -> Stats.median(xs.toSeq) } ++
      freshByOp.map { case (k, xs) => s"freshness.$k.s_p50" -> Stats.median(xs.toSeq) }
    val attempted = latency.size + failedOps + fresh.size + 1 + checks.size
    val failed = failedOps + checks.count(!_._2)
    Outcome(metrics, attempted, failed, checks)
  }


  /** Generated input bytes: the staged operations plus the base tables'
    * rows as the generator wrote them (measured as a parquet copy). */
  private lazy val rawBytes: Long = {
    val p = ctx.work.resolve("raw")
    spark.createDataFrame(java.util.Arrays.asList(base: _*), FactSchema)
      .coalesce(1).write.parquet(p.resolve("fact").toString)
    Common.dirBytes(p)
  }

  /** In-run correctness: every answer the client got equals the
    * answer over the generator's own replay of the fact table at the
    * moment it ran; one check per query kind. */
  private def gate(answers: Seq[(Instance, Int, String)]): Seq[(String, Boolean)] = {
    val state = mutable.LinkedHashMap.empty[Key, Row]
    base.foreach(r => state((r.getLong(0), r.getInt(1))) = r)
    var at = 0
    val ok = answers.map { case (q, k, got) =>
      ops.slice(at, k).foreach {
        case Upserts(_, rows) => rows.foreach(r => state((r.getLong(0), r.getInt(1))) = r)
        case Deletes(_, keys) => keys.foreach(state.remove)
      }
      at = k
      val good = got == canon(expected(q, state.values))
      if (!good) System.err.println(s"[olap_read] ${q.kind}(${q.p}) MISMATCH")
      q.kind -> good
    }
    ok.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) => k -> xs.forall(_._2) }
  }

  /** Build the AnnIndex over the seeded vectors, time searches from it,
    * and measure recall@10: the share of probes whose returned nearest
    * neighbour is among the brute-force cosine top 10. Returns (recall,
    * recall above the floor). */
  def annProbe(): (Double, Boolean) = {
    ctx.tracer.traceId = "ann-probe"
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    ctx.span("ann_index.build") {
      write(vecRows, vecSchema, emb)
      AnnIndex.init(spark, emb, annIdx)
      AnnIndex.maintainQuery(spark, emb, annIdx, wh.resolve("ck/ann").toString)
        .awaitTermination()
    }
    val embDf = Sources.readVersion(spark, emb)
    annProbeSets.take(3).foreach(ps => ctx.span("ann_index.search") {
      AnnIndex.searchFromIndex(spark, embDf, annIdx, col("vec_id").isin(ps: _*))
        .collect()
    })
    val probes = annProbeSets.flatten.distinct
    val found = AnnIndex.searchFromIndex(spark, embDf, annIdx,
      col("vec_id").isin(probes: _*)).select("a_id", "b_id")
    val truth = embDf.filter(col("vec_id").isin(probes: _*))
      .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .crossJoin(embDf.select(col("vec_id").as("b_id"), col("embedding").as("eb")))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("sim", SimilarityOps.cosine(col("ea"), col("eb")))
      .withColumn("rn", row_number().over(Window.partitionBy("a_id")
        .orderBy(col("sim").desc, col("b_id"))))
      .filter(col("rn") <= 10).select("a_id", "b_id")
    val recall = found.join(truth, Seq("a_id", "b_id")).count().toDouble / probes.size
    (recall, recall >= RecallFloor)
  }
}
