package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources
import graft.streaming.MaterializedView

/** `etl_stream` — the paper's near-real-time warehouse loader.
  *
  * Two seeded open-loop streams arrive as in the reference: transactions
  * (lineitem-shaped, some ids dirty, some re-sending or correcting an
  * earlier (order, line) key) and part master data (every price
  * `$`-prefixed), each tuple after the reference's uniform 0.5–1.5 s
  * sleep, time-compressed [[EtlStream.SpeedUp]] times. Transactions are
  * released every [[EtlStream.PeriodS]]; master data is released a full
  * 100-tuple master buffer at a time. Cycles run back to back, each
  * over what has arrived when it starts: q02 clean + HyperJoin enrich
  * (broadcast equi-join to the part head, exact decimal sales), append
  * to the transaction log, upsert of the keyed fact (current state per
  * key) by equality-delete merge, merge of the cleaned master data into
  * `part`, then the star view drain over the log (fact feed, then
  * dimension feed) and the per-supplier aggregate view drain. An
  * analyst dashboard (three panels) is refreshed after the stream; its
  * revenue panel reads the keyed fact, paying its pending deletes on
  * read. A final backlog of both streams released at once measures
  * catch-up throughput; its cycle ends with the purge and compaction an
  * operator runs after a bulk load.
  *
  * Why: small batches make the per-drain fixed cost (`mv`, `cdf`) set
  * freshness; the backlog makes per-row enrich + write cost (`sources`)
  * set throughput. */
object EtlStream {
  // Traffic. Recorded from the reference (SURVEY.md §1.1 and §6,
  // FIXTURES.md §A): each producer sleeps a uniform 0.5–1.5 s between
  // tuples, both streams at the same rate; the master buffer holds 100
  // tuples; every master-data price carries a `$` prefix; transaction
  // ids may be non-numeric (the regex guard of the q02 clean).
  val ArrivalMinS = 0.5
  val ArrivalMaxS = 1.5
  val MasterBufferRows = 100
  // Chosen, not recorded: the time compression (100 tuples/s per
  // stream, two orders of magnitude over the reference), the release
  // period (100 transaction batches per 3 s run), the dirty and re-send
  // shares, and the table sizes.
  val SpeedUp = 100.0
  val PeriodS = 0.03
  val DirtyShare = 0.03
  val ResendShare = 0.10
  val Parts = 2000
  val Suppliers = 100
  val HistoryRows = 5000
  val BacklogRows = 3000
  val DashboardRefreshes = 8

  val RawSchema = StructType(Seq(
    StructField("ev", LongType, nullable = false),
    StructField("l_orderkey", StringType),
    StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", StringType)))

  /** Master data as it arrives: `seq` orders the stream, prices are
    * `$`-prefixed text. */
  val MasterSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("p_partkey", LongType, nullable = false),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_retailprice", StringType),
    StructField("p_size", IntegerType)))

  def traffic: Map[String, Any] = Map(
    "tuples_per_s_per_stream" -> 2 * SpeedUp / (ArrivalMinS + ArrivalMaxS),
    "arrival_s" -> s"uniform $ArrivalMinS-$ArrivalMaxS / $SpeedUp",
    "period_s" -> PeriodS, "master_update_rows" -> MasterBufferRows,
    "dirty_share" -> DirtyShare, "dollar_master_price_share" -> 1.0,
    "resend_share" -> ResendShare, "history_rows" -> HistoryRows,
    "backlog_rows" -> BacklogRows, "parts" -> Parts,
    "dashboard_refreshes" -> DashboardRefreshes)

  /** q02 clean + q03 HyperJoin enrich against the part head. */
  def enrich(raw: DataFrame, part: DataFrame): DataFrame =
    raw.filter(col("l_orderkey").rlike("^[0-9]+$"))
      .select(col("ev"), col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(12,4)").as("qty"),
        col("l_extendedprice").cast("decimal(12,4)").as("price"))
      .join(broadcast(part.select(col("p_partkey"),
        col("p_name").as("item_name"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("ev"), col("l_orderkey"), col("l_linenumber"),
        col("p_partkey"), col("l_suppkey"), col("qty"), col("price"),
        (col("price") * col("qty")).cast("decimal(18,4)").as("sales"),
        col("item_name"))

  /** q02 clean of master data: strip the currency sign, keep the last
    * tuple per part. */
  def cleanMaster(m: DataFrame): DataFrame =
    m.withColumn("__rn", row_number().over(
        Window.partitionBy("p_partkey").orderBy(col("seq").desc)))
      .filter(col("__rn") === 1)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        regexp_replace(col("p_retailprice"), "[$]", "")
          .cast("decimal(12,4)").as("p_retailprice"), col("p_size"))

  /** Last event per (order, line) key. */
  def lastPerKey(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy("l_orderkey", "l_linenumber")
          .orderBy(col("ev").desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** The generated inputs of one run. Transaction batches by index (0 =
    * the history load, 1..steady = the stream, steady + 1 = the backlog)
    * with the offset of each stream batch's due time from the stream's
    * start; master updates by index (0 = the initial part master, loaded
    * in set-up) with their due offsets (the backlog's updates are due
    * with it, offset NaN). */
  final case class Inputs(batches: IndexedSeq[Seq[Row]],
      batchDue: IndexedSeq[Double], master: IndexedSeq[Seq[Row]],
      masterDue: IndexedSeq[Double])

  def generate(seed: Long, steady: Int): Inputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val brands = (1 to 5).flatMap(a => (1 to 5).map(b => s"Brand#$a$b"))
    def gap(): Double =
      (ArrivalMinS + rnd.nextDouble() * (ArrivalMaxS - ArrivalMinS)) / SpeedUp
    var seq = 0L
    def part(k: Long): Row = {
      seq += 1
      Row(seq, k, s"part $k", brands(rnd.nextInt(brands.size)),
        "$" + java.math.BigDecimal.valueOf(90000L + rnd.nextLong(110000L), 2),
        1 + rnd.nextInt(50))
    }
    var ev = 0L
    var nextOrder = 1L
    var nextLine = 1
    val keys = mutable.ArrayBuffer.empty[(Long, Int)]
    def row(dirtyOk: Boolean): Row = {
      ev += 1
      val (ok, ln) =
        if (keys.nonEmpty && dirtyOk && rnd.nextDouble() < ResendShare)
          keys(rnd.nextInt(keys.size))
        else {
          val k = (nextOrder, nextLine)
          nextLine += 1
          if (nextLine > 4) { nextLine = 1; nextOrder += 1 }
          keys += k
          k
        }
      val okStr =
        if (dirtyOk && rnd.nextDouble() < DirtyShare) s"x$ok" else ok.toString
      Row(ev, okStr, ln, 1L + rnd.nextInt(Parts), 1L + rnd.nextInt(Suppliers),
        1 + rnd.nextInt(50),
        java.math.BigDecimal.valueOf(100000L + rnd.nextLong(9900000L), 2)
          .toPlainString)
    }
    val part0 = (1 to Parts).map(k => part(k.toLong))
    val history = Seq.fill(HistoryRows)(row(dirtyOk = false))
    // transactions: batch i holds the tuples arriving in period i
    val span = steady * PeriodS
    val stream = IndexedSeq.fill(steady)(mutable.ArrayBuffer.empty[Row])
    var t = gap()
    while (t < span) {
      stream(math.min(steady - 1, (t / PeriodS).toInt)) += row(dirtyOk = true)
      t += gap()
    }
    val backlog = Seq.fill(BacklogRows)(row(dirtyOk = true))
    // master data: an update is due when its buffer fills; a buffer
    // still filling when the stream ends is never released
    val updates = mutable.ArrayBuffer.empty[(Seq[Row], Double)]
    t = gap()
    var buf = mutable.ArrayBuffer.empty[Row]
    while (t < span) {
      buf += part(1L + rnd.nextInt(Parts))
      if (buf.size == MasterBufferRows) {
        updates += (buf.toSeq -> t); buf = mutable.ArrayBuffer.empty
      }
      t += gap()
    }
    // the master data that queued up with the backlog, at the same rate
    val backlogMaster = Seq.fill(BacklogRows / MasterBufferRows)(
      Seq.fill(MasterBufferRows)(part(1L + rnd.nextInt(Parts))))
    Inputs((history +: stream.map(_.toSeq)) :+ backlog,
      (0.0 +: (1 to steady).map(_ * PeriodS)) :+ Double.NaN,
      (part0 +: updates.map(_._1).toIndexedSeq) ++ backlogMaster,
      (0.0 +: updates.map(_._2).toIndexedSeq) ++ backlogMaster.map(_ => Double.NaN))
  }

  def run(ctx: Ctx, trace: Boolean): Outcome =
    new EtlStream(ctx).run(trace)
}

final class EtlStream(ctx: Ctx) {
  import EtlStream._

  private def spark = ctx.spark
  private val steady = math.max(4, math.round(ctx.seconds / PeriodS).toInt)
  private val backlogIdx = steady + 1

  private def bname(i: Int) = s"batch=$i"
  private def mname(i: Int) = s"dim=$i"

  /** One set of tables, checkpoints and staged inputs. */
  final class Wh(val root: Path) {
    val log = root.resolve("wh/txn_log").toString
    val sales = root.resolve("wh/sales").toString
    val part = root.resolve("wh/part").toString
    val star = root.resolve("wh/star_view").toString
    val agg = root.resolve("wh/agg_view").toString
    def ck(n: String) = root.resolve(s"ck/$n").toString
    val staging = root.resolve("staging")
    val txn = new OpenLoop(staging.resolve("txn"), root.resolve("inbox/txn"))
    val master = new OpenLoop(staging.resolve("master"),
      root.resolve("inbox/master"))
    def tables = Seq(log, sales, part, star, agg)
    /** Master updates merged so far, in order. */
    val merged = mutable.ArrayBuffer.empty[Int]
  }

  /** Write every input as JSON lines, one directory per batch or
    * master update, the way a feed lands as files. */
  private def stage(w: Wh, in: Inputs): Unit = {
    def write(parts: IndexedSeq[Seq[Row]], schema: StructType, by: String,
        dir: Path): Unit = parts.zipWithIndex.foreach { case (rows, i) =>
      val d = Files.createDirectories(dir.resolve(s"$by=$i"))
      Files.write(d.resolve("part-0.json"),
        rows.map(Common.jsonLine(_, schema)).mkString("", "\n", "\n")
          .getBytes("UTF-8"))
    }
    write(in.batches, RawSchema, "batch", w.staging.resolve("txn"))
    write(in.master, MasterSchema, "dim", w.staging.resolve("master"))
  }

  private def readTxn(paths: String*): DataFrame =
    spark.read.schema(RawSchema).json(paths: _*)
  private def readMaster(paths: String*): DataFrame =
    spark.read.schema(MasterSchema).json(paths: _*)

  /** One ETL cycle over the released transaction batches `ids` and
    * every master update released when it starts. */
  private def cycle(w: Wh, ids: Seq[Int]): Unit = ctx.span("etl.cycle") {
    val dims = Iterator.from(w.merged.lastOption.getOrElse(0) + 1)
      .takeWhile(i => w.master.released(mname(i))).toSeq
    val all = spark.read.schema(RawSchema.add("batch", IntegerType))
      .json(w.txn.inbox.toString)
      .filter(col("batch").isin(ids: _*)).drop("batch")
    val enriched = enrich(all, Sources.readVersion(spark, w.part)).persist()
    try {
      ctx.span("sources.commit") { Sources.commitVersion(enriched, w.log) }
      ctx.span("sources.merge_eq") {
        Sources.mergeVersionEq(spark, w.sales,
          lastPerKey(enriched).withColumn("op", lit("upsert")),
          Seq("l_orderkey", "l_linenumber"))
      }
    } finally enriched.unpersist()
    if (dims.nonEmpty) {
      ctx.span("sources.merge") {
        Sources.mergeVersion(spark, w.part,
          cleanMaster(readMaster(dims.map(i => w.master.path(mname(i))): _*))
            .withColumn("op", lit("upsert")), "p_partkey")
      }
      w.merged ++= dims
    }
    ctx.drain("mv.fact_drain")(MaterializedView.maintainFactQuery(spark, w.log,
      w.part, "p_partkey", w.star, w.ck("fact")))
    ctx.drain("mv.dim_drain")(MaterializedView.maintainDimQuery(spark, w.part,
      "p_partkey", "ev", w.star, w.ck("dim")))
    ctx.drain("mv.agg_drain")(MaterializedView.maintainAggQuery(spark, w.log,
      "l_suppkey", "sales", w.agg, w.ck("agg")))
    // the operator purges and compacts the keyed fact after a bulk load
    if (ids.contains(backlogIdx)) {
      ctx.span("sources.purge_eq") { Sources.purgeEq(spark, w.sales) }
      ctx.span("sources.compact") {
        Sources.compactVersion(spark, w.sales, 50000L) }
    }
  }

  /** The analyst dashboard: current revenue per supplier off the keyed
    * fact (its pending deletes applied on read), units per brand off
    * the star view, event volume per supplier off the aggregate view. */
  private def dashboard(w: Wh): Seq[(String, () => DataFrame)] = Seq(
    "read.revenue" -> (() => Sources.readVersion(spark, w.sales)
      .groupBy("l_suppkey").agg(sum("sales").as("revenue"))
      .orderBy(col("revenue").desc, col("l_suppkey")).limit(10)),
    "read.brands" -> (() => Sources.readVersion(spark, w.star)
      .groupBy("p_brand").agg(sum("qty").as("units"), count(lit(1)).as("n"))),
    "read.volume" -> (() => Sources.readVersion(spark, w.agg)
      .orderBy(col("n_rows").desc, col("l_suppkey")).limit(10)))

  /** Set-up: generate and stage every input, create the tables and
    * views, load the history through one full cycle and read the
    * dashboard once. */
  private def setup(root: Path): (Wh, Inputs) = {
    val w = new Wh(root)
    val in = generate(ctx.seed, steady)
    ctx.span("setup.stage") { stage(w, in) }
    Sources.commitVersion(cleanMaster(readMaster(
      w.staging.resolve(s"master/${mname(0)}").toString)), w.part)
    val factSchema = enrich(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), RawSchema),
      Sources.readVersion(spark, w.part)).schema
    Sources.createEmptyTable(w.log, factSchema)
    Sources.createEmptyTable(w.sales, factSchema)
    MaterializedView.init(spark, w.log, w.part, "p_partkey", "ev", w.star)
    MaterializedView.initAgg(spark, w.log, "l_suppkey", "sales", w.agg)
    // the part load drains into the still-empty view first, so the
    // history cycle below is an ordinary cycle
    ctx.drain("mv.dim_drain")(MaterializedView.maintainDimQuery(spark, w.part,
      "p_partkey", "ev", w.star, w.ck("dim")))
    w.txn.release(Seq(bname(0) -> ctx.now())).join()
    cycle(w, Seq(0))
    dashboard(w).foreach(_._2().collect())
    (w, in)
  }

  def run(trace: Boolean): Outcome = {
    val t0Setup = ctx.now()
    val (w, in) = ctx.span("setup") { setup(ctx.work.resolve("etl")) }
    val setupS = ctx.now() - t0Setup
    val failedBatches = mutable.Set.empty[Int]
    val visible = mutable.Map.empty[Int, Double]
    val dues = mutable.Map.empty[Int, Double]

    def measuredCycle(ids: Seq[Int]): Unit = {
      ctx.tracer.traceId = s"b${ids.head}-${ids.last}"
      try {
        cycle(w, ids)
        val t = ctx.now()
        ids.foreach(i => visible(i) = t)
      } catch { case e: Exception =>
        System.err.println(s"[etl_stream] cycle $ids failed: $e")
        failedBatches ++= ids
      }
    }

    val gc0 = Common.gcSeconds()
    val t0 = ctx.now() + 0.2
    (1 to steady).foreach(i => dues(i) = t0 + in.batchDue(i))
    val steadyDims = (1 until in.master.size).filterNot(i => in.masterDue(i).isNaN)
    val gens = Seq(
      w.txn.release((1 to steady).map(i => bname(i) -> dues(i))),
      w.master.release(steadyDims.map(i => mname(i) -> (t0 + in.masterDue(i)))))
    val deadline = t0 + steady * PeriodS * 4 + 30
    val done = w.txn.drive(1, steady, bname, dues, deadline)(measuredCycle)
    gens.foreach(_.join(10000))
    val lag = math.max(w.txn.lagSeconds, w.master.lagSeconds)

    // the dashboard, read by the analyst after the stream; the first
    // refresh after the writes is a warm-up and is not timed
    var settleS = Common.settleHeap()
    val queryS = mutable.ArrayBuffer.empty[Double]
    var queriesFailed = 0
    try dashboard(w).foreach(_._2().collect())
    catch { case e: Exception =>
      System.err.println(s"[etl_stream] dashboard warm-up failed: $e")
      queriesFailed += 1
    }
    Seq.fill(DashboardRefreshes)(dashboard(w)).flatten.foreach {
      case (name, read) =>
        ctx.tracer.traceId = s"q${queryS.size + queriesFailed}"
        try {
          val q0 = ctx.now()
          ctx.span(name) { read().collect() }
          queryS += ctx.now() - q0
        } catch { case e: Exception =>
          System.err.println(s"[etl_stream] $name failed: $e")
          queriesFailed += 1
        }
    }

    if (trace) snapshot(w)
    settleS += Common.settleHeap()
    val (catchupRate, catchDone) = catchup(w, in, measuredCycle, visible, dues)
    val gcS = Common.gcSeconds() - gc0 - settleS

    val consumed = 0 +: (done ++ catchDone)
    val fresh = (1 to steady).filter(i => visible.contains(i) &&
      !failedBatches(i)).map(i => visible(i) - dues(i)).sorted
    val checks = gate(w, consumed.filterNot(failedBatches))
    val inputBytes = Common.dirBytes(w.root.resolve("inbox")) +
      Common.dirBytes(w.staging.resolve(s"master/${mname(0)}"))
    val stored = w.tables.map(t => Common.liveBytes(spark, t)).sum
    val salesV = Sources.latestVersion(w.sales)
    val metrics = Map[String, Double](
      "setup_s" -> setupS,
      "freshness_s_p50" -> Stats.quantile(fresh, 0.5),
      "freshness_s_p90" -> Stats.quantile(fresh, 0.9),
      "catchup_rows_per_s" -> catchupRate,
      "query_s_p50" -> Stats.quantile(queryS.sorted.toSeq, 0.5),
      "query_s_p90" -> Stats.quantile(queryS.sorted.toSeq, 0.9),
      "stored_bytes_per_input_byte" -> stored.toDouble / inputBytes,
      "generator_lag_s" -> lag,
      "freshness.samples" -> fresh.size,
      "query.samples" -> queryS.size,
      "jvm.gc_s" -> gcS,
      "sources.pending_eq" -> Sources.eqOf(w.sales, salesV).size,
      "sources.dv_rows" -> Sources.dvRowCount(w.sales, salesV).toDouble,
      "sources.files_live" -> w.tables.map(t => Common.liveFiles(spark, t)).sum,
      "sources.stored_mb" -> stored / 1e6)
    val attempted = steady + 1 + queryS.size + queriesFailed + checks.size
    val failed = (1 to steady).count(i => failedBatches(i) ||
      !visible.contains(i)) + (if (catchupRate > 0) 0 else 1) +
      queriesFailed + checks.count(!_._2)
    Outcome(metrics, attempted, failed, checks,
      after = () => if (trace) baseline1Core(w, in) else Map.empty)
  }

  /** Release the backlog of both streams at once and time it until
    * visible in the last view: transaction rows per second. */
  private def catchup(w: Wh, in: Inputs, cycleFn: Seq[Int] => Unit,
      visible: mutable.Map[Int, Double], dues: mutable.Map[Int, Double])
      : (Double, Seq[Int]) = {
    val due = ctx.now()
    dues(backlogIdx) = due
    val dims = (1 until in.master.size).filter(i => in.masterDue(i).isNaN)
    w.master.release(dims.map(i => mname(i) -> due)).join()
    w.txn.release(Seq(bname(backlogIdx) -> due)).join()
    val done = w.txn.drive(backlogIdx, backlogIdx, bname, _ => due,
      due + 120)(cycleFn)
    val rate = visible.get(backlogIdx)
      .map(t => in.batches(backlogIdx).size / (t - due)).getOrElse(0.0)
    (rate, done)
  }

  /** The pre-catch-up copy and the master updates merged into it. */
  private var snapshotDir: Option[(Path, Seq[Int])] = None

  /** Copy the tables as they stand before the catch-up (traced runs
    * only), so the single-core baseline replays the same catch-up. */
  private def snapshot(w: Wh): Unit = {
    val src = w.root
    val dst = src.resolveSibling(src.getFileName.toString + "_snap")
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
    snapshotDir = Some(dst -> w.merged.toSeq)
  }

  /** The stream-processing single-threaded baseline: the same catch-up
    * on the same tables, in a local[1] session. Traced runs only. */
  private def baseline1Core(w: Wh, in: Inputs): Map[String, Double] =
    snapshotDir.map { case (snap, merged) =>
      Main.restartSession(ctx, "local[1]")
      Common.deleteTree(w.root)
      Files.move(snap, w.root)
      val w1 = new Wh(w.root)
      w1.merged ++= merged
      val vis = mutable.Map.empty[Int, Double]
      val (rate, _) = catchup(w1, in, ids => {
        ctx.tracer.traceId = "baseline-1core"
        cycle(w1, ids)
        val t = ctx.now(); ids.foreach(i => vis(i) = t)
      }, vis, mutable.Map.empty)
      Map("baseline_1core.catchup_rows_per_s" -> rate)
    }.getOrElse(Map.empty)

  /** In-run correctness: the final log, keyed fact, star view and
    * aggregate view equal a from-scratch batch recompute over the same
    * generated inputs. */
  private def gate(w: Wh, consumed: Seq[Int]): Seq[(String, Boolean)] = {
    val raw = readTxn(consumed.map(i => w.txn.path(bname(i))): _*)
    val partFinal = cleanMaster(readMaster(
      (w.staging.resolve(s"master/${mname(0)}").toString +:
        w.merged.toSeq.map(i => w.master.path(mname(i)))): _*))
    val expLog = enrich(raw, partFinal).cache()
    val expSales = lastPerKey(expLog)
    val expStar = expLog.join(partFinal, "p_partkey")
    val expAgg = expLog.groupBy("l_suppkey").agg(
      count(lit(1)).as("n_rows"),
      sum(col("sales").cast("decimal(28,4)")).cast("decimal(28,4)").as("sum_val"))
    def eq(name: String, got: DataFrame, exp: DataFrame): (String, Boolean) = {
      val ok = Common.contentHash(got) == Common.contentHash(exp)
      if (!ok) System.err.println(s"[etl_stream] gate $name MISMATCH")
      name -> ok
    }
    try Seq(
      eq("txn_log", Sources.readVersion(spark, w.log), expLog),
      eq("sales", Sources.readVersion(spark, w.sales), expSales),
      eq("part", Sources.readVersion(spark, w.part), partFinal),
      eq("star_view", Sources.readVersion(spark, w.star), expStar),
      eq("agg_view", Sources.readVersion(spark, w.agg), expAgg))
    finally expLog.unpersist()
  }
}
