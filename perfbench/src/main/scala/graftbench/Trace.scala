package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Out-of-program tracing. Every public engine call the workloads make
  * goes through [[span]]; with tracing off that is a bare call. With it
  * on, each span records its wall interval, its parent (the span open
  * on the same thread) and the trace id of the batch or query it serves,
  * and tags the Spark jobs it starts through a benchmark-owned local
  * property — not `spark.job.description`, which the engine rewrites
  * inside its own calls. Streaming drains inherit the property into
  * their execution thread because the query is started inside the span.
  *
  * A SparkListener attributes jobs, task time, shuffle and output bytes
  * and failed tasks to the tagged span; a StreamingQueryListener keeps
  * each drain's `durationMs` breakdown. Everything stays in memory and
  * is summarised (and optionally written out) once, at the end. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private var nextId = 0L
  @volatile var traceId: String = "setup"

  // listener state, written on the listener-bus thread
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobs = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val work = mutable.Map.empty[Long, Work]
  private val progress = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Long]]]
  private val queryName = mutable.Map.empty[String, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Prop))).map(_.toLong)
      sid.foreach { s =>
        jobSpan(e.jobId) = s
        jobStart(e.jobId) = System.nanoTime()
        e.stageIds.foreach(st => stageSpan(st) = s)
        work.getOrElseUpdate(s, new Work).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { s =>
        val t0 = jobStart.remove(e.jobId).getOrElse(System.nanoTime())
        jobs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) +=
          (t0 -> System.nanoTime())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val w = work.getOrElseUpdate(s, new Work)
        val m = e.taskMetrics
        if (m != null) {
          w.taskNs += m.executorRunTime * 1000000L
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          w.writtenBytes += m.outputMetrics.bytesWritten
          w.rowsRead += m.inputMetrics.recordsRead
        }
        if (e.taskInfo != null && (e.taskInfo.failed || e.taskInfo.killed))
          w.failedTasks += 1
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val d = e.progress.durationMs
        val m = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala
          .map { case (k, v) => k -> v.longValue }.toMap
        progress.getOrElseUpdate(e.progress.id.toString,
          mutable.ArrayBuffer.empty) += m
      }
  }

  if (on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as span `name` (`<layer>.<call>`). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.get().headOption
      val s = synchronized {
        nextId += 1
        val sp = Span(nextId, parent.map(_.id).getOrElse(0L), traceId,
          name, System.nanoTime())
        spans += sp
        sp
      }
      open.set(s :: open.get())
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.t1 = System.nanoTime()
        open.set(open.get().tail)
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Name the streaming query a drain started, so its progress events
    * land under the drain's span name. */
  def drainStarted(name: String, queryId: java.util.UUID): Unit =
    if (on) synchronized { queryName(queryId.toString) = name }

  /** Per-span-name summary: `<name>.<field>` → value, plus the stream
    * breakdown over every drain. */
  def summary(): Map[String, Double] = {
    if (!on) return Map.empty
    if (!sc.isStopped) BenchBridge.drainListeners(sc)
    synchronized {
      val children = spans.groupBy(_.parent)
      val out = mutable.Map.empty[String, Double]
      spans.filter(_.t1 > 0).groupBy(_.name).foreach { case (name, ss) =>
        val durs = ss.map(s => (s.t1 - s.t0) / 1e9).sorted.toSeq
        var self = 0.0; var driver = 0.0
        val w = new Work
        ss.foreach { s =>
          val kids = children.getOrElse(s.id, Nil).map(k => (k.t0, k.t1))
          val selfS = (s.t1 - s.t0 - covered(kids.toSeq, s.t0, s.t1)) / 1e9
          self += selfS
          val js = jobs.getOrElse(s.id, mutable.ArrayBuffer.empty).toSeq
          driver += math.max(0.0, selfS - covered(js, s.t0, s.t1) / 1e9)
          work.get(s.id).foreach(w.add)
        }
        out(s"$name.calls") = ss.size
        out(s"$name.s_p50") = Stats.quantile(durs, 0.5)
        out(s"$name.s_total") = durs.sum
        out(s"$name.self_s") = self
        out(s"$name.jobs") = w.jobs
        out(s"$name.task_s") = w.taskNs / 1e9
        out(s"$name.shuffle_mb") = w.shuffleBytes / 1e6
        out(s"$name.written_mb") = w.writtenBytes / 1e6
        out(s"$name.rows_read") = w.rowsRead.toDouble
        out(s"$name.driver_s") = driver
        out(s"$name.failed") = ss.count(_.failed) + w.failedTasks
      }
      val prog = progress.toSeq.flatMap { case (qid, ps) =>
        if (queryName.contains(qid)) ps.toSeq else Nil }
      def med(k: String): Double =
        Stats.quantile(prog.map(_.getOrElse(k, 0L).toDouble).sorted, 0.5)
      out("stream.offset_ms") = med("latestOffset")
      out("stream.plan_ms") = med("queryPlanning")
      out("stream.add_batch_ms") = med("addBatch")
      out("stream.wal_ms") = prog.map(p => (p.getOrElse("walCommit", 0L) +
        p.getOrElse("commitOffsets", 0L)).toDouble).sorted match {
        case xs => Stats.quantile(xs, 0.5) }
      out("trace.spans") = spans.size
      out.toMap
    }
  }

  /** Spans as JSON lines (one object each), for offline inspection. */
  def writeSpans(path: java.nio.file.Path): Unit = if (on) synchronized {
    val lines = spans.filter(_.t1 > 0).map { s =>
      val w = work.getOrElse(s.id, new Work)
      s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        s""""t0_ns":${s.t0},"t1_ns":${s.t1},"jobs":${w.jobs},""" +
        s""""task_s":${w.taskNs / 1e9},"failed":${s.failed}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  def close(): Unit = if (on && !sc.isStopped) {
    BenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** The benchmark's own job tag. */
  val Prop = "graftbench.span"

  final case class Span(id: Long, parent: Long, trace: String, name: String,
      t0: Long, var t1: Long = 0L, var failed: Boolean = false)

  final class Work {
    var jobs = 0L; var taskNs = 0L; var shuffleBytes = 0L
    var writtenBytes = 0L; var rowsRead = 0L; var failedTasks = 0L
    def add(o: Work): Unit = {
      jobs += o.jobs; taskNs += o.taskNs; shuffleBytes += o.shuffleBytes
      writtenBytes += o.writtenBytes; rowsRead += o.rowsRead
      failedTasks += o.failedTasks
    }
  }

  /** Nanoseconds of [lo, hi] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }
}
