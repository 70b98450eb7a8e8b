package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** The open-loop load generator. Every input was written to `staging`
  * during set-up; at run time a separate thread only renames each
  * directory into `inbox` when it falls due, so generation costs the
  * system under test nothing and the schedule never slows when the
  * system does. The consumer times each batch from its due time, not
  * from when it got to it, so a stall is charged to every batch queued
  * behind it. */
final class OpenLoop(staging: Path, val inbox: Path) {
  Files.createDirectories(inbox)

  private val lags = mutable.ArrayBuffer.empty[Double]

  /** Release `items` (directory name under `staging`, absolute due time
    * in seconds on the `System.nanoTime` clock), in order, on a
    * generator thread. */
  def release(items: Seq[(String, Double)]): Thread = {
    val t = new Thread(() => items.foreach { case (name, due) =>
      OpenLoop.sleepUntil(due)
      Files.move(staging.resolve(name), inbox.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
      lags.synchronized { lags += System.nanoTime() / 1e9 - due }
    }, "graftbench-release")
    t.setDaemon(true)
    t.start()
    t
  }

  def released(name: String): Boolean = Files.exists(inbox.resolve(name))

  def path(name: String): String = inbox.resolve(name).toString

  /** How late the generator ran, seconds: the largest release lag. */
  def lagSeconds: Double = lags.synchronized {
    if (lags.isEmpty) 0.0 else lags.max }

  /** Consume batches `first..last` the way a stream that triggers as
    * soon as its previous micro-batch ends runs: each `cycle` call gets
    * every batch due by the time it starts, waiting for the next one
    * when none is. A batch thus waits out the cycle in progress, then
    * its own, and its freshness is set by cycle cost. Stops at
    * `deadline`; returns the batches consumed. */
  def drive(first: Int, last: Int, name: Int => String, due: Int => Double,
      deadline: Double)(cycle: Seq[Int] => Unit): Seq[Int] = {
    val done = mutable.ArrayBuffer.empty[Int]
    var next = first
    while (next <= last && System.nanoTime() / 1e9 < deadline) {
      OpenLoop.sleepUntil(due(next))
      val now = System.nanoTime() / 1e9
      var hi = next
      while (hi < last && due(hi + 1) <= now) hi += 1
      val ids = next to hi
      ids.foreach(i => while (!released(name(i))) Thread.sleep(1))
      cycle(ids)
      done ++= ids
      next = hi + 1
    }
    done.toSeq
  }
}

object OpenLoop {
  /** Sleep until `t` seconds on the `System.nanoTime` clock. */
  def sleepUntil(t: Double): Unit = {
    var wait = t - System.nanoTime() / 1e9
    while (wait > 0) {
      Thread.sleep(math.max(1L, (wait * 1000).toLong))
      wait = t - System.nanoTime() / 1e9
    }
  }
}
