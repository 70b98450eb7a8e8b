package org.apache.spark

/** The one package-private Spark hook the tracer needs: block until
  * every posted listener event has been delivered, so the per-span job
  * and task totals are complete before they are summarised. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
