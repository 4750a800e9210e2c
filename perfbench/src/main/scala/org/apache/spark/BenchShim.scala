package org.apache.spark

/** The one private[spark] hook the benchmark needs: block until the
  * listener bus has delivered every queued event, so a span's task
  * counters are complete before they are read. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
