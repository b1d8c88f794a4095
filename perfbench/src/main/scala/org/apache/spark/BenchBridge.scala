package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until every
  * queued listener event has been delivered, so counts read after a
  * run are complete.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
