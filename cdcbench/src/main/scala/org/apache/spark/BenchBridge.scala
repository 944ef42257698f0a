package org.apache.spark

/** The one non-public Spark call the benchmark needs: wait until every
  * listener has seen the events posted so far, so counter readings taken
  * at a boundary include all work finished before it. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
