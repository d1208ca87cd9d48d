package org.apache.spark

/** The one Spark internal the benchmark needs: listener events are
  * delivered asynchronously, so a traced operation's counters are only
  * complete once the listener bus has drained.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
