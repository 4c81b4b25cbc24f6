package org.apache.spark

/** The benchmark's one use of Spark's package-private surface: block
  * until every posted listener event has been delivered, so a traced
  * run joins jobs to requests without settle sleeps. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
