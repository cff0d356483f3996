package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has been
  * delivered, so per-operation Spark counters are complete when read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
