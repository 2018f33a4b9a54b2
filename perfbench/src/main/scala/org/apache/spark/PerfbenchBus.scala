package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer waits until every job, stage and task event of an op has been
  * delivered before it closes the op's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
