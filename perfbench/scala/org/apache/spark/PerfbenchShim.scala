package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every job, stage and task event of an
  * iteration before it reads the recorded intervals.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
