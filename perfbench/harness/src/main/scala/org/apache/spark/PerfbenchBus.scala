package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every job, stage and query-execution event
  * before it writes its spans out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
