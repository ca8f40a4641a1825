package org.apache.spark

/** Access to the listener bus's drain call, which Spark keeps
  * package-private: the traced run must see every event of a span
  * before it reads the span's totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
