package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer must see every event of a span before it reads the span's
  * counts.
  */
object EpochbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
