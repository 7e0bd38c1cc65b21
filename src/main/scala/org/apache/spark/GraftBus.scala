package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: Bench
  * must see every event of a sample before it reads the sample's counts.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
