package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run must see every job, stage and task event of a query before it
  * attributes them to spans.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
