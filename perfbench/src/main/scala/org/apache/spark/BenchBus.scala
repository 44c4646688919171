package org.apache.spark

/** Lives in Spark's package for the listener bus's drain, which Spark
  * keeps package-private: per-pass task records are complete only once
  * every event posted before the pass ended has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
