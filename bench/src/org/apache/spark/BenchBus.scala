package org.apache.spark

/** The benchmark reads its listener's per-step totals only after every
  * event of the step has been delivered; `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
