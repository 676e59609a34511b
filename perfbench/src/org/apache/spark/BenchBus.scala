package org.apache.spark

/** Drains Spark's asynchronous listener bus so every event of the work
  * that just finished has been delivered before the traced run reads its
  * listeners. `waitUntilEmpty` is package-private, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
