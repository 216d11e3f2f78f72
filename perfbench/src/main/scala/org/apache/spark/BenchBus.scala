package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark drains it
  * through this accessor so listener counts are complete before it reads
  * them.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
