package org.apache.spark

/** Drains the listener bus so every event of a finished action has
 * reached the benchmark's listener before its spans are attributed
 * (`listenerBus` is package-private to Spark). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
