package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it
  * so every event of a finished query is handled before the next starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
