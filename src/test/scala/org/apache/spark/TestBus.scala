package org.apache.spark

/** The listener bus's drain is package-private; tests that count or
  * record listener events call it so every event posted so far is
  * handled before they judge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
