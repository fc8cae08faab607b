package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * spec can read a listener's counters right after the action it counts.
  * The bus is private to Spark; this object lives in Spark's package only to
  * reach it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
