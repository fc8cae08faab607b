package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * the trace can close one operation's counters before the next begins.
  * The bus is private to Spark; this object lives in Spark's package only
  * to reach it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
