package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The traced run drains the bus before it closes a span, so the
  * counters an event carries land on the span that caused it. Lives in
  * Spark's package because the bus is private to it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
