package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far reached the listeners. The
  * listener bus is Spark-internal, so this shim lives in Spark's
  * package; the tracer needs it to read a span's counters only after
  * the span's last job, stage and SQL-execution events arrived.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
