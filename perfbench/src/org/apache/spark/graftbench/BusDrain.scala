package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so a
  * traced run reads complete per-op totals. The bus is package-private to
  * Spark; this is the one place the benchmark reaches into it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
