package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the harness drains at batch ends so
  * a batch's counters are complete before tracing switches off. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
