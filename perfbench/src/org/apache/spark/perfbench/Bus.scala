package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's asynchronous listener bus; the
  * traced run drains it after each op so that every job, stage and task of
  * the op has been seen before the op's record is folded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
