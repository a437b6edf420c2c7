package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * `SparkContext.listenerBus` is package-private to Spark, hence this
  * one-line bridge; the traced run calls it after each operation so the
  * operation's job, stage and task events are recorded before its span
  * is summarised.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
