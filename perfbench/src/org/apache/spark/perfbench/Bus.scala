package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` for `LiveListenerBus.waitUntilEmpty`,
  * which is package-private: the harness reads listener records only after
  * every event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
