package org.apache.spark.lpbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: draining it
  * after each operation lets every listener event of that operation be
  * delivered before the next one starts, so events are billed to the
  * operation that caused them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
