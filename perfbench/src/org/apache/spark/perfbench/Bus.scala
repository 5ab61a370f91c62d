package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private:
  * the traced run drains it after each op so that every event of
  * the op has reached the benchmark's listeners before the next op
  * starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
