package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every listener event of a pass before it
  * aggregates them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
