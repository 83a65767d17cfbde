package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * a traced span closes only after every event it caused was delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
