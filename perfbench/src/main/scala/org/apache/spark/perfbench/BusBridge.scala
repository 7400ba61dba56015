package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark. The traced run reads its
  * listener's totals only after every event posted so far has been
  * delivered, which needs `waitUntilEmpty`.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
