package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark needs: listener callbacks
  * arrive on Spark's asynchronous listener bus, so before reading what
  * the listeners recorded the harness waits until every posted event
  * has been delivered.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
