package org.apache.spark.rollbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so
  * far, so a traced op's jobs and stages are complete before they are
  * read. The bus is internal to Spark, hence this package. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
