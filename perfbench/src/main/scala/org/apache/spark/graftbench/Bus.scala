package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * a reading taken right after an operation includes that operation.
  * (`listenerBus` is Spark-internal, hence this package.)
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
