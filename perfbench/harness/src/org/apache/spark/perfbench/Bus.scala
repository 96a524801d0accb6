package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The listener bus is asynchronous: a traced run waits until every
  * posted event has reached the listeners before it reads them. */
object Bus {
  def flush(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
