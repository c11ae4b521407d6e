package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Query-execution listeners hear of a finished query through Spark's
  * asynchronous listener bus, which is private to Spark; a test that
  * counts executed plans drains it before reading its count. */
object ListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
