package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** The listener-bus calls the tracer needs that Spark keeps
  * package-private: draining the asynchronous bus before counters are
  * read, and looking up listeners that are already registered. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def registered(sc: SparkContext, l: SparkListenerInterface): Boolean =
    sc.listenerBus.listeners.contains(l)

  def registered(spark: SparkSession, l: QueryExecutionListener): Boolean =
    spark.listenerManager.listListeners().contains(l)
}
