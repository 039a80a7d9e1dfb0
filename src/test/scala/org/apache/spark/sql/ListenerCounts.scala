package org.apache.spark.sql

/** Listener counts a spec reads to check that a component removed what it
  * registered: the listener registries are `private[spark]` and
  * `private[sql]`. */
object ListenerCounts {
  def spark(s: SparkSession): Int = s.sparkContext.listenerBus.listeners.size
  def queryExecution(s: SparkSession): Int = s.listenerManager.listListeners().length
}
