package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** `SparkListenerSQLExecutionEnd.qe` is `private[sql]`. The benchmark's
  * listener reads the finished query's plan and planning tracker from it:
  * unlike a `QueryExecutionListener` callback, the event also carries the
  * execution id that the query's jobs are tagged with. */
object SqlEndBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
