package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the query execution an execution-end event carries, which
  * is private to Spark SQL. A `QueryExecutionListener` receives the same
  * object but not the execution id that places it in time.
  */
object Events {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
