package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the `private[sql]` QueryExecution an execution-end event
  * carries: it is the same object a QueryExecutionListener receives, so the
  * pair gives each listener record its exact start and end time.
  */
object ExecutionEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
