package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `(funcName, QueryExecution)` a `QueryExecutionListener` gets for
  * a successful named action, read off the execution-end event that
  * carries them. Spark keeps those fields `private[sql]`; like
  * ColumnBridge, this file only delegates.
  */
object ExecutionEnd {
  def success(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    e.executionName.filter(_ => e.qe != null && e.executionFailure.isEmpty).map(_ -> e.qe)
}
