package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test access to the query execution an SQL execution-end event
  * carries, which is `private[sql]`: lets a SparkListener inspect the
  * plans of exactly the executions it saw start. */
object ExecutionEndPlan {
  def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
