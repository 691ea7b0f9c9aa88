package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries is package-private;
  * the benchmark reads its Catalyst phase times and scan metrics.
  */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
