package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries. Spark keeps the
  * accessor package-private; this is the one place the benchmark reaches
  * it. Unlike a session's `QueryExecutionListener`, which sees only that
  * session's queries, the listener bus carries every session's events,
  * including sessions the program creates internally. */
object ExecutionEnds {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
