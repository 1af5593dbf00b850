package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event carries its QueryExecution in a Spark-private
  * field. Reading it there ties planning time to the SQL execution id
  * that the execution's jobs carry; a QueryExecutionListener only sees
  * `QueryExecution.id`, a different counter. */
object BenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
