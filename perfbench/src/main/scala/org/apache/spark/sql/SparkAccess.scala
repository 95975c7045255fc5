package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the tracer reads, hence this file's package:
  *   - `drain`: the listener bus is asynchronous; a traced run reads its
  *     records only after every posted event has been delivered.
  *   - `endInfo`: the function name, duration (ns) and QueryExecution an
  *     SQL execution's end event carries for `QueryExecutionListener`s.
  */
object SparkAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def endInfo(e: SparkListenerSQLExecutionEnd): (String, Long, QueryExecution) =
    (e.executionName.getOrElse("?"), e.duration, e.qe)
}
