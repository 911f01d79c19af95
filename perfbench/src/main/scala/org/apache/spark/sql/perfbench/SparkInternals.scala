package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, behind one narrow door. */
object SparkInternals {

  /** Block until every posted listener event has been delivered, so the
    * spans of an operation are complete when it is summarised. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an SQL-execution-end event belongs to (null for
    * executions Spark ran without one). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
