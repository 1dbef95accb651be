package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark's tracer needs. */
object BenchAccess {
  /** Wait until the listener bus has delivered every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an execution-end event reports on (null when not attached).
    * This is the object QueryExecutionListener callbacks receive; reading
    * it from the event keeps the execution id, which maps it to a span.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
