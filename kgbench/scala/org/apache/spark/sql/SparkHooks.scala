package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package-private Spark hooks the tracer needs. Lives in this package
  * because the listener bus and the query execution carried by an
  * execution-end event are package-private. */
object SparkHooks {
  /** Blocks until every posted listener event has been delivered, so a
    * traced repetition's jobs, tasks and query executions are all seen
    * before its counters are read. */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports on (null for
    * executions without one). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
