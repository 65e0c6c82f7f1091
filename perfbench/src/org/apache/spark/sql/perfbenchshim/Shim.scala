package org.apache.spark.sql.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package-private Spark state the benchmark's listeners read. */
object Shim {
  /** Block until every posted listener event has been delivered, so the
    * benchmark's listeners have seen all jobs of the measured window. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an SQL execution ran (null for executions without one). A
    * QueryExecutionListener callback carries no execution id or job group,
    * so planning time is attributed through this event instead. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
