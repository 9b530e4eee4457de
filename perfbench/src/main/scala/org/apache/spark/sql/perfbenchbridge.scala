package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the benchmark's listeners read: the query
  * execution carried by an execution-end event (its planning-phase
  * tracker), and a wait until every posted listener event has been
  * delivered, so counters are complete before they are read.
  */
object perfbenchbridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
