package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark-internal accessors the benchmark's tracing needs, kept in
  * one file: waiting until the listener bus has delivered every event (so
  * a traced run's ledger is complete), and the executed query behind an
  * SQL execution-end event (so scan metrics join to their execution id).
  */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
