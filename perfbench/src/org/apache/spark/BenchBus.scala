package org.apache.spark

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two non-public Spark members the benchmark reads; registering its
  * listeners uses public APIs only. */
object BenchBus {
  /** Waits until every listener has seen every event posted so far, so a
    * phase's counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an execution-end event carries (package-private
    * to Spark's sql module, hence the reflective read): the same object
    * a QueryExecutionListener receives, which ties planning phases to an
    * execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(classOf[SparkListenerSQLExecutionEnd].getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
}
