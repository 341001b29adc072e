package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished query of an execution-end event (`private[sql]`), so a
  * listener can read the executed plan's node metrics under the
  * execution's own id.
  */
object ExecGlue {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
