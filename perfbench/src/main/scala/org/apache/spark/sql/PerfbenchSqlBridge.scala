package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query execution an execution-end event carries (private to
  * Spark SQL): its tracker holds the analysis, optimisation and planning
  * times of that execution.
  */
object PerfbenchSqlBridge {
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
}
