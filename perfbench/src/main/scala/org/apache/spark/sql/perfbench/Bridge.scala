package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the two pieces of Spark state the trace needs and Spark keeps
  * package-private. */
object Bridge {
  /** Block until every posted event has reached every listener, so a
    * traced window's records are complete when they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id of the QueryExecution an SQL execution ran, which ties a
    * QueryExecutionListener callback to the execution's job group. */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
