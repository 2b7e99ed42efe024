package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A session in which every observed metric arrives empty, as it does
  * when AQE prunes the `CollectMetrics` node out of the executed plan.
  * Spark's own completion listener is swapped for one that completes
  * each observation of a finished query with no row.
  */
object LostMetrics {
  def session(parent: SparkSession): SparkSession = {
    val s = parent.newSession().asInstanceOf[classic.SparkSession]
    val observations = s.observationManager
    s.listenerManager.clear()
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.foreach {
          case c: CollectMetrics => observations
            .getOrNewObservation(c.name, c.dataframeId).setMetricsAndNotify(Row.empty)
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    s
  }
}
