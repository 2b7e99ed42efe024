package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The one way this program reads observed metrics (`Dataset.observe`).
  * Metrics ride a frame as a zero-pass `CollectMetrics` node and reach
  * the driver through the listener bus after the action that ran the
  * frame finishes. Two ways that can go wrong, and both fail here
  * naming the plan, where a bare `Observation.get` would block or read
  * a silent zero:
  *   - AQE's empty-relation propagation removed the node (a
  *     `CollectMetrics` inside a union or join branch that ran empty):
  *     the observation completes with no metrics at all;
  *   - the completion event never arrives: the wait is bounded.
  * Observe at the root of the frame an action writes, where no
  * propagation can reach the node.
  */
object Observed {

  /** How long a finished action's metrics may take to arrive. Delivery
    * is one listener-bus event, normally milliseconds; the bound only
    * turns a lost event into an error instead of a hang.
    */
  val WaitBound: FiniteDuration = 2.minutes

  /** The metrics of one observed frame, readable once its action ran. */
  final class Metrics private[Observed] (obs: Observation, observed: DataFrame) {
    /** The metric row, in the order the metrics were given. `what`
      * names the caller's action for the error message.
      */
    def await(what: String): Row = {
      def fail(why: String) = new IllegalStateException(
        s"$what: observed metrics '${obs.name}' $why; observed plan:\n" +
          observed.queryExecution.optimizedPlan.treeString.take(4000))
      val row = try Await.result(obs.future, WaitBound)
        catch { case _: TimeoutException => throw fail(s"did not arrive within $WaitBound") }
      if (row.length == 0) throw fail(
        "are missing: the executed plan lost its CollectMetrics node")
      row
    }
  }

  /** `df` with `metrics` observed at its root, and their handle. */
  def apply(df: DataFrame, metric: Column, more: Column*): (DataFrame, Metrics) = {
    val obs = Observation()
    val observed = df.observe(obs, metric, more: _*)
    (observed, new Metrics(obs, observed))
  }
}
