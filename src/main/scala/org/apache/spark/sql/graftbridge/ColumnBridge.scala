/** Bridge into Spark's `private[sql]` Column <-> Expression converters.
  * Spark 4 made `Column` wrap a `ColumnNode` instead of an `Expression`;
  * `org.apache.spark.sql.classic.ExpressionUtils` is the supported internal
  * adapter, scoped `private[sql]`, hence this package-located shim — the
  * standard pattern for libraries that define custom Catalyst expressions.
  */
package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until an [[org.apache.spark.sql.Observation]] holds its
    * metrics, for at most `timeout`. Observed metrics reach the driver on
    * the listener bus, shortly after the action that computed them
    * returns; the public `get` waits with no bound, so a missing delivery
    * would hang the caller. On expiry this throws a `TimeoutException`
    * naming the observation.
    */
  def awaitObserved(obs: org.apache.spark.sql.Observation,
      timeout: FiniteDuration): Map[String, Any] = {
    val row =
      try Await.result(obs.future, timeout)
      catch {
        case _: TimeoutException =>
          throw new TimeoutException(
            s"observation '${obs.name}' delivered no metrics within $timeout")
      }
    row.getValuesMap[Any](row.schema.fieldNames.toSeq)
  }
}
