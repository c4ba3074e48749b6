package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made `Column` a ColumnNode
  * wrapper and hid the classic conversions behind `private[sql]`;
  * custom Catalyst expressions (graft.functions.*) still need them, so
  * this lives inside the `org.apache.spark.sql` package tree — the
  * established pattern for Spark-native extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-binds a frame's logical plan onto `target`, returning a fresh
    * (un-executed) Dataset whose analysis and physical planning happen
    * under the TARGET session's conf. Sessions sharing one
    * SparkContext can exchange logical plans freely — attribute ids
    * and concrete expression trees are session-independent — which is
    * what lets graft build an isolated-conf plan (e.g. an AQE-off
    * checkpoint, Graph.checkpointPartitioned) on a `newSession()`
    * clone without toggling conf visible to concurrent planners. The
    * classic `Dataset.ofRows` entry point is `private[sql]`, hence
    * this bridge's package.
    */
  def rebind(target: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      target.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** Block until every event posted so far has reached every listener,
    * so counters kept by a listener are complete when read. The bus is
    * `private[spark]`, hence this bridge's package.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** `ImplicitCastInputTypes` with a public-type signature. Spark 4 made
  * `AbstractDataType` private[sql], so an expression outside the sql
  * package tree cannot override `inputTypes` directly; this adapter
  * lets graft.functions kernels declare plain `DataType`s (public,
  * and a subtype of AbstractDataType) and still get analysis-time
  * type checks + implicit numeric coercion on their SQL surface.
  */
trait DeclaredInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  /** The expected input types, as public DataTypes. */
  def declaredInputTypes: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    declaredInputTypes
}
