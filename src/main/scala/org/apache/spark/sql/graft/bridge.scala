/*
 * Bridge into spark-sql package-private helpers. Lives in the
 * org.apache.spark.sql namespace solely to reach `private[sql]`
 * Column<->Expression converters; no Spark internals are modified.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, FieldReference, LiteralValue, NamedReference}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegralType}

object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — backs the raw ClickHouse-SQL passthrough frame.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session sharing `spark`'s functions, conf and temp views, whose
    * own temp-view changes stay private (`cloneSession` is
    * `private[sql]`) — the embedded server binds a materialized view's
    * source to one inserted block on such a clone.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  // `private[sql]` DSv2 expression shapes, re-exposed for the connector's
  // v2 pushdown compilers (graft.sql.ChV2Exprs)
  def fieldRefName(e: V2Expression): Option[String] = e match {
    case fr: FieldReference if fr.parts.length == 1 => Some(fr.parts.head)
    case _ => None
  }
  def literalParts(e: V2Expression): Option[(Any, DataType)] = e match {
    case lv: LiteralValue[_] => Some((lv.value, lv.dataType))
    case _ => None
  }
  def namedRef(column: String): NamedReference = FieldReference.column(column)

  /** Register a Catalyst expression builder as a temp function on one
    * session (`sessionState` is `private[sql]`). Used by the embedded
    * server session for functions a Scala UDF cannot express —
    * polymorphic aggregates (graft_topk) and positional struct access
    * (graft_tuple_at).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  def decimalParts(dt: DataType): Option[(Int, Int)] = dt match {
    case d: DecimalType => Some((d.precision, d.scale))
    case _ => None
  }
  def isIntegral(dt: DataType): Boolean = dt.isInstanceOf[IntegralType]
}
