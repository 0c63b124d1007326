package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * Column construction behind ColumnNode). Standard extension-library
  * pattern: a tiny shim compiled into the org.apache.spark.sql package. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` and `TypeCollection` are `private[sql]` in Spark 4;
    * expose the handful of expected-input shapes graft expressions need so
    * they can declare `inputTypes` (analysis-time type checking). */
  type AbstractType = types.AbstractDataType
  val string: AbstractType = types.StringType
  val stringArray: AbstractType = types.ArrayType(types.StringType)
  val longArray: AbstractType = types.ArrayType(types.LongType)
  val floatOrDoubleArray: AbstractType = types.TypeCollection(
    types.ArrayType(types.FloatType), types.ArrayType(types.DoubleType))

  /** `sessionUUID` is `private[sql]`: globally-unique session identity for
    * cache keying (identityHashCode collides across live/dead sessions). */
  def sessionUUID(spark: SparkSession): Option[String] = spark match {
    case c: classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }

  /** The analyzed logical plan of a DataFrame — the resolved-attribute
    * tree custom logical operators are built from. */
  def analyzed(df: Dataset[_]): catalyst.plans.logical.LogicalPlan = df match {
    case d: classic.Dataset[_] => d.queryExecution.analyzed
    case other => throw new IllegalArgumentException(
      s"expected a classic Dataset, got ${other.getClass.getName}")
  }

  /** `Dataset.ofRows` is `private[sql]`: wrap a custom LogicalPlan back
    * into the public DataFrame API. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `DataSourceStrategy.translateFilter` is `private[sql]`: whether (and
    * as what) a catalyst predicate can be offered to a file source for
    * row-group/page skipping — the exact translation the v1 scan path
    * itself performs when it builds `pushedDownFilters`. */
  def translateSourceFilter(e: Expression,
      supportNested: Boolean): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e, supportNested)

  /** `SparkContext.listenerBus` is `private[spark]`: block until every
    * event posted so far reached every listener (a job's end event is
    * posted before its action returns, so a drain after it sees it). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
