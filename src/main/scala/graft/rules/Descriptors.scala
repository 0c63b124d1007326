package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Derived / aggregate-valued "virtual columns" (SURVEY §2.11 —
  * `FilterDescriptor<T,TValue>`, `Filters/FilterDescriptor.cs`; examples
  * pinned by `FilterTestsBase.cs:40-82`: order counts per status, spent
  * amount, age from birthdate, days since last activity).
  *
  * The reference evaluates aggregate lambdas per row through LINQ; at
  * scale those become pre-aggregated join columns: one groupBy over the
  * child table, broadcast-joined (aggregates are dimension-sized) onto the
  * parent, after which every descriptor is an ordinary column usable by
  * RuleOps/FilterExpr.
  */
object Descriptors {

  /** Attach order-derived descriptors to a customer frame:
    * order_count, spent_amount, plus per-status counts. Null-free:
    * customers without orders get zeros (the reference's Count()/Sum()
    * over empty collections). */
  def withOrderDescriptors(customers: DataFrame, orders: DataFrame,
      custKey: String = "c_custkey", orderCustKey: String = "o_custkey",
      totalCol: String = "o_totalprice", statusCol: String = "o_orderstatus"): DataFrame = {
    val agg = orders.groupBy(col(orderCustKey))
      .agg(
        count(lit(1)).as("__oc"),
        sum(col(totalCol).cast(DecimalType(18, 2))).as("__sa"),
        sum(when(col(statusCol) === "F", 1).otherwise(0)).as("__cc"))
    customers
      .join(agg, customers(custKey) === agg(orderCustKey), "left_outer")
      .drop(orderCustKey)
      .withColumn("order_count", coalesce(col("__oc"), lit(0L)))
      .withColumn("spent_amount",
        coalesce(col("__sa"), lit(0).cast(DecimalType(18, 2))))
      .withColumn("completed_order_count", coalesce(col("__cc"), lit(0L)))
      .drop("__oc", "__sa", "__cc")
  }
}
