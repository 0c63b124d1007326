package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The conf-gated count(DISTINCT) → HLL++ rewrite: OFF by default
  * (exact plans untouched — the oracle gate depends on that), and when
  * enabled it removes the Expand-based distinct aggregation in favor of
  * one mergeable sketch pass within the sketch's error bound. */
class ApproxDistinctRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def q: DataFrame =
    Tables.lineitem(spark, TestSpark.sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd"))

  // the rule is installed (TestSpark carries GraftExtensions); the
  // conf gate alone decides whether it fires
  private def withRule[T](on: Boolean)(f: => T): T = {
    if (on) spark.conf.set("spark.graft.rewrite.approxDistinct", "true")
    try f
    finally spark.conf.set("spark.graft.rewrite.approxDistinct", "false")
  }

  test("off by default: the exact distinct plan (Expand) survives") {
    withRule(on = false) {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("Expand") || p.contains("count(distinct"),
        s"exact distinct shape missing with the rule off:\n$p")
      assert(!p.toLowerCase.contains("approx_count_distinct"), p)
    }
  }

  test("enabled: plan carries the HLL sketch, no Expand; estimate within 5%") {
    val exact = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    withRule(on = true) {
      val p = q.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("approx_count_distinct"),
        s"rewrite did not fire:\n$p")
      assert(!p.contains("Expand"), s"Expand still planned:\n$p")
      val est = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.keySet == exact.keySet)
      for ((k, ex) <- exact)
        assert(math.abs(est(k) - ex).toDouble / ex < 0.05,
          s"flag $k: est ${est(k)} vs exact $ex")
    }
  }

  test("scope guards: multi-column distinct and FILTER clauses pass through") {
    withRule(on = true) {
      val multi = Tables.lineitem(spark, TestSpark.sfDir)
        .agg(countDistinct(col("l_partkey"), col("l_suppkey")).as("nd"))
      assert(!multi.queryExecution.executedPlan.toString
        .toLowerCase.contains("approx_count_distinct"))
      val filtered = Tables.lineitem(spark, TestSpark.sfDir)
        .agg(count_distinct(col("l_partkey"))
          .as("nd")) // single-col STILL rewrites…
      assert(filtered.queryExecution.executedPlan.toString
        .toLowerCase.contains("approx_count_distinct"))
      // …but a FILTER'd distinct does not
      val withFilter = Tables.lineitem(spark, TestSpark.sfDir)
        .selectExpr("count(DISTINCT l_partkey) FILTER (WHERE l_quantity > 10) AS nd")
      assert(!withFilter.queryExecution.executedPlan.toString
        .toLowerCase.contains("approx_count_distinct"))
    }
  }
}
