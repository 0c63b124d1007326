package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanAudit

/** Global plan-invariant gate: EVERY registered query's physical plan is
  * linted by [[PlanAudit]], and every occurrence of a scale-hostile
  * operator shape must be on the justified whitelist below. This turns
  * the per-query "plan shape" scaladoc claims into a standing assertion:
  * a future edit that silently introduces a cartesian product, an
  * unjustified broadcast nested-loop join, or a whole-corpus
  * single-partition exchange fails the suite, not the 100-TB run.
  *
  * Whitelist discipline: an entry is (query, kind) with the
  * justification in the comment. 1-row-frame compositions may use
  * broadcast nested-loop joins (they pair SINGLE rows); histogram/
  * calendar walks may use global windows (the frame is |groups| ×
  * |distinct values|, corpus-size-independent). Nothing may use a
  * cartesian product.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (query name, finding kind) → justification. */
  private val whitelist: Map[(String, String), String] = Map(
    // (RangeJoin's former wide-interval nested-loop fallbacks are GONE:
    // arbitrarily wide intervals now join at a coarse bucket tier — a
    // hash equi-join on (tier, bucket) — so q74/q79/q273 need no entry.)
    // Value-histogram cumulative walks (the q168 percentile discipline):
    // the global window/sort runs over a (groups × distinct-values)
    // grid aggregated from the corpus, never the corpus itself. The
    // grid bound is structural (calendar days, hour gaps, cent values,
    // score deciles), not expressible as a static maxRows.
    ("q08_orders_dashboard", "single-partition-exchange") -> "pivot sort over |days| frame",
    ("q191_rfm_segments", "single-partition-exchange") -> "3 quartile-cut walks over value histograms",
    ("q219_revenue_concentration", "single-partition-exchange") -> "Gini cumulative walks over the cent-value histogram",
    ("q214_seasonality", "single-partition-exchange") -> "weekday-hour grid walk",
    ("q222_calibration_curve", "single-partition-exchange") -> "score-bucket histogram walk",
    ("q198_vocab_growth", "single-partition-exchange") -> "cumulative walk over the 4-row tier frame",
    ("q200_cusum_changepoint", "single-partition-exchange") -> "CUSUM walk over the calendar-day histogram",
    ("q237_event_dashboard", "single-partition-exchange") -> "dashboard pivot sort over |days| frame",
    ("q223_conversion_latency", "single-partition-exchange") -> "percentile walk over the hour-gap histogram",
    ("q202_churn_lifetable", "single-partition-exchange") -> "reverse cumsum over the 30-day-lifetime histogram",
    // Two-pass sharded prefix sum: the single-partition window input is
    // the per-shard TOTALS frame (one row per shard), broadcast back as
    // base offsets — the corpus prefix runs shard-partitioned.
    ("q88_token_pack", "single-partition-exchange") -> "shard-totals exclusive prefix (|shards| rows)")
    // (q51's byPosition entry is RETIRED: positions now come from a
    // range-partitioned zipWithIndex — Segmenter.withPosition — so the
    // plan has no global window at all.)

  test("no registered query plans a scale-hostile operator off-whitelist") {
    // TestSpark installs graft.GraftExtensions like Verify/Bench, so the
    // audit sees the plans they run (q79's naive inequality join is a
    // nested loop without the range-join rewrite, a bucketed equi-join
    // with it)
    val offenders = Registry.all.flatMap { q =>
      val df = q.run(spark, TestSpark.sfDir)
      PlanAudit.findings(df)
        .map(f => (q.name, f.kind, f.operator))
        .filterNot { case (n, k, _) => whitelist.contains((n, k)) }
        .distinct
    }
    assert(offenders.isEmpty,
      "unjustified scale-hostile plan shapes:\n" +
        offenders.map { case (n, k, op) => s"  $n: $k ($op)" }.mkString("\n"))
  }

  // ------------------------------------------------ scan-discipline teeth
  // The registry sweep above asserts zero scan findings; these two prove
  // the gate is not vacuous — it FIRES on the drift it exists to catch.

  test("unpushed-scan-predicate fires when conf drift turns nested " +
      "pushdown off (the scan stops offering a skippable predicate)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nested").toString
    spark.range(100)
      .select(col("id"), struct(col("id").as("a"), lit("x").as("b")).as("s"))
      .write.mode("overwrite").parquet(tmp)
    def auditNestedFilter(s: org.apache.spark.sql.SparkSession) =
      PlanAudit.findings(
        s.read.parquet(tmp).filter(col("s.a") > 50).select("id"))
    // healthy session: the nested predicate reaches PushedFilters
    assert(auditNestedFilter(spark).isEmpty)
    // drifted session: parquet loses nested pushdown support → the SAME
    // query silently stops skipping row groups — the gate must see it.
    // The scan's pushed-filter set is a LAZY val resolving SQLConf.get
    // (thread-active session), so the drifted session must be active
    // while the audit forces it.
    val drifted = spark.newSession()
    drifted.conf.set(
      "spark.sql.optimizer.nestedPredicatePushdown.supportedFileSources", "")
    org.apache.spark.sql.classic.SparkSession.setActiveSession(
      drifted.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    val found =
      try auditNestedFilter(drifted)
      finally org.apache.spark.sql.classic.SparkSession.setActiveSession(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    assert(found.exists(_.kind == "unpushed-scan-predicate"),
      s"gate stayed silent under pushdown conf drift: $found")
  }

  test("filter-not-folded-into-scan fires on a plan whose scan-adjacent " +
      "pushable predicate escaped the PhysicalOperation fold") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal}
    import org.apache.spark.sql.execution.FilterExec
    // the API cannot produce this shape (Catalyst always folds), so
    // hand-build it: Filter(id > 10) directly over a bare parquet scan
    val tmp = java.nio.file.Files.createTempDirectory("graft-fold").toString
    spark.range(100).write.mode("overwrite").parquet(tmp)
    val scanPlan = spark.read.parquet(tmp).queryExecution.executedPlan
    val attr = scanPlan.output.head
    val violating = FilterExec(GreaterThan(attr, Literal(10L)), scanPlan)
    val found = PlanAudit.scanFindingsOf(violating)
    assert(found.exists(_.kind == "filter-not-folded-into-scan"),
      s"hand-built unfolded filter not detected: $found")
    // and the same predicate folded by the API is clean
    import org.apache.spark.sql.functions.col
    assert(PlanAudit.findings(
      spark.read.parquet(tmp).filter(col("id") > 10)).isEmpty)
  }

  test("PushedFilters matching is exact top-level elements: a filter " +
      "appearing only INSIDE a pushed composite does not count as pushed") {
    // the inverse of the scan metadata's mkString("[", ", ", "]")
    val elems = PlanAudit.topLevelElems(
      "[IsNotNull(a), Or(EqualTo(a,1),EqualTo(b,2)), In(c, [1,2,3])]")
    assert(elems == Set("IsNotNull(a)", "Or(EqualTo(a,1),EqualTo(b,2))",
      "In(c, [1,2,3])"))
    // ADVICE r14's vacuous-pass shape: EqualTo(a,1) is a SUBSTRING of the
    // pushed composite but not a top-level element — must NOT match
    assert(!elems.contains("EqualTo(a,1)"))
    assert(PlanAudit.topLevelElems("[]").isEmpty)
    // depth clamps at 0: an unbalanced ')' INSIDE a literal value may
    // mis-render its own element but must not swallow the NEXT elements
    // (ADVICE r15 — negative depth glued the rest of the list together)
    val dirty = PlanAudit.topLevelElems(
      "[StringContains(a,ab)cd), IsNotNull(b), EqualTo(c,3)]")
    assert(dirty.contains("IsNotNull(b)"), dirty.toString)
    assert(dirty.contains("EqualTo(c,3)"), dirty.toString)
  }
}
