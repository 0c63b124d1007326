package graft

import graft.plans.RangeJoinRewrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule turns a naive point-in-interval join into
  * the bucketed equi-join: same rows, no nested-loop join in the plan.
  * `spark` plans with the rule (TestSpark installs GraftExtensions);
  * `naive` is the same session with the rule excluded — the baseline
  * every rewritten result is compared against. */
class RangeJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val naive = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", RangeJoinRewrite.ruleName)
    s
  }
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def points(s: SparkSession = spark) = s.createDataFrame(Seq(
    (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")),
    (3L, ts("2024-01-01 11:59:59")), (4L, ts("2024-01-02 00:00:00"))))
    .toDF("pid", "pts")
  private def intervals(s: SparkSession = spark) = s.createDataFrame(Seq(
    (100L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00")),
    (101L, ts("2024-01-01 09:30:00"), ts("2024-01-01 12:30:00")),
    (102L, ts("2024-01-01 23:59:00"), ts("2024-01-02 00:01:00"))))
    .toDF("iid", "istart", "iend")

  private def naiveJoin(s: SparkSession = spark): DataFrame =
    points(s).join(intervals(s),
      col("pts") >= col("istart") && col("pts") <= col("iend"))

  test("rewritten plan is an equi-join over exploded buckets, not a nested loop") {
    val df = naiveJoin()
    val phys = df.queryExecution.executedPlan.toString
    // intervals explode to their home-tier buckets and the join is a
    // hash equi-join on (tier, bucket)...
    assert(phys.contains("Generate explode(sequence"), phys)
    assert(phys.contains("HashJoin"), phys)
    assert(!phys.contains("CartesianProduct"), phys)
    // ...and the ONLY nested loop is the broadcast 1-row tier probe —
    // PlanAudit proves every BNLJ build side is bounded
    assert(graft.plans.PlanAudit.findings(df).isEmpty,
      graft.plans.PlanAudit.findings(df).toString)
    // without the rule the same query nested-loops with no Generate
    val naivePhys = naiveJoin(naive).queryExecution.executedPlan.toString
    assert(naivePhys.contains("BroadcastNestedLoopJoin"), naivePhys)
    assert(!naivePhys.contains("Generate explode(sequence"), naivePhys)
  }

  test("static-width fast path: a `start + INTERVAL` upper bound plans " +
      "WITHOUT the tier probe, and results still match the naive join") {
    // the q79 shape: the interval side derives its end from its start by
    // a literal interval one Project below the join. Parquet-backed, not
    // LocalRelation — ConvertToLocalRelation would eagerly fold the
    // deriving Project away and hide the alias the width detection reads
    // (real sources keep it, as q79 does).
    val dir = java.nio.file.Files.createTempDirectory("graft-width").toString
    points().write.mode("overwrite").parquet(s"$dir/p")
    intervals().write.mode("overwrite").parquet(s"$dir/i")
    def widthJoin(s: SparkSession) = s.read.parquet(s"$dir/p").join(
      s.read.parquet(s"$dir/i").select(col("iid"),
        col("istart").as("ws"),
        (col("istart") + expr("INTERVAL 10 MINUTES")).as("we")),
      col("pts") >= col("ws") && col("pts") <= col("we"))
    val expected = widthJoin(naive).collect().map(_.toSeq).toSet
    val df = widthJoin(spark)
    val opt = df.queryExecution.optimizedPlan.toString
    val phys = df.queryExecution.executedPlan.toString
    // the bucketed equi-join fired...
    assert(phys.contains("Generate explode(sequence"), phys)
    // ...with NO runtime probe: no collect_set aggregate, no broadcast
    // cross join, no second reference to the interval side
    assert(!opt.contains("collect_set"), opt)
    assert(!phys.contains("BroadcastNestedLoopJoin"), phys)
    // tier-0 static bound: the point side gains no Generate (exactly
    // one row per point) — the only explode is the interval side's
    assert(phys.split("Generate explode").length == 2, phys)
    assert(df.collect().map(_.toSeq).toSet == expected)
    assert(graft.plans.PlanAudit.findings(df).isEmpty)
  }

  test("static-width property: every width class (zero, tier-0, coarse-tier, " +
      "beyond-data) plans probe-free and equals the naive join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-widthp").toString
    // denser points so every width class has matches and misses
    val ptRows = (0 until 60).map(i =>
      (i.toLong, ts("2024-01-01 00:00:00").getTime + i * 37 * 60000L))
      .map { case (id, ms) => (id, new java.sql.Timestamp(ms)) }
    val ivRows = (0 until 25).map(i =>
      (100L + i, new java.sql.Timestamp(
        ts("2024-01-01 00:00:00").getTime + i * 83 * 60000L)))
    ptRows.toDF("pid", "pts").write.mode("overwrite").parquet(s"$dir/p")
    ivRows.toDF("iid", "istart").write.mode("overwrite").parquet(s"$dir/i")
    // small tier geometry so a coarse tier is reachable: tier 0 caps at
    // 10 one-minute buckets, tier 1 at 10·4096
    spark.conf.set(RangeJoinRewrite.BucketConfKey, "60000")
    spark.conf.set(RangeJoinRewrite.MaxBucketsConfKey, "10")
    try {
      for (widthSec <- Seq(0L, 300L, 1800L, 2592000L)) { // 0, 5m, 30m, 30d
        def wJoin(s: SparkSession) = s.read.parquet(s"$dir/p").join(
          s.read.parquet(s"$dir/i").select(col("iid"),
            col("istart").as("ws"),
            expr(s"istart + INTERVAL '$widthSec' SECOND").as("we")),
          col("pts") >= col("ws") && col("pts") <= col("we"))
        val expected = wJoin(naive).collect().map(_.toSeq).toSet
        val df = wJoin(spark)
        val opt = df.queryExecution.optimizedPlan.toString
        assert(!opt.contains("collect_set"),
          s"width=${widthSec}s fell back to the dynamic probe:\n$opt")
        assert(df.collect().map(_.toSeq).toSet == expected,
          s"width=${widthSec}s diverged from the naive join")
        assert(graft.plans.PlanAudit.findings(df).isEmpty)
      }
    } finally {
      spark.conf.unset(RangeJoinRewrite.BucketConfKey)
      spark.conf.unset(RangeJoinRewrite.MaxBucketsConfKey)
    }
  }

  test("a MONTH interval width (variable length) keeps the dynamic probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-month").toString
    points().write.mode("overwrite").parquet(s"$dir/p")
    intervals().write.mode("overwrite").parquet(s"$dir/i")
    def monthJoin(s: SparkSession) = s.read.parquet(s"$dir/p").join(
      s.read.parquet(s"$dir/i").select(col("iid"),
        col("istart").as("ws"),
        (col("istart") + expr("INTERVAL 1 MONTH")).as("we")),
      col("pts") >= col("ws") && col("pts") <= col("we"))
    val expected = monthJoin(naive).collect().map(_.toSeq).toSet
    val df = monthJoin(spark)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("collect_set"), // no static bound for months
      s"month-width join unexpectedly took the static path:\n$opt")
    assert(df.collect().map(_.toSeq).toSet == expected)
  }

  test("a day-carrying CalendarInterval takes the static path only under " +
      "a fixed-offset timezone (DST can stretch a day to 25h)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dstday").toString
    points().write.mode("overwrite").parquet(s"$dir/p")
    intervals().write.mode("overwrite").parquet(s"$dir/i")
    // make_interval folds to a CalendarInterval literal (days component);
    // a DayTimeIntervalType `INTERVAL 1 DAY` would be exact micros and
    // always static — the calendar-wise day addition is the case at issue
    def dayJoin(s: SparkSession) = s.read.parquet(s"$dir/p").join(
      s.read.parquet(s"$dir/i").select(col("iid"),
        col("istart").as("ws"),
        (col("istart") + expr("make_interval(0, 0, 0, 1, 0, 0, 0)")).as("we")),
      col("pts") >= col("ws") && col("pts") <= col("we"))
    val expected = dayJoin(naive).collect().map(_.toSeq).toSet
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val dst = dayJoin(spark).queryExecution.optimizedPlan.toString
      assert(dst.contains("collect_set"),
        s"day interval in a DST zone must keep the dynamic probe:\n$dst")
      spark.conf.set(tzKey, "UTC")
      val fixed = dayJoin(spark).queryExecution.optimizedPlan.toString
      assert(!fixed.contains("collect_set"),
        s"day interval under UTC should take the static path:\n$fixed")
      assert(dayJoin(spark).collect().map(_.toSeq).toSet == expected)
    } finally spark.conf.set(tzKey, saved)
  }

  test("rewritten results equal the naive join exactly") {
    val expected = naiveJoin(naive).collect().map(_.toSeq).toSet
    val got = naiveJoin().collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("extra cross-side conjuncts survive as residuals") {
    def q(s: SparkSession) = points(s).join(intervals(s),
      col("pts") >= col("istart") && col("pts") <= col("iend") &&
        col("pid") =!= col("iid"))
    val expected = q(naive).collect().map(_.toSeq).toSet
    val phys = q(spark).queryExecution.executedPlan.toString
    assert(phys.contains("Generate explode(sequence"), phys)
    assert(q(spark).collect().map(_.toSeq).toSet == expected)
  }

  test("joins with an equi-conjunct are left alone (already hash-joinable)") {
    val q = points().join(intervals(),
      col("pid") === col("iid") % 100 &&
        col("pts") >= col("istart") && col("pts") <= col("iend"))
    val phys = q.queryExecution.executedPlan.toString
    assert(!phys.contains("Generate explode(sequence"), phys)
  }

  test("reversed intervals (end < start) match nothing instead of crashing") {
    def q(s: SparkSession) = {
      val dirty = s.createDataFrame(Seq(
        (200L, ts("2024-01-01 12:00:00"), ts("2024-01-01 09:00:00")), // reversed
        (201L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00")))) // clean
        .toDF("iid", "istart", "iend")
      points(s).join(dirty,
        col("pts") >= col("istart") && col("pts") <= col("iend"))
        .select(col("pid"), col("iid"))
    }
    val naiveRows = q(naive).collect().map(_.toSeq).toSet
    val phys = q(spark).queryExecution.executedPlan.toString
    assert(phys.contains("Generate explode(sequence"), phys)
    // would throw 'Illegal sequence boundaries' unguarded
    val rewritten = q(spark).collect().map(_.toSeq).toSet
    assert(rewritten == naiveRows)
    assert(naiveRows.forall(_(1) == 201L)) // the reversed interval matches nothing
  }

  test("over-wide (SCD-2 sentinel) intervals take the coarse-tier equi-join branch") {
    def q(s: SparkSession) = {
      val scd2 = s.createDataFrame(Seq(
        (300L, ts("2024-01-01 00:00:00"), ts("9999-12-31 00:00:00")), // ~70M buckets
        (301L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"))))
        .toDF("iid", "istart", "iend")
      points(s).join(scd2,
        col("pts") >= col("istart") && col("pts") <= col("iend"))
        .select(col("pid"), col("iid"))
    }
    val naiveRows = q(naive).collect().map(_.toSeq).toSet
    val df = q(spark)
    val phys = df.queryExecution.executedPlan.toString
    // one hash equi-join serves both rows: fine buckets for the narrow
    // interval (tier 0), coarse buckets for the sentinel — never an
    // unbounded nested loop (the 1-row probe BNLJ is PlanAudit-exempt)
    assert(phys.contains("Generate explode(sequence"), phys)
    assert(phys.contains("shiftright"), phys)
    assert(!phys.contains("CartesianProduct"), phys)
    assert(graft.plans.PlanAudit.findings(df).isEmpty,
      graft.plans.PlanAudit.findings(df).toString)
    assert(df.collect().map(_.toSeq).toSet == naiveRows)
    assert(naiveRows.count(_(1) == 300L) == 4) // sentinel interval matches every point
  }

  test("rule does not re-fire on its own output even when tags are lost") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join}
    val analyzed = naiveJoin().queryExecution.analyzed
    val once = RangeJoinRewrite(analyzed)
    // the rewrite's shape: interval-bucket explode + point-tier explode,
    // one probe aggregate, and only condition-free / equi-only joins
    assert(once.collect { case g: Generate => g }.size == 2, once)
    assert(once.collect { case a: Aggregate => a }.size == 1, once)
    // simulate an optimizer rule that rebuilds join nodes from scratch
    // (ReorderJoin) — fresh instances carry no TreeNodeTags
    val stripped = once.transform {
      case j: Join => Join(j.left, j.right, j.joinType, j.condition, j.hint)
    }
    val twice = RangeJoinRewrite(stripped)
    assert(twice.collect { case g: Generate => g }.size == 2, twice)
    assert(twice.collect { case a: Aggregate => a }.size == 1, twice)
  }

  test("null timestamps drop on both the naive and rewritten paths") {
    def withNulls(s: SparkSession) = {
      val p = s.createDataFrame(Seq((1L, Some(ts("2024-01-01 10:00:00"))), (2L, None)))
        .toDF("pid", "pts")
      p.join(intervals(s),
        col("pts") >= col("istart") && col("pts") <= col("iend"))
        .select(col("pid"), col("iid"))
    }
    val naiveRows = withNulls(naive).collect().map(_.toSeq).toSet
    val phys = withNulls(spark).queryExecution.executedPlan.toString
    assert(phys.contains("Generate explode(sequence"), phys)
    assert(withNulls(spark).collect().map(_.toSeq).toSet == naiveRows)
    assert(naiveRows.forall(_.head == 1L)) // the null-ts row matches nothing
  }
}
