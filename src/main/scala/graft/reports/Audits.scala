package graft.reports
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional report rollups and statistical data-quality audits
  * over the sales tables — the OLAP `GROUPING SETS` surface the
  * reference's report grids expose one slice at a time (SURVEY §2.5
  * dashboards, e.g. `OrderReportService` pivots), plus the
  * distribution-level audits (Benford, winsorized robust stats,
  * snapshot drift) a warehouse runs to catch data-entry and ingestion
  * anomalies before they poison downstream aggregates.
  */
object Audits {

  /** Sales CUBE (q204): order count and exact revenue over EVERY
    * combination of (market segment × order status) including both
    * marginals and the grand total — one `cube()` instead of four
    * hand-written GROUP BYs.
    *
    * Scale shape: Catalyst plans cube as ONE scan + Expand(4 grouping
    * sets) + a single partial→final hash aggregate — the fact table is
    * read once and shuffled once (carrying 4× pre-aggregated rows, the
    * inherent grouping-set cost), vs four separate scans+shuffles for
    * the per-slice formulation. The customer dimension broadcasts onto
    * orders before the Expand. Money sums are per-element
    * `decimal(18,2)` casts (exact, order-independent), surfaced as
    * doubles; grouping flags disambiguate a real value from a rolled-up
    * level without relying on NULL markers. */
  def salesCube(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        grouping(col("c_mktsegment")).cast("int").as("g_seg"),
        grouping(col("o_orderstatus")).cast("int").as("g_stat"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("stat"),
        col("g_seg"), col("g_stat"), col("n_orders"), col("total_price"))
      .orderBy(col("g_seg"), col("g_stat"), col("seg"), col("stat"))
  }

  private val cubeOracle: String =
    """SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
      |       COALESCE(o_orderstatus, 'ALL') AS stat,
      |       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_stat,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS total_price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderstatus)
      |ORDER BY g_seg, g_stat, seg, stat""".stripMargin

  /** Benford first-digit audit (q211): the leading-digit distribution of
    * order totals against Benford's law — the classic fraud /
    * synthetic-data screen (fabricated or template-generated amounts
    * drift from log₁₀(1+1/d); a large deviation flags the source for
    * review, it does not prove anomaly).
    *
    * Determinism: the first digit comes from the EXACT decimal(18,2)
    * cents rendering (never from a double's string form); observed
    * shares are integer basis points via floor division; the expected
    * shares are pre-quantized literal constants ⌊log₁₀(1+1/d)·10⁴⌋ —
    * no runtime log anywhere, so nothing can drift between engines.
    *
    * Scale shape: one map-side projection (digit extraction) + one
    * 9-row hash aggregate with map-side partials; the total is a 1-row
    * broadcast. Map-only at any corpus size. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    // ⌊log₁₀(1 + 1/d) · 10⁴⌋ for d = 1..9
    val expBp = Seq(3010, 1760, 1249, 969, 791, 669, 579, 511, 457)
    val expCase = expBp.zipWithIndex
      .map { case (bp, i) => s"WHEN ${i + 1} THEN $bp" }
      .mkString("CASE digit ", " ", " ELSE 0 END")
    val digits = Tables.orders(s, dir)
      .select(substring(
        col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val total = digits.agg(sum(col("n_orders")).as("total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n_orders"),
        expr("n_orders * 10000 div total").as("obs_bp"),
        expr(expCase).cast("long").as("exp_bp"))
      .withColumn("dev_bp", col("obs_bp") - col("exp_bp"))
      .orderBy(col("digit"))
  }

  private val benfordOracle: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS
      |           VARCHAR), 1, 1) AS INT) AS digit,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |t AS (SELECT SUM(n_orders) AS total FROM d)
      |SELECT digit, n_orders,
      |       CAST(n_orders * 10000 // total AS BIGINT) AS obs_bp,
      |       CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
      |            WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
      |            WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
      |            WHEN 9 THEN 457 ELSE 0 END AS BIGINT) AS exp_bp,
      |       CAST(n_orders * 10000 // total
      |            - CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
      |              WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
      |              WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
      |              WHEN 9 THEN 457 ELSE 0 END AS BIGINT) AS dev_bp
      |FROM d, t
      |ORDER BY digit""".stripMargin

  private final val DriftMeanTolC = 500L
  /** Snapshot statistics drift (q205): the event log split at its
    * calendar midpoint into an early and a late half, per-event-type
    * distribution statistics (volume, null-value rate, mean value)
    * compared across halves — the ingestion-regression screen a
    * warehouse runs when a producer deploy may have changed semantics
    * (the distributional complement of q187's row-level contracts and
    * q196's vocabulary χ²).
    *
    * Determinism: the split day is `min_day + (span div 2)` — exact
    * integer day arithmetic off a 1-row broadcast; rates are integer
    * basis points, means are floor-divided cents.
    *
    * Scale shape: the corpus reduces to the (event_type × DAY) histogram
    * in ONE scan + one map-side-combined aggregate (calendar-bounded
    * rows at any corpus size); the split midpoint, the half tag and the
    * final per-type rollup all run over that histogram — a naive
    * formulation scans the corpus twice (once for min/max, once tagged)
    * and measured near-linear (exp 0.89) for exactly that reason. */
  def snapshotDrift(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(s, dir)
      .select(col("ts").cast("date").as("d"), col("event_type"), col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(coalesce(floor(col("value") * 100 + 0.5d).cast("long"), lit(0L)))
          .as("sum_c"))
      .ckpt // consumers: the midpoint + the half rollup
    val mid = h.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("date_add(d0, cast(datediff(d1, d0) div 2 as int))")
        .as("mid"))
    def half(c: org.apache.spark.sql.Column, x: String) =
      sum(when(c, col(x)).otherwise(lit(0L)))
    h.crossJoin(broadcast(mid))
      .groupBy(col("event_type"))
      .agg(half(col("d") <= col("mid"), "n").as("n_a"),
        half(col("d") <= col("mid"), "n_null").as("null_a"),
        half(col("d") <= col("mid"), "sum_c").as("sum_a"),
        half(col("d") > col("mid"), "n").as("n_b"),
        half(col("d") > col("mid"), "n_null").as("null_b"),
        half(col("d") > col("mid"), "sum_c").as("sum_b"))
      // nullif: an event type present in only one half leaves the other
      // half's n at 0 — both engines must agree on NULL, not differ
      // (Spark div → NULL vs DuckDB // → error). sign·(abs div): event
      // values can be negative; Spark div truncates, DuckDB // floors —
      // agree on the non-negative quotient only (same form as q215/q222).
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("null_a * 10000 div nullif(n_a, 0)").as("null_bp_a"),
        expr("null_b * 10000 div nullif(n_b, 0)").as("null_bp_b"),
        (signum(col("sum_a")).cast("long") *
          expr("abs(sum_a) div nullif(n_a - null_a, 0)")).as("mean_a_c"),
        (signum(col("sum_b")).cast("long") *
          expr("abs(sum_b) div nullif(n_b - null_b, 0)")).as("mean_b_c"))
      .withColumn("mean_shift_c", col("mean_b_c") - col("mean_a_c"))
      .withColumn("drifted",
        (abs(col("mean_shift_c")) > DriftMeanTolC).cast("int"))
      .orderBy(col("event_type"))
  }

  private def driftOracle: String =
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
       |mid AS (SELECT MIN(d) + CAST((MAX(d) - MIN(d)) // 2 AS INT) AS mid
       |        FROM ev),
       |a AS (SELECT event_type,
       |        CAST(SUM(CASE WHEN d <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |        CAST(SUM(CASE WHEN d <= mid AND value IS NULL THEN 1 ELSE 0 END)
       |             AS BIGINT) AS null_a,
       |        CAST(SUM(CASE WHEN d <= mid THEN COALESCE(
       |               CAST(floor(value * 100 + 0.5) AS BIGINT), 0)
       |             ELSE 0 END) AS BIGINT) AS sum_a,
       |        CAST(SUM(CASE WHEN d > mid THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |        CAST(SUM(CASE WHEN d > mid AND value IS NULL THEN 1 ELSE 0 END)
       |             AS BIGINT) AS null_b,
       |        CAST(SUM(CASE WHEN d > mid THEN COALESCE(
       |               CAST(floor(value * 100 + 0.5) AS BIGINT), 0)
       |             ELSE 0 END) AS BIGINT) AS sum_b
       |      FROM ev, mid GROUP BY event_type),
       |b AS (SELECT event_type, n_a, n_b,
       |       CAST(null_a * 10000 // nullif(n_a, 0) AS BIGINT) AS null_bp_a,
       |       CAST(null_b * 10000 // nullif(n_b, 0) AS BIGINT) AS null_bp_b,
       |       CAST(sign(sum_a) * (abs(sum_a) // nullif(n_a - null_a, 0))
       |            AS BIGINT) AS mean_a_c,
       |       CAST(sign(sum_b) * (abs(sum_b) // nullif(n_b - null_b, 0))
       |            AS BIGINT) AS mean_b_c
       |      FROM a)
       |SELECT event_type, n_a, n_b, null_bp_a, null_bp_b, mean_a_c, mean_b_c,
       |       CAST(mean_b_c - mean_a_c AS BIGINT) AS mean_shift_c,
       |       CAST(CASE WHEN abs(mean_b_c - mean_a_c) > $DriftMeanTolC
       |            THEN 1 ELSE 0 END AS INT) AS drifted
       |FROM b
       |ORDER BY event_type""".stripMargin

  /** Winsorized robust statistics (q210): per event type, values clipped
    * at the EXACT p5/p95 cent thresholds (from the integer histogram, the
    * q168 percentile walk) and the mean recomputed on the clipped
    * distribution — the outlier-robust location estimate a metrics
    * pipeline reports next to the raw mean (their gap IS the outlier
    * diagnostic).
    *
    * Determinism + scale: the value histogram is ONE corpus aggregate
    * (value-range-bounded rows); cuts come from a cumulative walk over
    * that histogram (partitioned window above the aggregate); the
    * winsorized sum re-aggregates the HISTOGRAM (n·clip(vc) per row, all
    * exact longs) with the cuts broadcast — the corpus is scanned once,
    * everything downstream is histogram-sized. */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5d).cast("long").as("vc"))
      .groupBy(col("event_type"), col("vc")).agg(count(lit(1)).as("n"))
      .ckpt // consumers: percentile cuts + winsorized sum
    val cum = h
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("event_type")).orderBy(col("vc"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("event_type"))))
    def pct(k: Int) =
      min(when(col("cum") * 100 >= col("tot") * k, col("vc"))).as(s"p$k")
    val cuts = cum.groupBy(col("event_type"))
      .agg(max(col("tot")).as("n_events"), pct(5), pct(95))
    h.join(broadcast(cuts), Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("p5"), col("p95"),
        (col("n") * col("vc")).as("raw"),
        (col("n") * greatest(least(col("vc"), col("p95")), col("p5"))).as("win"))
      .groupBy(col("event_type"))
      .agg(max(col("n_events")).as("n_events"), max(col("p5")).as("p5_c"),
        max(col("p95")).as("p95_c"),
        sum(col("raw")).as("raw_sum"), sum(col("win")).as("win_sum"))
      .select(col("event_type"), col("n_events"), col("p5_c"), col("p95_c"),
        expr("raw_sum div n_events").as("raw_mean_c"),
        expr("win_sum div n_events").as("win_mean_c"))
      .withColumn("shift_c", col("win_mean_c") - col("raw_mean_c"))
      .orderBy(col("event_type"))
  }

  private val winsorizeOracle: String =
    """WITH h AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
      |         COUNT(*) AS n
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |c AS (SELECT event_type, vc, n,
      |             SUM(n) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
      |             SUM(n) OVER (PARTITION BY event_type) AS tot
      |      FROM h),
      |cuts AS (SELECT event_type, MAX(tot) AS n_events,
      |                MIN(CASE WHEN cum * 100 >= tot * 5 THEN vc END) AS p5,
      |                MIN(CASE WHEN cum * 100 >= tot * 95 THEN vc END) AS p95
      |         FROM c GROUP BY event_type)
      |SELECT h.event_type, CAST(MAX(cuts.n_events) AS BIGINT) AS n_events,
      |       CAST(MAX(cuts.p5) AS BIGINT) AS p5_c,
      |       CAST(MAX(cuts.p95) AS BIGINT) AS p95_c,
      |       CAST(SUM(h.n * h.vc) // MAX(cuts.n_events) AS BIGINT)
      |         AS raw_mean_c,
      |       CAST(SUM(h.n * GREATEST(LEAST(h.vc, cuts.p95), cuts.p5))
      |            // MAX(cuts.n_events) AS BIGINT) AS win_mean_c,
      |       CAST(SUM(h.n * GREATEST(LEAST(h.vc, cuts.p95), cuts.p5))
      |            // MAX(cuts.n_events)
      |            - SUM(h.n * h.vc) // MAX(cuts.n_events) AS BIGINT) AS shift_c
      |FROM h JOIN cuts ON h.event_type = cuts.event_type
      |GROUP BY h.event_type
      |ORDER BY h.event_type""".stripMargin

  /** KLL quantile-sketch rollup (q268) — the third mergeable-sketch
    * family completing the HLL (distinct) and CMS (frequency) rollups:
    * order totals are sketched ONCE per (priority, month) fine bucket,
    * then any coarser quantile question (here per priority) is answered
    * by MERGING the stored sketches — |buckets| rows through the final
    * aggregate, never a rescan of the fact table. At 100 TB this is the
    * pre-aggregation pattern for latency/price percentile dashboards:
    * the fine sketches land next to the data and every rollup after is
    * metadata-sized.
    *
    * Oracle discipline: with k sized to the grain (65535 ≥ rows per
    * priority at the gate SFs) the sketch stores values exactly and
    * merged quantiles are TRUE order statistics — bit-equal to DuckDB's
    * `quantile_disc` (probed: identical at p0/p50/p90/p100, and
    * rollup == direct). Past capacity (sf1 bench) it degrades to the
    * published rank-error bound, pinned in ScaleSpec. Values are cents
    * (floor(x·100 + 0.5)) so both engines quantize identically. */
  def priceQuantileRollup(s: SparkSession, dir: String): DataFrame = {
    val withCols = Tables.orders(s, dir)
      .withColumn("__cents",
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
      .withColumn("__m", date_format(col("o_orderdate"), "yyyy-MM"))
    val fine = graft.operators.Scale.kllBuckets(withCols,
      struct(col("o_orderpriority").as("p"), col("__m").as("m")),
      col("__cents"))
    graft.operators.Scale.kllRollup(fine, col("bucket.p"),
        Seq(0.5, 0.9, 0.99))
      .select(col("grain").as("o_orderpriority"), col("n"),
        col("p50"), col("p90"), col("p99"))
      .orderBy(col("o_orderpriority"))
  }

  private def kllRollupOracle: String =
    """SELECT o_orderpriority,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       quantile_disc(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
      |                     0.5) AS p50,
      |       quantile_disc(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
      |                     0.9) AS p90,
      |       quantile_disc(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
      |                     0.99) AS p99
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private final val SkewK = 10
  /** Join-key skew audit (q213): the per-key frequency profile of a
    * join/aggregation key (here `l_partkey`) — the diagnostic a pipeline
    * runs BEFORE picking a salting factor or trusting AQE's skew-join
    * split (operators/Scale.scala holds the remediation; this is the
    * detection). Reports the top-k hottest keys with their corpus share,
    * their ratio to the mean key frequency, and the ceil(freq/mean)
    * salt factor that would level them.
    *
    * Determinism + scale: ONE key aggregate with map-side partials
    * builds the frequency table; totals are a 1-row broadcast; top-k is
    * sort+limit (TakeOrderedAndProject). All ratios are exact integer
    * basis points; `freq·n_keys` stays below 2⁶³ through ~10⁹ keys ×
    * 10⁹-row hot keys — beyond that, pre-divide the mean (audit
    * precision, not correctness, is at stake). */
  def skewAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("freq"))
    val tots = freq.agg(count(lit(1)).as("n_keys"), sum(col("freq")).as("total"))
    freq.orderBy(col("freq").desc, col("l_partkey")).limit(SkewK)
      .crossJoin(broadcast(tots))
      .select(col("l_partkey").as("key"), col("freq"),
        expr("freq * 10000 div total").as("share_bp"),
        expr("freq * n_keys * 10000 div total").as("vs_mean_bp"),
        expr("(freq * n_keys + total - 1) div total").as("salt_factor"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("freq").desc, col("key"))))
      .orderBy(col("rn"))
  }

  private def skewOracle: String =
    s"""WITH f AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS freq
       |           FROM lineitem GROUP BY 1),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |             CAST(SUM(freq) AS BIGINT) AS total FROM f)
       |SELECT key, freq,
       |       CAST(freq * 10000 // total AS BIGINT) AS share_bp,
       |       CAST(freq * n_keys * 10000 // total AS BIGINT) AS vs_mean_bp,
       |       CAST((freq * n_keys + total - 1) // total AS BIGINT)
       |         AS salt_factor,
       |       rn
       |FROM (SELECT f.*, t.*,
       |             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, key) AS INT)
       |               AS rn
       |      FROM f, t) x
       |WHERE rn <= $SkewK
       |ORDER BY rn""".stripMargin

  /** Monthly seasonality index (q214): revenue per calendar month next to
    * its trailing-12-month window, the seasonal index in integer basis
    * points (`rev·win_n·10⁴ div win_sum` — the exact-rational form of
    * rev/trailing-mean, correct also in the <12-month ramp-up where
    * win_n < 12).
    *
    * Scale shape: the corpus reduces to the MONTH histogram in one
    * exact-cents aggregate (calendar-bounded rows at any corpus size);
    * the trailing window runs over that histogram — the q08/q200
    * intentionally-unpartitioned post-aggregation frame, plan-asserted
    * above the aggregate. */
  def seasonalityIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        floor(col("o_totalprice") * 100 + 0.5d).cast("long").as("c"))
      .groupBy(col("month"))
      .agg(sum(col("c")).as("rev_c"), count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("month")).rowsBetween(-11, 0)
    m.withColumn("win_n", count(lit(1)).over(w))
      .withColumn("win_sum_c", sum(col("rev_c")).over(w))
      .select(col("month"), col("n_orders"),
        (col("rev_c").cast("double") / 100).as("revenue"),
        col("win_n"),
        expr("rev_c * win_n * 10000 div win_sum_c").as("index_bp"))
      .orderBy(col("month"))
  }

  private val seasonalityOracle: String =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS rev_c,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT month, n_orders,
      |       CAST(rev_c AS DOUBLE) / 100 AS revenue,
      |       CAST(COUNT(*) OVER w AS BIGINT) AS win_n,
      |       CAST(rev_c * (COUNT(*) OVER w) * 10000 // (SUM(rev_c) OVER w)
      |            AS BIGINT) AS index_bp
      |FROM m
      |WINDOW w AS (ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
      |ORDER BY month""".stripMargin

  /** Contingency independence audit (q215): the (market segment × order
    * status) cross-tab with expected-under-independence counts
    * (`row·col div N`, floor) and per-cell deviation in basis points —
    * the χ²-style independence screen (q196's homogeneity twin over
    * categorical sales dimensions) without squares, so every quantity
    * stays an exact long (`row·col` < 2⁶³ through ~3·10⁹-row marginals;
    * past that, quantize marginals to shares first).
    *
    * Scale shape: one broadcast dim join + one cell aggregate; marginals
    * re-aggregate the |seg|×|status| CELL table (not the corpus) and
    * broadcast back. */
  def contingencyAudit(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderstatus"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    val cell = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderstatus").as("stat"))
      .agg(count(lit(1)).as("n"))
      .ckpt // consumers: both marginals + the total + output
    val rTot = cell.groupBy(col("seg")).agg(sum(col("n")).as("r"))
    val cTot = cell.groupBy(col("stat")).agg(sum(col("n")).as("c"))
    val tot = cell.agg(sum(col("n")).as("total"))
    cell.join(broadcast(rTot), Seq("seg"))
      .join(broadcast(cTot), Seq("stat"))
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("stat"), col("n"),
        expr("r * c div total").as("exp_n"))
      .withColumn("dev", col("n") - col("exp_n"))
      // sign · (|dev|·10⁴ div e): Spark `div` truncates, DuckDB `//`
      // floors — they agree only on non-negative operands, so the
      // division runs on |dev| and the sign re-applies after
      .withColumn("dev_bp",
        signum(col("dev")).cast("long") * expr("abs(n - exp_n) * 10000 div exp_n"))
      .orderBy(col("seg"), col("stat"))
  }

  private val contingencyOracle: String =
    """WITH cell AS (
      |  SELECT c_mktsegment AS seg, o_orderstatus AS stat,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |r AS (SELECT seg, SUM(n) AS r FROM cell GROUP BY 1),
      |ct AS (SELECT stat, SUM(n) AS c FROM cell GROUP BY 1),
      |t AS (SELECT SUM(n) AS total FROM cell)
      |SELECT cell.seg, cell.stat, cell.n,
      |       CAST(r.r * ct.c // t.total AS BIGINT) AS exp_n,
      |       CAST(cell.n - r.r * ct.c // t.total AS BIGINT) AS dev,
      |       CAST(sign(cell.n - r.r * ct.c // t.total)
      |            * (abs(cell.n - r.r * ct.c // t.total) * 10000
      |               // (r.r * ct.c // t.total)) AS BIGINT) AS dev_bp
      |FROM cell JOIN r ON cell.seg = r.seg
      |          JOIN ct ON cell.stat = ct.stat, t
      |ORDER BY cell.seg, cell.stat""".stripMargin

  /** Fulfillment-SLA percentiles (q217): order→ship latency in days per
    * order priority, exact p50/p95/p99 from the integer day histogram —
    * the operational-latency report (TPC-H's shipdate vs orderdate as an
    * SLA surface).
    *
    * Scale shape: ONE fact-fact equi-join on the order key (both sides
    * large → shuffled SMJ, the correct degradation; the join key is the
    * natural co-partitioning key, so bucketed tables would join
    * shuffle-free) reduces immediately to the (priority × days)
    * histogram — calendar-span-bounded rows — and the q168 percentile
    * walk runs over that. */
  def slaPercentiles(s: SparkSession, dir: String): DataFrame =
    slaChain(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate")),
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")))

  /** The q217 aggregate chain over explicit fact frames — shared with
    * q240, which feeds it the bucketed-table scans instead of raw
    * parquet (same values, shuffle-free join plan). */
  private[graft] def slaChain(li: DataFrame, ord: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
      .groupBy(col("priority"), col("days")).agg(count(lit(1)).as("n"))
    val cum = h
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("priority")).orderBy(col("days"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("priority"))))
    def pct(k: Int) =
      min(when(col("cum") * 100 >= col("tot") * k, col("days"))).as(s"p$k")
    cum.groupBy(col("priority"))
      .agg(max(col("tot")).as("n_lines"), pct(50), pct(95), pct(99))
      .select(col("priority"), col("n_lines"), col("p50").as("p50_days"),
        col("p95").as("p95_days"), col("p99").as("p99_days"))
      .orderBy(col("priority"))
  }

  private[graft] val slaOracle: String =
    """WITH h AS (
      |  SELECT o.o_orderpriority AS priority,
      |         date_diff('day', CAST(o.o_orderdate AS DATE),
      |                   CAST(l.l_shipdate AS DATE)) AS days,
      |         COUNT(*) AS n
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |c AS (SELECT priority, days,
      |             SUM(n) OVER (PARTITION BY priority ORDER BY days) AS cum,
      |             SUM(n) OVER (PARTITION BY priority) AS tot
      |      FROM h)
      |SELECT priority, CAST(MAX(tot) AS BIGINT) AS n_lines,
      |       CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN days END) AS BIGINT)
      |         AS p50_days,
      |       CAST(MIN(CASE WHEN cum * 100 >= tot * 95 THEN days END) AS BIGINT)
      |         AS p95_days,
      |       CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN days END) AS BIGINT)
      |         AS p99_days
      |FROM c GROUP BY priority
      |ORDER BY priority""".stripMargin

  /** Revenue-concentration audit (q219): the Lorenz curve sampled at the
    * ten customer-decile boundaries plus the exact Gini coefficient of
    * per-customer spend — the whale-dependence metric a revenue team
    * tracks (how much of revenue the bottom k/10 of customers carry).
    *
    * Determinism + scale: spend quantizes per customer to WHOLE DOLLARS
    * (documented coarsening) so the spend histogram is value-range-
    * bounded, never customer-count-sized; the cumulative walk and the
    * decile picks run over that histogram (the one unpartitioned window
    * input — plan-asserted above an aggregate). Gini comes from the
    * closed form over value runs: a run of c customers at value v after
    * `cum₋` predecessors contributes v·(c·cum₋ + c(c+1)/2) to the
    * rank-weighted sum S, and G_bp = (2S − (n+1)T)·10⁴ div (n·T) — all
    * exact longs (2S ≥ (n+1)T by sortedness, so the floor division runs
    * on non-negatives; overflow ceiling ~10⁹ customers × 10⁶-dollar
    * spends, document-not-guard per the GramMoments rule). */
  def revenueConcentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.orders(s, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5d).cast("long").as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("spend_c"))
      .select(expr("spend_c div 100").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("v"))
    val cum = h
      .withColumn("cumn", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cumv", sum(col("v") * col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s_run",
        col("v") * ((col("cnt") * (col("cumn") - col("cnt"))) +
          expr("cnt * (cnt + 1) div 2")))
    val tots = cum.agg(max(col("cumn")).as("n"), max(col("cumv")).as("t"),
      sum(col("s_run")).as("s"))
    val lorenz = (1 to 10).map(k =>
      min(when(col("cumn") * 10 >= col("n") * k,
        expr("cumv * 10000 div t"))).as(s"l$k"))
    val row = cum.crossJoin(broadcast(tots))
      .agg(lorenz.head, lorenz.tail: _*)
      .crossJoin(broadcast(tots))
      // the ×10⁴ product overflows LONG well before the inputs do
      // (numerator ≤ n·t ≈ 3·10¹⁵ at sf1 → ×10⁴ > 2⁶³): widen JUST that
      // product to decimal(38,0) (DuckDB: HUGEINT), floor-divide, and
      // land back in BIGINT — caught by the sf1 bench, where every run
      // of this expression aborted with ARITHMETIC_OVERFLOW
      .withColumn("gini_bp",
        expr("cast((cast(2 * s - (n + 1) * t as decimal(38,0)) * 10000)" +
          " div (n * t) as bigint)"))
    row.select(
      expr(s"stack(10, ${(1 to 10).map(k => s"$k, l$k").mkString(", ")})")
        .as(Seq("decile", "cum_share_bp")),
      col("n").as("n_customers"), col("gini_bp"))
      .orderBy(col("decile"))
  }

  private val concentrationOracle: String =
    """WITH sp AS (
      |  SELECT o_custkey,
      |         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 100 AS v
      |  FROM orders GROUP BY 1),
      |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM sp GROUP BY 1),
      |c AS (SELECT v, cnt,
      |             SUM(cnt) OVER (ORDER BY v) AS cumn,
      |             SUM(v * cnt) OVER (ORDER BY v) AS cumv
      |      FROM h),
      |c2 AS (SELECT *, v * (cnt * (cumn - cnt) + cnt * (cnt + 1) // 2)
      |                AS s_run FROM c),
      |t AS (SELECT MAX(cumn) AS n, MAX(cumv) AS t, SUM(s_run) AS s FROM c2),
      |l AS (SELECT k.k AS decile,
      |             MIN(CASE WHEN c2.cumn * 10 >= t.n * k.k
      |                 THEN c2.cumv * 10000 // t.t END) AS cum_share_bp
      |      FROM c2, t, (SELECT unnest(range(1, 11)) AS k) k
      |      GROUP BY 1)
      |SELECT CAST(l.decile AS INT) AS decile,
      |       CAST(l.cum_share_bp AS BIGINT) AS cum_share_bp,
      |       CAST(t.n AS BIGINT) AS n_customers,
      |       CAST(CAST(2 * t.s - (t.n + 1) * t.t AS HUGEINT) * 10000
      |            // (t.n * t.t) AS BIGINT) AS gini_bp
      |FROM l, t
      |ORDER BY decile""".stripMargin

  private final val SaltedSalts = 8
  private final val SaltedTopK = 15
  /** Skew-safe salted top-k aggregate (q227): the q213 audit's
    * remediation, oracle-gated — per-part quantity/revenue totals
    * aggregated through `Scale.saltedAgg` (partial aggregate on
    * (key, salt) splits any hot key across reducers in the first
    * shuffle, final aggregate on key merges the ≤`SaltedSalts` partials).
    * Values are EXACTLY those of the plain aggregate — which is what
    * the plain-SQL oracle proves — because counts and decimal sums are
    * associative; salting changes row routing, never results.
    *
    * Scale shape: two hash aggregates with map-side partials (the
    * second over ≤ keys·salts rows); top-k is TakeOrderedAndProject. */
  def saltedTopParts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = graft.operators.Scale.saltedAgg(
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice")),
      "l_partkey", SaltedSalts,
      Seq(
        (count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c), "n_lines"),
        (sum(col("l_quantity").cast("decimal(18,2)")),
          (c: org.apache.spark.sql.Column) => sum(c), "qty"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")),
          (c: org.apache.spark.sql.Column) => sum(c), "rev")))
    // rank on the exact DECIMAL sum (`rev`), not its double cast: two
    // parts whose decimal revenues collide at double precision would
    // otherwise tie-break by partkey here but by decimal order in the
    // oracle's ROW_NUMBER, flipping ranks.
    agg
      .orderBy(col("rev").desc, col("l_partkey"))
      .limit(SaltedTopK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rev").desc, col("l_partkey"))))
      .select(col("l_partkey"), col("n_lines"),
        col("qty").cast("double").as("total_qty"),
        col("rev").cast("double").as("total_rev"), col("rn"))
      .orderBy(col("rn"))
  }

  private def saltedTopOracle: String =
    s"""SELECT l_partkey, n_lines, total_qty, total_rev, rn FROM (
       |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
       |           AS total_qty,
       |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       |           AS total_rev,
       |         CAST(ROW_NUMBER() OVER (ORDER BY
       |                SUM(CAST(l_extendedprice AS DECIMAL(18,2))) DESC,
       |                l_partkey) AS INT) AS rn
       |  FROM lineitem GROUP BY l_partkey) t
       |WHERE rn <= $SaltedTopK
       |ORDER BY rn""".stripMargin

  /** Daily-volume trend slope (q228): exact integer least squares over
    * the day histogram — slope in micro-events/day via the
    * cross-multiplied normal-equation form `(n·Σxy − Σx·Σy)·10⁶ div
    * (n·Σx² − (Σx)²)`, sign·abs floor division (the numerator is
    * signed). x = days since the first observed day (missing days are
    * real gaps, not reindexed away); the q193/q200 family's trend
    * member.
    *
    * Scale shape: one corpus aggregate to the calendar-bounded day
    * histogram; the regression is a second 1-row aggregate over it. */
  def dailyTrend(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(s, dir)
      .select(col("ts").cast("date").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("y"))
    val d0 = h.agg(min(col("d")).as("d0"))
    h.crossJoin(broadcast(d0))
      .select(datediff(col("d"), col("d0")).cast("long").as("x"), col("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_days"), col("sy").as("n_events"),
        // q219 overflow class: |n·sxy − sx·sy|·10⁶ exceeds LONG at
        // ~10⁹-events/day volumes — widen the product (oracle: HUGEINT)
        (signum(expr("n * sxy - sx * sy")).cast("long") *
          expr("cast(cast(abs(n * sxy - sx * sy) as decimal(38,0))" +
            " * 1000000 div (n * sxx - sx * sx) as bigint)"))
          .as("slope_micro_per_day"),
        expr("sy div n").as("mean_per_day"))
  }

  // private[graft]: the q237 event-dashboard oracle embeds this text
  private[graft] val dailyTrendOracle: String =
    """WITH h AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      |           FROM events GROUP BY 1),
      |x AS (SELECT CAST(d - (SELECT MIN(d) FROM h) AS BIGINT) AS x, y FROM h),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |             CAST(SUM(y) AS BIGINT) AS sy,
      |             CAST(SUM(x * y) AS BIGINT) AS sxy,
      |             CAST(SUM(x * x) AS BIGINT) AS sxx
      |      FROM x)
      |SELECT n AS n_days, sy AS n_events,
      |       CAST(sign(n * sxy - sx * sy)
      |            * (CAST(abs(n * sxy - sx * sy) AS HUGEINT) * 1000000
      |               // (n * sxx - sx * sx)) AS BIGINT) AS slope_micro_per_day,
      |       CAST(sy // n AS BIGINT) AS mean_per_day
      |FROM a""".stripMargin

  /** Robust volume-anomaly detection (q271): per-(event_type, day)
    * counts flagged against their OWN type's median/MAD — the
    * median-absolute-deviation rule is the standard monitoring detector
    * because one outage day corrupts a mean/stddev control band but not
    * the median's. Threshold: robust z = 0.6745·dev/mad > 3 ⇔
    * dev > 4.447·mad, applied as the EXACT integer comparison
    * `1000·dev ≥ 4448·mad` (both engines agree with no float division);
    * mad = 0 (an utterly regular series) degrades to flagging any
    * deviation. Medians are LOWER order statistics (rank ⌈n/2⌉ of the
    * sorted multiset) — rank selection by value is tie-order-independent,
    * so no engine-dependent interpolation anywhere.
    *
    * Scale shape: the only corpus-size pass is the map-side-combinable
    * (type, day) count; both median walks and the MAD join run on the
    * calendar-bounded counts frame (|types|·|days| rows — the q232/q235
    * argument), with the per-type medians broadcast back. */
  def madAnomaly(s: SparkSession, dir: String): DataFrame =
    madAnomalyOf(Tables.events(s, dir))

  /** The detector over ANY (event_type, ts) frame — the synthetic gate
    * fixture is too regular to fire the 3σ flag, so AuditsSpec drives
    * the positive branch (and the mad=0 degenerate) through injected
    * spikes here. */
  private[graft] def madAnomalyOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    val counts = events
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .ckpt // feeds the median walk AND the probe side — one events scan
    val med = counts
      .withColumn("rn", row_number().over(byType.orderBy(col("n"))))
      .withColumn("tot", count(lit(1)).over(byType))
      .filter(col("rn") === expr("(tot + 1) div 2"))
      .select(col("event_type"), col("n").as("med"))
    val dev = counts.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = dev
      .withColumn("rn", row_number().over(byType.orderBy(col("dev"))))
      .withColumn("tot", count(lit(1)).over(byType))
      .filter(col("rn") === expr("(tot + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"), col("med"),
        col("dev"), col("mad"),
        when(col("mad") === 0, lit(null).cast("long"))
          .otherwise(expr("dev * 10000 div mad")).as("robust_z_bp"),
        when(col("mad") === 0, (col("dev") > 0).cast("int"))
          .otherwise((col("dev") * 1000 >= col("mad") * 4448).cast("int"))
          .as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  private val madOracle: String =
    """WITH c AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, n AS med FROM (
      |    SELECT event_type, n,
      |           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS rn,
      |           COUNT(*) OVER (PARTITION BY event_type) AS tot
      |    FROM c) WHERE rn = (tot + 1) // 2),
      |dv AS (
      |  SELECT c.event_type, c.day, c.n, m.med, abs(c.n - m.med) AS dev
      |  FROM c JOIN m USING (event_type)),
      |md AS (
      |  SELECT event_type, dev AS mad FROM (
      |    SELECT event_type, dev,
      |           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
      |           COUNT(*) OVER (PARTITION BY event_type) AS tot
      |    FROM dv) WHERE rn = (tot + 1) // 2)
      |SELECT dv.event_type, dv.day, dv.n, dv.med, dv.dev, md.mad,
      |       CAST(CASE WHEN md.mad = 0 THEN NULL
      |                 ELSE dv.dev * 10000 // md.mad END AS BIGINT)
      |         AS robust_z_bp,
      |       CAST(CASE WHEN md.mad = 0 THEN dv.dev > 0
      |                 ELSE 1000 * dv.dev >= 4448 * md.mad END AS INT)
      |         AS is_anomaly
      |FROM dv JOIN md USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q271_mad_anomaly", (s, d) => madAnomaly(s, d), Some(madOracle)),
    Q("q227_salted_topk", (s, d) => saltedTopParts(s, d),
      Some(saltedTopOracle)),
    Q("q228_daily_trend", (s, d) => dailyTrend(s, d),
      Some(dailyTrendOracle)),
    Q("q217_sla_percentiles", (s, d) => slaPercentiles(s, d),
      Some(slaOracle)),
    Q("q219_revenue_concentration", (s, d) => revenueConcentration(s, d),
      Some(concentrationOracle)),
    Q("q204_sales_cube", (s, d) => salesCube(s, d), Some(cubeOracle)),
    Q("q213_skew_audit", (s, d) => skewAudit(s, d), Some(skewOracle)),
    Q("q268_kll_quantile_rollup", (s, d) => priceQuantileRollup(s, d),
      Some(kllRollupOracle)),
    Q("q214_seasonality", (s, d) => seasonalityIndex(s, d),
      Some(seasonalityOracle)),
    Q("q215_contingency", (s, d) => contingencyAudit(s, d),
      Some(contingencyOracle)),
    Q("q205_snapshot_drift", (s, d) => snapshotDrift(s, d),
      Some(driftOracle)),
    Q("q210_winsorized_stats", (s, d) => winsorizedStats(s, d),
      Some(winsorizeOracle)),
    Q("q211_benford_audit", (s, d) => benfordAudit(s, d),
      Some(benfordOracle)))
}
