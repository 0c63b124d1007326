package graft.reports

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational reshaping + set-op + window-frame operators rounding out the
  * SURVEY §2.5/§2.6 inventory: pivot (wide conditional aggregation, the
  * reference dashboard's series-per-status done relationally), unpivot
  * (melt — the export pipeline's attribute-per-row form,
  * `ExportProjectionCreator` emits per-attribute rows), INTERSECT/EXCEPT,
  * OR-of-ANDs predicate pushdown (TPC-H Q19 shape), and running-total
  * window frames.
  *
  * Scale notes: the pivot uses EXPLICIT value lists (no driver-side
  * distinct-discovery job over 100 TB); set ops are single hash
  * aggregates; the Q19 OR-of-ANDs stays a residual on a broadcast join so
  * the fact scan never shuffles; running totals window per customer (no
  * global partition).
  */
object Reshape {

  private def dec(c: Column): Column = c.try_cast(DecimalType(18, 2)) // try_cast: NaN/Inf/overflow row -> null, not an ANSI job kill

  /** Pivot: year × order-status revenue matrix with explicit pivot values. */
  def statusPivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .groupBy(col("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec(col("o_totalprice"))))
      .select(col("yr"),
        col("F").cast("double").as("amt_f"),
        col("O").cast("double").as("amt_o"),
        col("P").cast("double").as("amt_p"))
      .orderBy(col("yr"))

  /** Unpivot (melt): part metrics to attribute-per-row form. */
  def partMelt(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(
        Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")),
        "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))

  /** Skew-salted aggregation through the driver gate: per-returnflag
    * totals computed via `Scale.saltedAgg` — the fact shuffles on
    * (flag, salt) so each of the THREE hot keys (maximal skew: |keys| ≪
    * cores) spreads across 16 reducers, then the tiny salted partials
    * re-reduce. The oracle is the plain GROUP BY: salting must be
    * invisible in the values (decimal partials make the two-level sum
    * exact, so this is bit-identical, not approximately right). */
  def saltedFlagTotals(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.saltedAgg(
        Tables.lineitem(s, dir).select(col("l_returnflag").as("flag"),
          col("l_quantity")),
        "flag", salts = 16,
        Seq(
          (sum(dec(col("l_quantity"))), (c: Column) => sum(c), "sum_qty"),
          (count(lit(1)), (c: Column) => sum(c), "cnt")))
      .select(col("flag"), col("sum_qty").cast("double").as("sum_qty"),
        col("cnt"))
      .orderBy(col("flag"))

  private final val TrailingSpendDays = 7
  /** RANGE-framed time window: 7-day trailing spend per customer at each
    * order — the time-based sibling of q67's ROWS frame. The frame bound
    * is an event-TIME range (`rangeBetween` over epoch seconds), so
    * same-instant orders aggregate together regardless of row order —
    * rows-framed trailing sums are nondeterministic under timestamp
    * ties, range-framed ones are not. One shuffle (customer), per-group
    * sort, exact decimal accumulation cast at the boundary. */
  def trailingSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-TrailingSpendDays.toLong * 86400L, 0L)
    Tables.orders(s, dir)
      .withColumn("trailing_spend",
        sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"),
        col("trailing_spend"))
      .orderBy(col("o_orderkey"))
  }

  /** INTERSECT / EXCEPT: nations present in both customer and supplier
    * bases vs customer-only, tagged and unioned. */
  private final val AnomalyDays = 7
  private final val AnomalyMinPrior = 5
  /** Trailing-window anomaly detection (q161) — per user, flag events
    * whose value sits more than 2σ from the mean of that user's PRIOR
    * events in a 7-day RANGE window (current row and its ts-ties
    * excluded via the `-1`-micro upper bound — no self-contamination,
    * and the frame is tie-deterministic, unlike a ROWS frame). The
    * streaming-observability op a pipeline runs over its own telemetry.
    *
    * Determinism: values quantize to integer cents FIRST
    * (floor(x·100+0.5), the kmeans idiom), so the window SUM/SUM-of-
    * squares are exact integers no matter what order a segment-tree
    * window aggregator adds them in; the 2σ test compares doubles
    * derived from those identical integers — (v·n−s)² > 4·(n·q−s²) —
    * i.e. variance math without ever dividing, so no rounding boundary
    * exists. Cold start: fewer than 5 priors ⇒ never anomalous.
    *
    * Scale shape: one user-keyed shuffle + per-user range frame
    * (bounded by events-per-user·window, not corpus); map-only
    * everywhere else. */
  def valueAnomaly(s: SparkSession, dir: String): DataFrame = {
    val windowUs = AnomalyDays * 86400000000L
    val e = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"),
        floor(col("value") * 100 + 0.5d).cast("long").as("vc"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-windowUs, -1L)
    val n = col("n_prior").cast("double")
    val sPr = col("s_prior").cast("double")
    val q = col("q_prior").cast("double")
    e.withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("s_prior", sum(col("vc")).over(w))
      .withColumn("q_prior", sum(col("vc") * col("vc")).over(w))
      .select(col("user_id"), col("event_id"), col("vc"), col("n_prior"),
        when(col("n_prior") >= AnomalyMinPrior &&
            pow(col("vc").cast("double") * n - sPr, 2) >
              lit(4d) * (n * q - sPr * sPr), 1)
          .otherwise(0).cast("int").as("is_anomaly"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private def valueAnomalyOracle: String = {
    val windowUs = AnomalyDays * 86400000000L
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus,
       |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
       |  FROM events),
       |w AS (SELECT user_id, event_id, vc,
       |             CAST(COUNT(*) OVER win AS BIGINT) AS n_prior,
       |             CAST(SUM(vc) OVER win AS BIGINT) AS s_prior,
       |             CAST(SUM(vc * vc) OVER win AS BIGINT) AS q_prior
       |      FROM e WINDOW win AS (
       |        PARTITION BY user_id ORDER BY tus
       |        RANGE BETWEEN $windowUs PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, vc, n_prior,
       |       CAST(CASE WHEN n_prior >= $AnomalyMinPrior AND
       |            POWER(CAST(vc AS DOUBLE) * n_prior - s_prior, 2) >
       |            4.0 * (CAST(n_prior AS DOUBLE) * CAST(q_prior AS DOUBLE)
       |                   - CAST(s_prior AS DOUBLE) * CAST(s_prior AS DOUBLE))
       |            THEN 1 ELSE 0 END AS INT) AS is_anomaly
       |FROM w
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** Exact distributed percentiles from an integer histogram (q168) —
    * p50/p95/p99 of event value per event type, the telemetry-SLO
    * rollup. Values quantize to cents, so the histogram's cardinality
    * is value-range-bounded (not corpus-bounded): one corpus-sized
    * hash aggregate builds per-(type, cents) counts with map-side
    * combine, and the percentile walk — pₖ = min v with cum·100 ≥
    * k·total, all integer — runs over that small frame. Exact answers
    * with sketch-sized state; the mergeable-sketch alternative for
    * UNBOUNDED value domains is `operators.Scale`'s CMS/HLL gear. */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5d).cast("long").as("vc"))
      .groupBy(col("event_type"), col("vc")).agg(count(lit(1)).as("n"))
    val cum = h
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("event_type")).orderBy(col("vc"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("event_type"))))
    def pct(k: Int) =
      min(when(col("cum") * 100 >= col("tot") * k, col("vc"))).as(s"p$k")
    cum.groupBy(col("event_type"))
      .agg(max(col("tot")).as("n_events"), pct(50), pct(95), pct(99))
      .orderBy(col("event_type"))
  }

  private def valuePercentilesOracle: String =
    s"""WITH h AS (
       |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
       |         COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |c AS (SELECT event_type, vc,
       |             SUM(n) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
       |             SUM(n) OVER (PARTITION BY event_type) AS tot
       |      FROM h)
       |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n_events,
       |       CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN vc END) AS BIGINT)
       |         AS p50,
       |       CAST(MIN(CASE WHEN cum * 100 >= tot * 95 THEN vc END) AS BIGINT)
       |         AS p95,
       |       CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN vc END) AS BIGINT)
       |         AS p99
       |FROM c GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  def nationSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
    c.intersect(su).withColumn("src", lit("both"))
      .unionByName(c.except(su).withColumn("src", lit("customer_only")))
      .orderBy(col("nationkey"), col("src"))
  }

  /** TPC-H Q19 shape: disjunctive brand/size/quantity predicate bands as a
    * residual on a broadcast part join — exercises OR-of-ANDs
    * simplification + pushdown of the extractable `p_size >= 1` conjunct. */
  def orBandsRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    // exact decimal product (see Tpch.discountedRev): double-then-round
    // is engine-unstable near rounding midpoints
    val li = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_quantity"),
      (dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount")))).as("rev"))
    val bands =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 5) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bands)
      .agg(sum(col("rev")).cast("double").as("revenue"), count(lit(1)).as("cnt"))
  }

  /** Running-total window frame: cumulative per-customer spend in order
    * date order (exact decimal prefix sums, double on output). */
  def runningTotals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spent"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qs: Seq[Q] = Seq(
    Q("q161_value_anomaly", (s, d) => valueAnomaly(s, d),
      Some(valueAnomalyOracle)),
    Q("q168_value_percentiles", (s, d) => valuePercentiles(s, d),
      Some(valuePercentilesOracle)),
    Q("q114_salted_agg", (s, d) => saltedFlagTotals(s, d), Some(
      """SELECT l_returnflag AS flag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY flag""".stripMargin)),
    Q("q111_trailing_spend", (s, d) => trailingSpend(s, d), Some(
      """SELECT o_orderkey, o_custkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_day,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS trailing_spend
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),
    Q("q63_status_pivot", (s, d) => statusPivot(s, d), Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS amt_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS amt_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS amt_p
        |FROM orders
        |GROUP BY 1
        |ORDER BY yr""".stripMargin)),
    Q("q64_part_melt", (s, d) => partMelt(s, d), Some(
      """SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |ORDER BY p_partkey, metric""".stripMargin)),
    Q("q65_nation_setops", (s, d) => nationSetOps(s, d), Some(
      """SELECT nationkey, 'both' AS src FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey, src""".stripMargin)),
    Q("q66_or_bands", (s, d) => orBandsRevenue(s, d), Some(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    Q("q67_running_totals", (s, d) => runningTotals(s, d), Some(
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey
        |                  ORDER BY o_orderdate, o_orderkey
        |                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spent
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin))
  )
}
