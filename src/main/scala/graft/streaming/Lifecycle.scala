package graft.streaming
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer-lifecycle and behavioral-sequence analytics: the life-table /
  * transition-matrix / concurrency rollups a retention team runs on top
  * of the same event and order history the reference's dashboards read
  * (SURVEY §2.5; `CustomerReportService` new-vs-returning slices,
  * generalized to proper survival and Markov form).
  */
object Lifecycle {

  /** Discrete-time churn life table (q202): per 30-day "month" k since
    * first order, how many customers' purchasing lifetime ENDED at k
    * (last order k months after their first) out of those still at risk
    * (lifetime ≥ k), with the hazard rate in integer basis points — the
    * actuarial life-table form of churn (each customer is one complete
    * observation; the generator's window has no censoring mechanism, so
    * no censored column exists to model).
    *
    * Determinism: lifetime is `datediff(day) div 30` — integer floor
    * division; hazards are `ended·10⁴ div at_risk` — exact at any
    * parallelism, identical in DuckDB (`//`).
    *
    * Scale shape: ONE custkey-keyed aggregate (map-side partial
    * min/max) reduces orders to a per-customer row; the lifetime
    * histogram is calendar-bounded (≤ a few hundred rows at ANY corpus
    * size), and the at-risk reverse cumulative sum is a window over
    * THAT histogram — never a corpus-wide window (plan-asserted). */
  def churnLifeTable(s: SparkSession, dir: String): DataFrame = {
    val life = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_o"), max(col("o_orderdate")).as("last_o"))
      .select(expr("datediff(last_o, first_o) div 30").as("month_k"))
      .groupBy(col("month_k")).agg(count(lit(1)).as("n_ended"))
    life
      .withColumn("n_at_risk", sum(col("n_ended")).over(
        Window.orderBy(col("month_k").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("month_k").cast("int").as("month_k"), col("n_ended"),
        col("n_at_risk"),
        expr("n_ended * 10000 div n_at_risk").as("hazard_bp"))
      .orderBy(col("month_k"))
  }

  private val lifeTableOracle: String =
    """WITH cl AS (
      |  SELECT date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) // 30
      |           AS month_k
      |  FROM orders GROUP BY o_custkey),
      |h AS (SELECT month_k, CAST(COUNT(*) AS BIGINT) AS n_ended
      |      FROM cl GROUP BY month_k)
      |SELECT CAST(month_k AS INT) AS month_k, n_ended,
      |       CAST(SUM(n_ended) OVER (ORDER BY month_k DESC
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS n_at_risk,
      |       CAST(n_ended * 10000 // SUM(n_ended) OVER (ORDER BY month_k DESC
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS hazard_bp
      |FROM h
      |ORDER BY month_k""".stripMargin

  private final val MarkovK = 25
  /** First-order Markov transition matrix (q203) over in-session event
    * sequences: P(next = b | current = a) in integer basis points, next
    * to the unconditional base rate of b — the (p − base) delta is the
    * behavioral lift a next-action model would exploit. Transitions
    * never cross the 30-minute session boundary (q39/q186 semantics).
    *
    * Scale shape: sessionization and the LEAD ride ONE user-keyed
    * exchange (plan-asserted); everything downstream operates on the
    * transition MATRIX — |event types|² rows at any corpus size — via
    * broadcast joins of its own marginals. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trans = Tables.events(s, dir)
      .withColumn("new_s",
        when(unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)
          > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(wRun))
      .withColumn("nxt", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("cnt"))
      .ckpt // consumers: row marginal, col marginal, total
    val rowTot = trans.groupBy(col("cur")).agg(sum(col("cnt")).as("row_tot"))
    val colTot = trans.groupBy(col("nxt")).agg(sum(col("cnt")).as("col_tot"))
    val total = trans.agg(sum(col("cnt")).as("tot"))
    trans.join(broadcast(rowTot), Seq("cur"))
      .join(broadcast(colTot), Seq("nxt"))
      .crossJoin(broadcast(total))
      .select(col("cur"), col("nxt"), col("cnt"),
        expr("cnt * 10000 div row_tot").as("p_bp"),
        expr("col_tot * 10000 div tot").as("base_bp"))
      .withColumn("delta_bp", col("p_bp") - col("base_bp"))
      .orderBy(col("cnt").desc, col("cur"), col("nxt"))
      .limit(MarkovK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("cur"), col("nxt"))))
      .orderBy(col("rn"))
  }

  private def markovOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
       |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM events),
       |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM e),
       |tr AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |         SELECT event_type AS cur,
       |                LEAD(event_type, 1) OVER (PARTITION BY user_id, sid
       |                  ORDER BY ts, event_id) AS nxt
       |         FROM s) t
       |       WHERE nxt IS NOT NULL GROUP BY cur, nxt),
       |rt AS (SELECT cur, SUM(cnt) AS row_tot FROM tr GROUP BY cur),
       |ct AS (SELECT nxt, SUM(cnt) AS col_tot FROM tr GROUP BY nxt),
       |tot AS (SELECT SUM(cnt) AS tot FROM tr)
       |SELECT cur, nxt, cnt, p_bp, base_bp, delta_bp, rn FROM (
       |  SELECT tr.cur, tr.nxt, tr.cnt,
       |         CAST(tr.cnt * 10000 // rt.row_tot AS BIGINT) AS p_bp,
       |         CAST(ct.col_tot * 10000 // tot.tot AS BIGINT) AS base_bp,
       |         CAST(tr.cnt * 10000 // rt.row_tot
       |              - ct.col_tot * 10000 // tot.tot AS BIGINT) AS delta_bp,
       |         CAST(ROW_NUMBER() OVER (ORDER BY tr.cnt DESC, tr.cur, tr.nxt)
       |              AS INT) AS rn
       |  FROM tr JOIN rt ON tr.cur = rt.cur
       |          JOIN ct ON tr.nxt = ct.nxt, tot) t
       |WHERE rn <= $MarkovK
       |ORDER BY rn""".stripMargin

  /** Interval-coverage concurrency (q212): per day, the PEAK number of
    * simultaneously-active user sessions and the first minute reaching
    * it — the capacity-planning rollup over the q39 session intervals.
    *
    * Scale shape — the point of the operator: naive peak-concurrency is
    * an interval self-join (quadratic in concurrent sessions) or a
    * GLOBALLY-ordered running sum over start/end deltas (a corpus-wide
    * single-partition window). Instead each session interval EXPLODES to
    * its covered minute buckets (bounded by session length — the
    * sessionize gap caps idle stretches, so rows-out is O(active
    * minutes), linear); concurrency is then ONE minute-keyed hash
    * aggregate with map-side partials, and the per-day peak+argmin is a
    * day-keyed struct-max aggregate over the minute HISTOGRAM
    * (calendar-bounded). Same bucket-decomposition discipline as the
    * q74 range join, applied to interval aggregation. */
  def sessionConcurrency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, dir)
      .withColumn("new_s",
        when(unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)
          > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"))
      .select(expr("unix_millis(ts_min) div 60000").as("m_start"),
        expr("unix_millis(ts_max) div 60000").as("m_end"))
    val perMinute = sessions
      .select(explode(sequence(col("m_start"), col("m_end"))).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("conc"))
    perMinute
      .select(date_format(timestamp_millis(col("m") * 60000L), "yyyy-MM-dd")
        .as("day"), col("m"), col("conc"))
      .groupBy(col("day"))
      .agg(max(struct(col("conc"), (-col("m")).as("nm"))).as("pk"))
      .select(col("day"), col("pk.conc").as("peak_sessions"),
        date_format(timestamp_millis(-col("pk.nm") * 60000L),
          "yyyy-MM-dd HH:mm").as("peak_at"))
      .orderBy(col("day"))
  }

  private val concurrencyOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
      |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM e),
      |iv AS (SELECT user_id, sid,
      |              epoch_ms(MIN(ts)) // 60000 AS m_start,
      |              epoch_ms(MAX(ts)) // 60000 AS m_end
      |       FROM s GROUP BY user_id, sid),
      |pm AS (SELECT u.m, CAST(COUNT(*) AS BIGINT) AS conc
      |       FROM iv, UNNEST(range(iv.m_start, iv.m_end + 1)) AS u(m)
      |       GROUP BY u.m)
      |SELECT strftime(make_timestamp(m * 60000000), '%Y-%m-%d') AS day,
      |       conc AS peak_sessions,
      |       strftime(make_timestamp(m * 60000000), '%Y-%m-%d %H:%M') AS peak_at
      |FROM pm
      |QUALIFY ROW_NUMBER() OVER (
      |  PARTITION BY strftime(make_timestamp(m * 60000000), '%Y-%m-%d')
      |  ORDER BY conc DESC, m) = 1
      |ORDER BY day""".stripMargin

  /** A/B experiment report (q218): users assigned to two arms by the md5
    * parity of user_id (the deterministic hash assignment an
    * experimentation platform uses — no RNG, stable across reruns and
    * engines), conversion = the user ever fired a purchase event; the
    * report carries both arms' exact counts, rates in basis points, and
    * the two-proportion z² statistic with a 95% significance flag.
    *
    * Determinism: z² = d²·N / (n_a·n_b·c·(N−c)) with d = conv_a·n_b −
    * conv_b·n_a — every factor an EXACT long (d < 2⁶³ through ~3·10⁹
    * users per arm), combined in ONE double expression with the same
    * tree in both engines, so the rounded statistic cannot drift. The
    * degenerate no-conversion/all-conversion corpus short-circuits to
    * z² = 0 (the statistic is undefined there; 0/0 NaN would be
    * engine-unstable).
    *
    * Scale shape: ONE user-keyed aggregate reduces events to per-user
    * conversion flags (map-side partial max); arm assignment is a
    * map-side md5; everything after runs on the 2-row arm table. */
  def abTestReport(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select(col("conv"),
        substring(md5(col("user_id").cast("string")), 32, 1)
          .isin("0", "2", "4", "6", "8", "a", "c", "e").cast("int").as("arm"))
    val zExpr =
      """CASE WHEN n_a = 0 OR n_b = 0
        |       OR conv_a + conv_b = 0
        |       OR conv_a + conv_b = n_a + n_b THEN 0.0
        |     ELSE round(
        |       cast(conv_a * n_b - conv_b * n_a as double)
        |       * cast(conv_a * n_b - conv_b * n_a as double)
        |       * cast(n_a + n_b as double)
        |       / (cast(n_a as double) * cast(n_b as double)
        |          * cast(conv_a + conv_b as double)
        |          * cast(n_a + n_b - conv_a - conv_b as double)), 4)
        |END""".stripMargin
    // coalesce to 0: an empty md5-parity arm (tiny corpora) makes
    // sum(when(...)) NULL here while the oracle's SUM(CASE...0 END)
    // over users yields 0; nullif guards the rate division on the
    // same edge (Spark div → NULL vs DuckDB // → error).
    users.groupBy(col("arm")).agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      .agg(coalesce(sum(when(col("arm") === 1, col("n"))), lit(0L)).as("n_a"),
        coalesce(sum(when(col("arm") === 1, col("c"))), lit(0L)).as("conv_a"),
        coalesce(sum(when(col("arm") === 0, col("n"))), lit(0L)).as("n_b"),
        coalesce(sum(when(col("arm") === 0, col("c"))), lit(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("conv_a * 10000 div nullif(n_a, 0)").as("rate_a_bp"),
        expr("conv_b * 10000 div nullif(n_b, 0)").as("rate_b_bp"))
      .withColumn("diff_bp", col("rate_a_bp") - col("rate_b_bp"))
      .withColumn("z2_4dp", expr(zExpr))
      .withColumn("significant", (col("z2_4dp") > 3.8416).cast("int"))
  }

  private val abTestOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS conv,
      |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1)
      |                IN ('0','2','4','6','8','a','c','e')
      |              THEN 1 ELSE 0 END AS arm
      |  FROM events GROUP BY user_id),
      |a AS (SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_a,
      |             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
      |               AS conv_a,
      |             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_b,
      |             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
      |               AS conv_b
      |      FROM u),
      |z AS (SELECT n_a, conv_a, n_b, conv_b,
      |       CAST(conv_a * 10000 // nullif(n_a, 0) AS BIGINT) AS rate_a_bp,
      |       CAST(conv_b * 10000 // nullif(n_b, 0) AS BIGINT) AS rate_b_bp,
      |       CASE WHEN n_a = 0 OR n_b = 0
      |              OR conv_a + conv_b = 0
      |              OR conv_a + conv_b = n_a + n_b THEN 0.0
      |            ELSE round(
      |              CAST(conv_a * n_b - conv_b * n_a AS DOUBLE)
      |              * CAST(conv_a * n_b - conv_b * n_a AS DOUBLE)
      |              * CAST(n_a + n_b AS DOUBLE)
      |              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |                 * CAST(conv_a + conv_b AS DOUBLE)
      |                 * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE)), 4)
      |       END AS z2_4dp
      |      FROM a)
      |SELECT n_a, conv_a, n_b, conv_b, rate_a_bp, rate_b_bp,
      |       CAST(rate_a_bp - rate_b_bp AS BIGINT) AS diff_bp,
      |       z2_4dp,
      |       CAST(CASE WHEN z2_4dp > 3.8416 THEN 1 ELSE 0 END AS INT)
      |         AS significant
      |FROM z""".stripMargin

  /** Signup→purchase conversion latency (q223): per user, the gap
    * between the FIRST signup and the FIRST purchase (users whose first
    * purchase precedes their first signup are excluded — returning
    * buyers, not conversions), as a conversion rate plus exact p50/p90
    * hours from the integer hour histogram.
    *
    * Scale shape: ONE user-keyed aggregate (two conditional map-side
    * mins) reduces the event log; the latency histogram is
    * observation-window-bounded and the percentile walk runs over it
    * (the only unpartitioned window input, plan-asserted). */
  def conversionLatency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("s_min"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_min"))
      .filter(col("s_min").isNotNull)
      .select(
        when(col("p_min") >= col("s_min"),
          expr("(unix_millis(p_min) - unix_millis(s_min)) div 3600000"))
          .as("lat_h"))
      .ckpt // consumers: totals + the hour histogram
    val tot = u.agg(count(lit(1)).as("n_signup"),
      sum(when(col("lat_h").isNotNull, 1L).otherwise(0L)).as("n_conv"))
    val h = u.filter(col("lat_h").isNotNull)
      .groupBy(col("lat_h")).agg(count(lit(1)).as("n"))
    val cum = h
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("lat_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tc", sum(col("n")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    def pct(k: Int) =
      min(when(col("cum") * 100 >= col("tc") * k, col("lat_h"))).as(s"p$k")
    // nullif: a corpus with no signups at all must yield NULL conv_bp in
    // both engines, not a DuckDB division-by-zero error. The oracle
    // reads the percentiles via scalar subqueries over the histogram so
    // BOTH sides emit exactly one row even with zero conversions (a bare
    // `FROM c, t` emits zero rows when c is empty — row-count mismatch).
    cum.agg(pct(50), pct(90))
      .crossJoin(broadcast(tot))
      .select(col("n_signup"), col("n_conv"),
        expr("n_conv * 10000 div nullif(n_signup, 0)").as("conv_bp"),
        col("p50").as("p50_hours"), col("p90").as("p90_hours"))
  }

  private val conversionLatencyOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_min,
      |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_min
      |  FROM events GROUP BY user_id),
      |l AS (SELECT CASE WHEN p_min >= s_min
      |               THEN (epoch_ms(p_min) - epoch_ms(s_min)) // 3600000
      |             END AS lat_h
      |      FROM u WHERE s_min IS NOT NULL),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signup,
      |             CAST(SUM(CASE WHEN lat_h IS NOT NULL THEN 1 ELSE 0 END)
      |                  AS BIGINT) AS n_conv
      |      FROM l),
      |h AS (SELECT lat_h, COUNT(*) AS n FROM l
      |      WHERE lat_h IS NOT NULL GROUP BY 1),
      |c AS (SELECT lat_h, SUM(n) OVER (ORDER BY lat_h) AS cum,
      |             (SELECT SUM(n) FROM h) AS tc
      |      FROM h)
      |SELECT t.n_signup, t.n_conv,
      |       CAST(t.n_conv * 10000 // nullif(t.n_signup, 0) AS BIGINT)
      |         AS conv_bp,
      |       (SELECT CAST(MIN(CASE WHEN c.cum * 100 >= c.tc * 50
      |                        THEN c.lat_h END) AS BIGINT) FROM c)
      |         AS p50_hours,
      |       (SELECT CAST(MIN(CASE WHEN c.cum * 100 >= c.tc * 90
      |                        THEN c.lat_h END) AS BIGINT) FROM c)
      |         AS p90_hours
      |FROM t""".stripMargin

  /** DAU/MAU engagement stickiness (q225): distinct active users per day
    * and per month, stickiness = avg-DAU/MAU in basis points — the
    * engagement ratio every growth dashboard carries.
    *
    * Scale shape: ONE corpus shuffle builds the distinct (user, day)
    * frame (checkpointed; consumers: daily counts + monthly distinct);
    * DAU/MAU counts are aggregates of that reduced frame — chained as
    * separate aggregates joined on the tiny month key, never a
    * count_distinct Expand. */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
      .ckpt
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      .select(substring(col("day"), 1, 7).as("month"), col("dau"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val mau = ud.select(col("user_id"), substring(col("day"), 1, 7).as("month"))
      .distinct()
      .groupBy(col("month")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("month"))
      .select(col("month"), col("n_days"), col("sum_dau"), col("mau"),
        expr("sum_dau * 10000 div (n_days * mau)").as("stickiness_bp"))
      .orderBy(col("month"))
  }

  private val stickinessOracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
      |            FROM events),
      |dau AS (SELECT substr(day, 1, 7) AS month,
      |               CAST(COUNT(*) AS BIGINT) AS n_days,
      |               CAST(SUM(dau) AS BIGINT) AS sum_dau
      |        FROM (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
      |        GROUP BY 1),
      |mau AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS mau FROM
      |          (SELECT DISTINCT user_id, substr(day, 1, 7) AS month FROM ud)
      |        GROUP BY month)
      |SELECT dau.month, dau.n_days, dau.sum_dau, mau.mau,
      |       CAST(dau.sum_dau * 10000 // (dau.n_days * mau.mau) AS BIGINT)
      |         AS stickiness_bp
      |FROM dau JOIN mau ON dau.month = mau.month
      |ORDER BY dau.month""".stripMargin

  /** Time-bounded funnel (q229): view → click within 24 h of the first
    * view → purchase within 7 d of that click — the conversion-window
    * funnel (q89's unbounded "ever after" semantics over-counts;
    * marketing attribution wants bounded windows per step).
    *
    * Scale shape: ALL three stage anchors compute as chained
    * unbounded-frame window minimums over ONE user-keyed exchange
    * (window 2 references window 1's column, window 3 references
    * window 2's — same partitioning, no sort, zero extra shuffles —
    * plan-asserted ≤1 user exchange); the rollup is a distinct-user
    * aggregate of the flags. */
  def windowedFunnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val h24 = 24L * 3600 * 1000000; val d7 = 7L * 24 * 3600 * 1000000
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("v_min",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("c_min",
        min(when(col("event_type") === "click" &&
          col("us") >= col("v_min") && col("us") <= col("v_min") + h24,
          col("us"))).over(w))
      .withColumn("p_min",
        min(when(col("event_type") === "purchase" &&
          col("us") >= col("c_min") && col("us") <= col("c_min") + d7,
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v_min").isNotNull.cast("long")).as("s1"),
        max(col("c_min").isNotNull.cast("long")).as("s2"),
        max(col("p_min").isNotNull.cast("long")).as("s3"))
      .agg(sum(col("s1")).as("n_view"), sum(col("s2")).as("n_click_24h"),
        sum(col("s3")).as("n_purchase_7d"))
      .select(col("n_view"), col("n_click_24h"), col("n_purchase_7d"),
        expr("n_click_24h * 10000 div n_view").as("view_to_click_bp"),
        expr("n_purchase_7d * 10000 div nullif(n_click_24h, 0)")
          .as("click_to_purchase_bp"))
  }

  private val windowedFunnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
      |                 OVER (PARTITION BY user_id) AS v_min FROM e),
      |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
      |                       AND us >= v_min AND us <= v_min + 86400000000
      |                     THEN us END)
      |                 OVER (PARTITION BY user_id) AS c_min FROM w1),
      |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
      |                       AND us >= c_min AND us <= c_min + 604800000000
      |                     THEN us END)
      |                 OVER (PARTITION BY user_id) AS p_min FROM w2),
      |u AS (SELECT user_id,
      |             MAX(CASE WHEN v_min IS NOT NULL THEN 1 ELSE 0 END) AS s1,
      |             MAX(CASE WHEN c_min IS NOT NULL THEN 1 ELSE 0 END) AS s2,
      |             MAX(CASE WHEN p_min IS NOT NULL THEN 1 ELSE 0 END) AS s3
      |      FROM w3 GROUP BY user_id),
      |a AS (SELECT CAST(SUM(s1) AS BIGINT) AS n_view,
      |             CAST(SUM(s2) AS BIGINT) AS n_click_24h,
      |             CAST(SUM(s3) AS BIGINT) AS n_purchase_7d
      |      FROM u)
      |SELECT n_view, n_click_24h, n_purchase_7d,
      |       CAST(n_click_24h * 10000 // n_view AS BIGINT) AS view_to_click_bp,
      |       CAST(n_purchase_7d * 10000 // nullif(n_click_24h, 0) AS BIGINT)
      |         AS click_to_purchase_bp
      |FROM a""".stripMargin

  /** SCD2 snapshot diff (q230): the q154 user-state history compared
    * AS-OF two instants (⅓ and ⅔ through the observed span) — which
    * users appeared, which changed state and along which transition,
    * which held steady. The audit a warehouse runs after a backfill:
    * "what actually changed between these two snapshot times?".
    *
    * Scale shape: the SCD history builds once (checkpointed) and each
    * as-of view is a FILTER over it (half-open interval containment —
    * no time-travel storage needed); the diff is one full-outer join on
    * the key; output is status×transition-bounded. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val scd = graft.etl.Scd.type2(Tables.events(s, dir), "user_id",
      "event_type", "ts", "event_id")
      .ckpt // consumers: bounds + two as-of views
    val bounds = scd.agg(min(col("valid_from_us")).as("lo"),
      max(col("valid_from_us")).as("hi"))
      .select((col("lo") + expr("(hi - lo) div 3")).as("t1"),
        (col("lo") + expr("2 * (hi - lo) div 3")).as("t2"))
    def asOf(t: org.apache.spark.sql.Column) =
      scd.crossJoin(broadcast(bounds))
        .filter(col("valid_from_us") <= t &&
          (col("valid_to_us").isNull || col("valid_to_us") > t))
        .select(col("user_id"), col("attr"))
    val a = asOf(col("t1")).withColumnRenamed("attr", "attr1")
    val b = asOf(col("t2")).withColumnRenamed("attr", "attr2")
    a.join(b, Seq("user_id"), "full_outer")
      .select(
        when(col("attr1").isNull, lit("added"))
          .when(col("attr2").isNull, lit("removed"))
          .when(col("attr1") === col("attr2"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        when(col("attr1").isNotNull && col("attr2").isNotNull &&
          col("attr1") =!= col("attr2"),
          concat(col("attr1"), lit("->"), col("attr2")))
          .otherwise(lit("-")).as("transition"))
      .groupBy(col("status"), col("transition"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("status"), col("transition"))
  }

  private val snapshotDiffOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) AS rn,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT user_id, event_id, event_type, ts
      |      FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
      |scd AS (SELECT user_id, event_type AS attr,
      |               epoch_us(ts) AS valid_from_us,
      |               epoch_us(lead(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id))
      |                 AS valid_to_us
      |        FROM c),
      |bnd AS (SELECT MIN(valid_from_us) + (MAX(valid_from_us)
      |                 - MIN(valid_from_us)) // 3 AS t1,
      |               MIN(valid_from_us) + 2 * (MAX(valid_from_us)
      |                 - MIN(valid_from_us)) // 3 AS t2
      |        FROM scd),
      |a AS (SELECT user_id, attr AS attr1 FROM scd, bnd
      |      WHERE valid_from_us <= t1
      |        AND (valid_to_us IS NULL OR valid_to_us > t1)),
      |b AS (SELECT user_id, attr AS attr2 FROM scd, bnd
      |      WHERE valid_from_us <= t2
      |        AND (valid_to_us IS NULL OR valid_to_us > t2))
      |SELECT CASE WHEN a.attr1 IS NULL THEN 'added'
      |            WHEN b.attr2 IS NULL THEN 'removed'
      |            WHEN a.attr1 = b.attr2 THEN 'unchanged'
      |            ELSE 'changed' END AS status,
      |       CASE WHEN a.attr1 IS NOT NULL AND b.attr2 IS NOT NULL
      |              AND a.attr1 <> b.attr2
      |            THEN a.attr1 || '->' || b.attr2 ELSE '-' END AS transition,
      |       CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM a FULL OUTER JOIN b USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY status, transition""".stripMargin

  /** Cohort LTV curve (q232): cumulative purchase value per signup-month
    * cohort by month age — the lifetime-value grid a growth team reads
    * cohort by cohort. Exact cents; month arithmetic as `year·12+month`
    * integers; the cumulative window runs over the (cohort × age)
    * histogram (calendar²-bounded), partitioned by cohort.
    *
    * Scale shape: one user-keyed aggregate finds each user's cohort
    * month; purchases aggregate per (user-month) and join the
    * broadcast-able user→cohort map; the LTV grid is histogram-sized. */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        (year(col("ts")) * 12 + month(col("ts")) - 1).cast("long").as("ym"))
      .ckpt // consumers: cohort map + purchase rollup
    val cohort = ev.groupBy(col("user_id")).agg(min(col("ym")).as("cym"))
    val sizes = cohort.groupBy(col("cym")).agg(count(lit(1)).as("cohort_users"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ym"))
      .agg(sum(floor(col("value") * 100 + 0.5d).cast("long")).as("rev_c"))
    val grid = purch.join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cym"), (col("ym") - col("cym")).as("age"))
      .agg(sum(col("rev_c")).as("rev_c"))
    grid
      .withColumn("cum_rev_c", sum(col("rev_c")).over(
        Window.partitionBy(col("cym")).orderBy(col("age"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), Seq("cym"))
      .select(col("cym").cast("long").as("cohort_ym"), col("age"),
        col("cohort_users"),
        (col("cum_rev_c").cast("double") / 100).as("cum_revenue"),
        expr("cum_rev_c div cohort_users").as("cum_rev_per_user_c"))
      .orderBy(col("cohort_ym"), col("age"))
  }

  private val cohortLtvOracle: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |                  CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS ym
      |           FROM events),
      |coh AS (SELECT user_id, MIN(ym) AS cym FROM e GROUP BY user_id),
      |cs AS (SELECT cym, CAST(COUNT(*) AS BIGINT) AS cohort_users
      |       FROM coh GROUP BY cym),
      |p AS (SELECT e.user_id, e.ym,
      |             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev_c
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |g AS (SELECT coh.cym, p.ym - coh.cym AS age, SUM(p.rev_c) AS rev_c
      |      FROM p JOIN coh USING (user_id) GROUP BY 1, 2),
      |cum AS (SELECT cym, age,
      |               SUM(rev_c) OVER (PARTITION BY cym ORDER BY age) AS cum_c
      |        FROM g)
      |SELECT cum.cym AS cohort_ym, cum.age, cs.cohort_users,
      |       CAST(cum.cum_c AS DOUBLE) / 100 AS cum_revenue,
      |       CAST(cum.cum_c // cs.cohort_users AS BIGINT)
      |         AS cum_rev_per_user_c
      |FROM cum JOIN cs USING (cym)
      |ORDER BY cohort_ym, age""".stripMargin

  private final val StreaksK = 15
  /** Activity streaks (q233): longest runs of CONSECUTIVE active days
    * per user — the islands-and-gaps pattern (`day − row_number()` is
    * constant within a consecutive run), the engagement metric behind
    * every "n-day streak" badge.
    *
    * Scale shape: ONE corpus shuffle to the distinct (user, day) frame;
    * the row_number window partitions BY USER (per-user day counts are
    * observation-bounded — never a global sort); streaks aggregate on
    * the derived island key; top-k is TakeOrderedAndProject. */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    ud.withColumn("island", expr("date_sub(day, row_number() over " +
        "(partition by user_id order by day))"))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_days"), min(col("day")).as("start_day"))
      .select(col("user_id"),
        date_format(col("start_day"), "yyyy-MM-dd").as("start_day"),
        col("streak_days"))
      .orderBy(col("streak_days").desc, col("user_id"), col("start_day"))
      .limit(StreaksK)
      .withColumn("rn", row_number().over(Window.orderBy(
        col("streak_days").desc, col("user_id"), col("start_day"))))
      .orderBy(col("rn"))
  }

  private def streaksOracle: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
       |            FROM events),
       |i AS (SELECT user_id, day,
       |             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
       |                     ORDER BY day) AS INT) AS island
       |      FROM ud),
       |st AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak_days,
       |              strftime(MIN(day), '%Y-%m-%d') AS start_day
       |       FROM i GROUP BY user_id, island)
       |SELECT user_id, start_day, streak_days, rn FROM (
       |  SELECT user_id, start_day, streak_days,
       |         CAST(ROW_NUMBER() OVER (ORDER BY streak_days DESC, user_id,
       |                start_day) AS INT) AS rn
       |  FROM st) t
       |WHERE rn <= $StreaksK
       |ORDER BY rn""".stripMargin

  /** Rolling 7-day median event value (q235): for every day, the EXACT
    * p50 of values over the trailing 7-day window — the rolling robust
    * baseline an anomaly monitor compares against.
    *
    * Scale shape — rolling percentiles without per-day re-sorts: the
    * corpus reduces once to the (day × value-cent) histogram; each
    * histogram row EXPLODES to the ≤7 target days it contributes to
    * (the q74/q212 bucket-contribution discipline), one (target-day,
    * vc) aggregate merges the shifted histograms, and the percentile
    * walk runs per target day (day-partitioned windows over histogram
    * rows). Cost is 7× the histogram — independent of corpus size. */
  def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("ts").cast("date").as("day"),
        floor(col("value") * 100 + 0.5d).cast("long").as("vc"))
      .groupBy(col("day"), col("vc")).agg(count(lit(1)).as("n"))
      .ckpt // consumers: day domain + shifted histograms
    val days = h.select(col("day")).distinct()
    val shifted = h
      .select(explode(expr("sequence(day, date_add(day, 6))")).as("tday"),
        col("vc"), col("n"))
      .join(broadcast(days.select(col("day").as("tday"))), Seq("tday"),
        "left_semi") // only days that exist in the data report a median
      .groupBy(col("tday"), col("vc")).agg(sum(col("n")).as("n"))
    val cum = shifted
      .withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("tday")).orderBy(col("vc"))))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("tday"))))
    cum.groupBy(col("tday"))
      .agg(max(col("tot")).as("n_events"),
        min(when(col("cum") * 2 >= col("tot"), col("vc"))).as("p50_c"))
      .select(date_format(col("tday"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("p50_c"))
      .orderBy(col("day"))
  }

  private val rollingMedianOracle: String =
    """WITH h AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM h),
      |sh AS (SELECT DATE '1970-01-01' + CAST(u.x AS INT) AS tday,
      |              h.vc, SUM(h.n) AS n
      |       FROM h, UNNEST(range(CAST(h.day - DATE '1970-01-01' AS BIGINT),
      |                CAST(h.day - DATE '1970-01-01' AS BIGINT) + 7)) AS u(x)
      |       WHERE DATE '1970-01-01' + CAST(u.x AS INT)
      |               IN (SELECT day FROM days)
      |       GROUP BY 1, 2),
      |c AS (SELECT tday, vc, n,
      |             SUM(n) OVER (PARTITION BY tday ORDER BY vc) AS cum,
      |             SUM(n) OVER (PARTITION BY tday) AS tot
      |      FROM sh)
      |SELECT strftime(tday, '%Y-%m-%d') AS day,
      |       CAST(MAX(tot) AS BIGINT) AS n_events,
      |       CAST(MIN(CASE WHEN cum * 2 >= tot THEN vc END) AS BIGINT) AS p50_c
      |FROM c GROUP BY tday
      |ORDER BY day""".stripMargin

  /** Event-health dashboard (q237): the round's engagement metrics —
    * funnel rates (q229), signup→purchase conversion + p50 latency
    * (q223), latest-month stickiness (q225), daily-volume trend slope
    * (q228) and the A/B delta + significance (q218) — assembled into
    * ONE single-row health report. The q143/q167 composition
    * discipline applied to the event side: each component keeps its
    * exact semantics and its own oracle rides in as a CTE, so the
    * dashboard is value-checked end to end, not approximately glued.
    *
    * Scale shape: every component reduces the corpus independently
    * (their own documented shapes); the assembly is cross joins of
    * 1-row frames. */
  def eventDashboard(s: SparkSession, dir: String): DataFrame = {
    val funnel = windowedFunnel(s, dir)
      .select(col("view_to_click_bp"), col("click_to_purchase_bp"))
    val conv = conversionLatency(s, dir)
      .select(col("conv_bp").as("signup_purchase_bp"), col("p50_hours"))
    val stick = stickiness(s, dir)
      .orderBy(col("month").desc).limit(1)
      .select(col("stickiness_bp"))
    val trend = graft.reports.Audits.dailyTrend(s, dir)
      .select(col("slope_micro_per_day"))
    val ab = abTestReport(s, dir)
      .select(col("diff_bp").as("ab_diff_bp"), col("significant"))
    funnel.crossJoin(conv).crossJoin(stick).crossJoin(trend).crossJoin(ab)
  }

  private def eventDashboardOracle: String =
    s"""WITH funnel AS ($windowedFunnelOracle),
       |conv AS ($conversionLatencyOracle),
       |stick AS ($stickinessOracle),
       |trend AS (${graft.reports.Audits.dailyTrendOracle}),
       |ab AS ($abTestOracle),
       |stick1 AS (SELECT stickiness_bp FROM stick
       |           ORDER BY month DESC LIMIT 1)
       |SELECT funnel.view_to_click_bp, funnel.click_to_purchase_bp,
       |       conv.conv_bp AS signup_purchase_bp, conv.p50_hours,
       |       stick1.stickiness_bp, trend.slope_micro_per_day,
       |       ab.diff_bp AS ab_diff_bp, ab.significant
       |FROM funnel, conv, stick1, trend, ab""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q237_event_dashboard", (s, d) => eventDashboard(s, d),
      Some(eventDashboardOracle)),
    Q("q233_activity_streaks", (s, d) => activityStreaks(s, d),
      Some(streaksOracle)),
    Q("q235_rolling_median", (s, d) => rollingMedian(s, d),
      Some(rollingMedianOracle)),
    Q("q229_windowed_funnel", (s, d) => windowedFunnel(s, d),
      Some(windowedFunnelOracle)),
    Q("q230_snapshot_diff", (s, d) => snapshotDiff(s, d),
      Some(snapshotDiffOracle)),
    Q("q232_cohort_ltv", (s, d) => cohortLtv(s, d),
      Some(cohortLtvOracle)),
    Q("q218_ab_test", (s, d) => abTestReport(s, d), Some(abTestOracle)),
    Q("q223_conversion_latency", (s, d) => conversionLatency(s, d),
      Some(conversionLatencyOracle)),
    Q("q225_stickiness", (s, d) => stickiness(s, d),
      Some(stickinessOracle)),
    Q("q202_churn_lifetable", (s, d) => churnLifeTable(s, d),
      Some(lifeTableOracle)),
    Q("q203_markov_transitions", (s, d) => markovTransitions(s, d),
      Some(markovOracle)),
    Q("q212_session_concurrency", (s, d) => sessionConcurrency(s, d),
      Some(concurrencyOracle)))
}
