package graft.streaming
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event analytics over the events table — the batch expression of the
  * streaming operators (SURVEY §2.10: the reference is batch-only; our
  * Structured Streaming wrapper in EventStreams reuses these shapes).
  */
object EventQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.try_cast(DecimalType(18, 2)) // try_cast: NaN/Inf/overflow row -> null, not an ANSI job kill

  /** Daily × event-type bucketed aggregation — the A7 dashboard shape over
    * the event stream. One hash-aggregate shuffle on (day, type). */
  def dailyByType(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("day"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity): per-user lag window →
    * session-start flags → counts. Window partitioned by user, so it
    * scales horizontally (no global window). */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("gap_ms", unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("new_s", when(col("gap_ms") > 1800000L, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg((sum(col("new_s")) + 1).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** A7 hour-of-day pane: one scan, 24 buckets × per-type conditional
    * counts — the dashboard's hourly pivot over the event stream
    * (DashboardOrdersViewComponent.cs:18-180 accumulates these panes
    * client-side; here it is one distributed aggregation). */
  def hourlyPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(
        count(lit(1)).as("total_cnt"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("cnt_click"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("cnt_view"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("cnt_error"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("hour_of_day"))

  /** Sequential funnel (view → click → purchase, each step within 6 hours
    * of the previous): per-user running MAX of the last prior step
    * timestamp under a strictly-before window frame, chained once per
    * stage. All stage windows share one (user_id, ts) partitioning+order,
    * so the whole funnel costs ONE shuffle and ONE per-partition sort
    * regardless of funnel depth — no per-stage self-joins (the naive
    * formulation joins events to itself once per step). */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(s, dir))

  /** Core funnel over any (user_id, event_id, ts, event_type) frame. */
  def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // native timestamp-interval comparison: micro-exact on both engines
    // (unix_millis would truncate sub-millisecond components)
    val withinStep = (prior: org.apache.spark.sql.Column) =>
      prior >= col("ts") - expr("INTERVAL 6 HOURS")
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("lv",
        max(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("lqc",
        max(when(col("event_type") === "click" && withinStep(col("lv")), col("ts"))).over(w))
      .agg(
        count_distinct(when(col("event_type") === "view", col("user_id")))
          .as("users_view"),
        count_distinct(when(col("event_type") === "click" && withinStep(col("lv")),
          col("user_id"))).as("users_click"),
        count_distinct(when(col("event_type") === "purchase" && withinStep(col("lqc")),
          col("user_id"))).as("users_purchase"))
  }

  /** As-of join: each click attached to the user's most recent prior (or
    * simultaneous) error — the point-in-time feature-join shape. */
  def clicksAsOfErrors(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(clicks, errors, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as("last_error_ts"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of with tolerance (pandas merge_asof surface): each click
    * attached to the user's NEXT error only if it lands within 1 hour —
    * the lookahead-label join of churn/alerting pipelines. Same one-
    * shuffle union+window plan as the backward form; the tolerance is a
    * post-window null-out, not a join predicate. */
  def clicksBeforeErrors(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(clicks, errors, "user_id", "ts", "ts",
        direction = "forward", toleranceMs = Some(3600000L))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as("next_error_ts"))
      .orderBy(col("event_id"))
  }

  /** Nearest-direction as-of: each click attached to the closest error in
    * EITHER direction (backward on exact ties) — the "closest context
    * row" join of alert-correlation pipelines. */
  def clicksNearestErrors(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(clicks, errors, "user_id", "ts", "ts",
        direction = "nearest")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as("near_error_ts"))
      .orderBy(col("event_id"))
  }

  /** The three as-of shapes again through the NATIVE physical operator
    * (plans.AsOfJoinExec — custom LogicalPlan/Strategy/SparkPlan tier):
    * same DuckDB oracles as q57/q91/q93, so the merge-join execution
    * path is value-gated end-to-end, not just spec-compared. */
  private def clicksErrorsNative(s: SparkSession, dir: String,
      direction: String, tolMs: Option[Long], outName: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOfNative(clicks, errors, "user_id", "ts", "ts",
        direction = direction, toleranceMs = tolMs)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as(outName))
      .orderBy(col("event_id"))
  }

  /** Bucketed range join: clicks landing inside the 10-minute window
    * after each error, counted per error — executed as a hash equi-join
    * on time buckets with the exact range predicate residual
    * (operators.RangeJoin), not a nested-loop inequality join. */
  def clicksInErrorWindows(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("ts").as("click_ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("win_end"))
    graft.operators.RangeJoin.pointInInterval(
        clicks, col("click_ts"),
        errors, col("win_start"), col("win_end"),
        bucketMs = 600000L,
        // windows are 10 min by construction: the declared-width fast
        // path skips the tier probe (no second scan of the window side)
        maxIntervalWidthMs = Some(600000L))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy(col("err_id"))
  }

  /** The NAIVE inequality form of the interval join — as a user would
    * write it. Under the GraftExtensions session (Verify/Bench) the
    * injected optimizer rule (plans.RangeJoinRewrite) rewrites it to the
    * bucketed equi-join automatically; without the extension it runs as a
    * nested loop with identical results. 5-minute windows so the result
    * set differs from q74's explicit-operator form. */
  def clicksInErrorWindowsNaive(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("ts").as("click_ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("win_end"))
    clicks.join(errors,
        col("click_ts") >= col("win_start") && col("click_ts") <= col("win_end"))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy(col("err_id"))
  }

  /** Interval×interval overlap join (q273): 10-minute error windows
    * against 15-minute signup windows, overlapping-signup count (+ the
    * earliest overlapping signup id) per error — executed through
    * `RangeJoin.intervalOverlap`'s bucketed equi-join with first-
    * intersection-bucket pair attribution, NOT an inequality nested
    * loop. Scale shape: both window sides explode ~2 bucket rows per
    * interval, one hash shuffle each, every overlapping pair emitted
    * exactly once structurally (no pair-level distinct); declared
    * widths put the join on the static single-tier path — zero probe
    * scans, and no nested loop exists for ANY width (PlanAudit). */
  def errorSignupOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val errs = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("err_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("err_end"))
    val sigs = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("sig_id"), col("ts").as("sig_start"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("sig_end"))
    graft.operators.RangeJoin.intervalOverlap(
        errs, col("err_start"), col("err_end"),
        sigs, col("sig_start"), col("sig_end"), bucketMs = 600000L,
        // widths are fixed by construction: the declared-width fast path
        // runs the single-tier join with zero probe scans (the same
        // contract the streaming twin declares)
        maxAWidthMs = Some(600000L), maxBWidthMs = Some(900000L))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_overlaps"), min(col("sig_id")).as("first_sig"))
      .orderBy(col("err_id"))
  }

  private final val RollupSlices = 4
  /** Incremental (snapshot + delta) rollup driven through
    * `etl.Incremental`: the event history is processed as `RollupSlices`
    * successive high-water-marked deltas, each aggregated alone and
    * merged into the running snapshot — the cron re-run pattern
    * (SURVEY §2.10). The DuckDB oracle is the ONE-SHOT aggregate over
    * the full history, so the gate proves fold == full recompute
    * exactly (additive long counts + decimal sums; the average derives
    * at read time). */
  def incrementalRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.Incremental
    val events = graft.Tables.events(s, dir)
      .filter(col("ts").isNotNull)
    // deterministic slice boundaries from the data's own time range —
    // the two driver-side values are exactly the hwm bookkeeping a
    // scheduled pipeline persists between runs
    // ONE bounds scan; the FINAL mark is the exact max Timestamp (the
    // history high-water mark — `.getTime` truncates microseconds, so a
    // millis-derived last mark would exclude the max row); interior
    // marks are approximate epoch-millis splits
    // no timestamped rows at all → the rollup over an empty history is
    // empty (exactly what the one-shot oracle aggregate would return),
    // not a NoSuchElementException out of the bounds Option
    val bounds = Incremental.timeBounds(events, "ts")
    if (bounds.isEmpty) {
      import org.apache.spark.sql.types._
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("event_type", StringType),
          StructField("cnt", LongType),
          StructField("total_value", DoubleType),
          StructField("avg_value", DoubleType))))
    }
    val (first, end) = bounds.get
    val (lo, hi) = (first.getTime, end.getTime)
    val marks = (1 until RollupSlices).map(i =>
      new java.sql.Timestamp(lo + (hi - lo) * i / RollupSlices)) :+ end
    var snapshot: Option[org.apache.spark.sql.DataFrame] = None
    var hwm: Option[java.sql.Timestamp] = None
    marks.foreach { m =>
      val delta = Incremental.deltaSlice(events, "ts", hwm, m)
      val deltaAgg = Incremental.aggregateDelta(delta, Seq("event_type"), "value")
      snapshot = Some(snapshot.fold(deltaAgg)(p =>
        Incremental.merge(p, deltaAgg, Seq("event_type"))))
      hwm = Some(m)
    }
    Incremental.withDerived(snapshot.get)
      .select(col("event_type"), col("cnt"),
        col("total").cast("double").as("total_value"),
        round(col("avg_value"), 4).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Daily carry-forward resample of each user's event-value series
    * (operators.Resample over the as-of machinery): one row per
    * (user, day) between the user's first and last event, carrying the
    * latest value at-or-before that day's midnight. */
  def resampleDaily(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.dailyCarryForward(
        graft.Tables.events(s, dir), "user_id", "ts", Seq("value"))
      .select(col("user_id"),
        date_format(col("grid_ts"), "yyyy-MM-dd").as("day"),
        col("asof_value"))
      .orderBy(col("user_id"), col("day"))

  /** Weekly retention cohorts (q176): users grouped by first-active week;
    * for each (cohort, weeks-since-cohort) cell, how many of the cohort's
    * users were active — the standard cohort-retention matrix every
    * product-analytics pipeline materializes from an event stream.
    *
    * Scale shape: the corpus reduces to the distinct (user, week) frame
    * FIRST (one user-keyed shuffle; everything downstream is user-sized,
    * not event-sized), first-week derives from it with a map-side-combined
    * re-aggregate, and cohort sizes are a week-cardinality frame that
    * BROADCASTS back onto the cells — the event table is scanned once and
    * shuffled once no matter how many weeks the matrix spans. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame =
    retentionCohortsOf(Tables.events(s, dir))

  def retentionCohortsOf(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
      .ckpt
    val first = uw.groupBy(col("user_id")).agg(min(col("aw")).as("cw"))
    val sizes = first.groupBy(col("cw")).agg(count(lit(1)).as("cohort_users"))
    uw.join(first, Seq("user_id"))
      .groupBy(col("cw"),
        (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), Seq("cw"))
      .select(
        date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("active_users"), col("cohort_users"),
        round(col("active_users") * lit(100.0) / col("cohort_users"), 4)
          .as("retained_pct"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private final val SessionPathsK = 20
  /** Session path mining (q186): the most common 3-event sequences WITHIN
    * q39's gap-based sessions — the navigation-pattern rollup funnels
    * (q89) can't express because funnels fix the step types up front.
    * Consecutive-event trigrams come from two LEADs inside the session
    * window; sequences never cross a session boundary.
    *
    * Scale shape: the session index and both LEADs ride ONE user-keyed
    * exchange (the session window's (user, sid) clustering is satisfied
    * by the user partitioning — no second shuffle); the trigram count is
    * a low-cardinality hash aggregate (|event types|³ keys) and top-k is
    * TakeOrderedAndProject. */
  def sessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionPathsOf(Tables.events(s, dir), SessionPathsK)

  def sessionPathsOf(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = events
      .withColumn("new_s",
        when(unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)
          > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(wRun))
    val w2 = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    sessions
      .withColumn("e2", lead(col("event_type"), 1).over(w2))
      .withColumn("e3", lead(col("event_type"), 2).over(w2))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
      .withColumn("rn", row_number().over(Window.orderBy(
        col("cnt").desc, col("e1"), col("e2"), col("e3"))))
      .orderBy(col("rn"))
  }

  private val AutocorrLags = Seq(1, 7)
  /** Autocorrelation of the daily event-count series (q193): Pearson r
    * at lag 1 and lag 7 — the seasonality probe a capacity-planning /
    * anomaly pipeline runs before picking a forecasting window (lag-7
    * high = weekly cycle).
    *
    * Determinism: the series values are integer day-counts, so every
    * Pearson term (n, Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer sum;
    * the single final expression over identical longs is the same IEEE
    * tree in both engines. Lag pairing is an equi-join on
    * date_add(day, lag) — no window, and days missing from the data
    * pair with nothing (the series semantics, not an implementation
    * accident).
    *
    * Scale shape: one corpus-sized hash aggregate builds the day
    * histogram (calendar-bounded rows); everything after runs on that
    * tiny frame — the lag joins and moment sums are statistics-sized. */
  def dailyAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .ckpt // consumers: one pair-join per lag
    val perLag = AutocorrLags.map { lag =>
      val a = daily.select(col("day"), col("cnt").as("x"))
      val b = daily.select(date_add(col("day"), lag).as("day"),
        col("cnt").as("y"))
      a.join(b, Seq("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(lit(lag).as("lag"), col("n").as("n_pairs"),
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 4).as("acf"))
    }
    perLag.reduce(_.unionByName(_)).orderBy(col("lag"))
  }

  private def autocorrOracle: String = {
    val arms = AutocorrLags.map(lag =>
      s"""SELECT $lag AS lag, CAST(n AS BIGINT) AS n_pairs,
         |       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
         |             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
         |                  CAST(n * syy - sy * sy AS DOUBLE)), 4) AS acf
         |FROM (SELECT COUNT(*) AS n, SUM(a.cnt) AS sx, SUM(b.cnt) AS sy,
         |             SUM(a.cnt * b.cnt) AS sxy, SUM(a.cnt * a.cnt) AS sxx,
         |             SUM(b.cnt * b.cnt) AS syy
         |      FROM daily a JOIN daily b ON a.day = b.day + $lag)""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1)
       |SELECT lag, n_pairs, acf FROM ($arms)
       |ORDER BY lag""".stripMargin
  }

  /** Conversion attribution (q199): for every purchase event, credit the
    * FIRST-touch and LAST-touch event type of the same 30-minute session
    * (the q186/q39 sessionization rule); purchases with no prior session
    * event credit 'direct'. The two classic single-touch attribution
    * models of product analytics, reported as credited-conversion counts
    * per model.
    *
    * Scale shape: sessionization and both touch lookups (running
    * first_value with an exclusive frame + lag) ride the ONE user-keyed
    * exchange — the (user, sid) window partitioning is satisfied by the
    * user partitioning (the q186 discipline); the attribution rollup is
    * a tiny hash aggregate over (model, credited type). */
  def conversionAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, dir)
      .withColumn("new_s",
        when(unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)
          > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(wRun))
    val w2 = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val touched = sessions
      .withColumn("first_touch",
        first(col("event_type")).over(
          w2.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("last_touch", lag(col("event_type"), 1).over(w2))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("first_touch"), lit("direct")).as("first_touch"),
        coalesce(col("last_touch"), lit("direct")).as("last_touch"))
    // both models unpivot from the ONE sessionized pass (a unionByName of
    // two rollups would re-run the scan + sessionization window twice)
    touched
      .select(explode(array(
        struct(lit("first_touch").as("model"),
          col("first_touch").as("credited")),
        struct(lit("last_touch").as("model"),
          col("last_touch").as("credited")))).as("m"))
      .groupBy(col("m.model").as("model"), col("m.credited").as("credited"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("model"), col("credited"))
  }

  private val attributionOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
      |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM e),
      |t AS (SELECT event_type,
      |             FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sid
      |               ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |               AS first_touch,
      |             LAG(event_type, 1) OVER (PARTITION BY user_id, sid
      |               ORDER BY ts, event_id) AS last_touch
      |      FROM s),
      |conv AS (SELECT COALESCE(first_touch, 'direct') AS first_touch,
      |                COALESCE(last_touch, 'direct') AS last_touch
      |         FROM t WHERE event_type = 'purchase')
      |SELECT model, credited, n_conversions FROM (
      |  SELECT 'first_touch' AS model, first_touch AS credited,
      |         CAST(COUNT(*) AS BIGINT) AS n_conversions
      |  FROM conv GROUP BY 2
      |  UNION ALL
      |  SELECT 'last_touch', last_touch, CAST(COUNT(*) AS BIGINT)
      |  FROM conv GROUP BY 2)
      |ORDER BY model, credited""".stripMargin

  private final val CusumK = 5
  /** CUSUM changepoint scan over the daily event-count series (q200):
    * dev_i = c_i·D − T (count deviation from the mean, scaled by D to
    * stay integer: c_i·D − T = D·(c_i − T/D)); the running sum's extreme
    * |CUSUM| marks the most likely rate changepoint (Page's cumulative-
    * sum test in exact integer arithmetic — no float mean, no
    * summation-order drift). Output: top-5 candidate days by |CUSUM|.
    *
    * Scale shape: one corpus hash aggregate builds the day histogram;
    * the cumulative walk and ranking run over the calendar-bounded day
    * frame (the q193/q168 discipline). */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val tot = daily.agg(count(lit(1)).as("dd"), sum(col("cnt")).as("tt"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("cnt") * col("dd") - col("tt")).as("dev"))
      // calendar-bounded frame: the unpartitioned window input is the
      // day histogram, never the event corpus
      .withColumn("cusum", sum(col("dev")).over(
        Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    dev
      .orderBy(abs(col("cusum")).desc, col("day")).limit(CusumK)
      .withColumn("rn", row_number().over(
        Window.orderBy(abs(col("cusum")).desc, col("day"))))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cusum"), col("rn"))
      .orderBy(col("rn"))
  }

  private def cusumOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS dd, SUM(cnt) AS tt FROM daily),
       |dev AS (SELECT day, cnt * dd - tt AS dev FROM daily, tot),
       |c AS (SELECT day,
       |             CAST(SUM(dev) OVER (ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               AS BIGINT) AS cusum
       |      FROM dev)
       |SELECT strftime(day, '%Y-%m-%d') AS day, cusum, rn FROM (
       |  SELECT day, cusum,
       |         CAST(ROW_NUMBER() OVER (ORDER BY abs(cusum) DESC, day)
       |              AS INT) AS rn
       |  FROM c) t
       |WHERE rn <= $CusumK
       |ORDER BY rn""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q199_attribution", (s, d) => conversionAttribution(s, d),
      Some(attributionOracle)),
    Q("q200_cusum_changepoint", (s, d) => cusumChangepoint(s, d),
      Some(cusumOracle)),
    Q("q193_daily_autocorr", (s, d) => dailyAutocorr(s, d),
      Some(autocorrOracle)),
    Q("q186_session_paths", (s, d) => sessionPaths(s, d), Some(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM e),
        |t AS (SELECT event_type AS e1,
        |             LEAD(event_type, 1) OVER (PARTITION BY user_id, sid
        |               ORDER BY ts, event_id) AS e2,
        |             LEAD(event_type, 2) OVER (PARTITION BY user_id, sid
        |               ORDER BY ts, event_id) AS e3
        |      FROM s),
        |c AS (SELECT e1, e2, e3, COUNT(*) AS cnt FROM t
        |      WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |      GROUP BY 1, 2, 3),
        |r AS (SELECT e1, e2, e3, cnt,
        |             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, e1, e2, e3)
        |                  AS INT) AS rn
        |      FROM c)
        |SELECT e1, e2, e3, cnt, rn FROM r WHERE rn <= 20
        |ORDER BY rn""".stripMargin)),
    Q("q176_retention_cohorts", (s, d) => retentionCohorts(s, d), Some(
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
        |            FROM events),
        |f AS (SELECT user_id, MIN(aw) AS cw FROM uw GROUP BY user_id),
        |sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_users
        |       FROM f GROUP BY cw),
        |cells AS (SELECT f.cw,
        |                 CAST(date_diff('day', f.cw, uw.aw) // 7 AS INT)
        |                   AS week_offset,
        |                 CAST(COUNT(*) AS BIGINT) AS active_users
        |          FROM uw JOIN f USING (user_id)
        |          GROUP BY 1, 2)
        |SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week, c.week_offset,
        |       c.active_users, sz.cohort_users,
        |       round(c.active_users * 100.0 / sz.cohort_users, 4)
        |         AS retained_pct
        |FROM cells c JOIN sz USING (cw)
        |ORDER BY cohort_week, week_offset""".stripMargin)),
    Q("q112_resample", (s, d) => resampleDaily(s, d), Some(
      """WITH b AS (SELECT user_id, date_trunc('day', MIN(ts)) AS lo, MAX(ts) AS hi
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS gts
        |         FROM b),
        |obs AS (SELECT user_id, ts, value FROM events
        |        WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT g.user_id, strftime(g.gts, '%Y-%m-%d') AS day,
        |       e.value AS asof_value
        |FROM grid g
        |ASOF LEFT JOIN obs e ON g.user_id = e.user_id AND g.gts >= e.ts
        |ORDER BY g.user_id, day""".stripMargin)),
    Q("q110_incremental", (s, d) => incrementalRollup(s, d), Some(
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*), 4) AS avg_value
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),
    Q("q89_funnel", (s, d) => funnel(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    MAX(CASE WHEN event_type = 'view' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
        |  FROM events),
        |o2 AS (
        |  SELECT *,
        |    MAX(CASE WHEN event_type = 'click'
        |             AND lv >= ts - INTERVAL 6 HOUR THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lqc
        |  FROM o)
        |SELECT
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
        |       THEN user_id END) AS BIGINT) AS users_view,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
        |       AND lv >= ts - INTERVAL 6 HOUR THEN user_id END) AS BIGINT) AS users_click,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
        |       AND lqc >= ts - INTERVAL 6 HOUR THEN user_id END) AS BIGINT) AS users_purchase
        |FROM o2""".stripMargin)),
    Q("q79_range_rewrite", (s, d) => clicksInErrorWindowsNaive(s, d), Some(
      """SELECT e.event_id AS err_id, COUNT(*) AS n_clicks
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        |JOIN (SELECT ts FROM events WHERE event_type = 'click') c
        |  ON c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 5 MINUTES
        |GROUP BY e.event_id
        |ORDER BY err_id""".stripMargin)),
    Q("q74_range_join", (s, d) => clicksInErrorWindows(s, d), Some(
      """SELECT e.event_id AS err_id, COUNT(*) AS n_clicks
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        |JOIN (SELECT ts FROM events WHERE event_type = 'click') c
        |  ON c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 10 MINUTES
        |GROUP BY e.event_id
        |ORDER BY err_id""".stripMargin)),
    Q("q273_interval_overlap", (s, d) => errorSignupOverlap(s, d), Some(
      """SELECT a.err_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
        |       MIN(b.sig_id) AS first_sig
        |FROM (SELECT event_id AS err_id, ts AS es,
        |             ts + INTERVAL 10 MINUTES AS ee
        |      FROM events WHERE event_type = 'error') a
        |JOIN (SELECT event_id AS sig_id, ts AS ss,
        |             ts + INTERVAL 15 MINUTES AS se
        |      FROM events WHERE event_type = 'signup') b
        |  ON a.es <= b.se AND b.ss <= a.ee
        |GROUP BY a.err_id
        |ORDER BY a.err_id""".stripMargin)),
    Q("q93_asof_nearest", (s, d) => clicksNearestErrors(s, d), Some(
      """SELECT event_id, user_id, ts,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR ts - b_ts <= f_ts - ts)
        |       THEN b_ts
        |       WHEN f_ts IS NOT NULL THEN f_ts END AS near_error_ts
        |FROM (SELECT c.event_id, c.user_id, c.ts,
        |        (SELECT MAX(e.ts) FROM events e WHERE e.event_type = 'error'
        |           AND e.user_id = c.user_id AND e.ts <= c.ts) AS b_ts,
        |        (SELECT MIN(e.ts) FROM events e WHERE e.event_type = 'error'
        |           AND e.user_id = c.user_id AND e.ts >= c.ts) AS f_ts
        |      FROM (SELECT event_id, user_id, ts FROM events
        |            WHERE event_type = 'click') c) t
        |ORDER BY event_id""".stripMargin)),
    Q("q91_asof_forward", (s, d) => clicksBeforeErrors(s, d), Some(
      """SELECT c.event_id, c.user_id, c.ts,
        |       (SELECT MIN(e.ts) FROM events e
        |        WHERE e.event_type = 'error' AND e.user_id = c.user_id
        |          AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 1 HOUR) AS next_error_ts
        |FROM events c WHERE c.event_type = 'click'
        |ORDER BY c.event_id""".stripMargin)),
    Q("q97_asof_native", (s, d) =>
      clicksErrorsNative(s, d, "backward", None, "last_error_ts"), Some(
      """SELECT c.event_id, c.user_id, c.ts, e.ts AS last_error_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY c.event_id""".stripMargin)),
    Q("q98_asof_native_forward", (s, d) =>
      clicksErrorsNative(s, d, "forward", Some(3600000L), "next_error_ts"), Some(
      """SELECT c.event_id, c.user_id, c.ts,
        |       (SELECT MIN(e.ts) FROM events e
        |        WHERE e.event_type = 'error' AND e.user_id = c.user_id
        |          AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 1 HOUR) AS next_error_ts
        |FROM events c WHERE c.event_type = 'click'
        |ORDER BY c.event_id""".stripMargin)),
    Q("q100_asof_native_nearest", (s, d) =>
      clicksErrorsNative(s, d, "nearest", None, "near_error_ts"), Some(
      """SELECT event_id, user_id, ts,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR ts - b_ts <= f_ts - ts)
        |       THEN b_ts
        |       WHEN f_ts IS NOT NULL THEN f_ts END AS near_error_ts
        |FROM (SELECT c.event_id, c.user_id, c.ts,
        |        (SELECT MAX(e.ts) FROM events e WHERE e.event_type = 'error'
        |           AND e.user_id = c.user_id AND e.ts <= c.ts) AS b_ts,
        |        (SELECT MIN(e.ts) FROM events e WHERE e.event_type = 'error'
        |           AND e.user_id = c.user_id AND e.ts >= c.ts) AS f_ts
        |      FROM (SELECT event_id, user_id, ts FROM events
        |            WHERE event_type = 'click') c) t
        |ORDER BY event_id""".stripMargin)),
    Q("q57_asof_join", (s, d) => clicksAsOfErrors(s, d), Some(
      """SELECT c.event_id, c.user_id, c.ts, e.ts AS last_error_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY c.event_id""".stripMargin)),
    Q("q52_events_hourly", (s, d) => hourlyPivot(s, d), Some(
      """SELECT CAST(hour(ts) AS INT) AS hour_of_day, COUNT(*) AS total_cnt,
        |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_click,
        |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_view,
        |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_error,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY hour(ts)
        |ORDER BY hour_of_day""".stripMargin)),
    Q("q38_events_daily", (s, d) => dailyByType(s, d), Some(
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY strftime(ts, '%Y-%m-%d'), event_type
        |ORDER BY day, event_type""".stripMargin)),
    Q("q39_sessionize", (s, d) => sessionize(s, d), Some(
      """SELECT user_id,
        |       CAST(SUM(new_s) + 1 AS BIGINT) AS n_sessions,
        |       COUNT(*) AS n_events
        |FROM (SELECT user_id,
        |             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
        |                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM events) t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin))
  )
}
