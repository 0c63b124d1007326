package graft.reports
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reporting/aggregation operators — SURVEY §2.5 (A1-A8) and the join shapes
  * that feed them (§2.4 J1/J6/J7/J9, §2.6 W1/W5).
  *
  * Shapes re-created from the reference (cited per query):
  *  - top customers:  `OrderQueryExtensions.SelectAsTopCustomerReportLine`
  *    (src/Smartstore.Core/Checkout/Orders/Extensions/OrderQueryExtensions.cs:295-319)
  *  - bestsellers:    `OrderItemQueryExtensions.SelectAsBestsellersReportLine`
  *    (OrderItemQueryExtensions.cs:152-174)
  *  - also-purchased: `OrderItemQueryExtensions.SelectAlsoPurchasedProductIds`
  *    (OrderItemQueryExtensions.cs:111-144)
  *  - never-sold:     `OrderQueryExtensions.ApplyNeverSoldProductsFilter`
  *    (OrderQueryExtensions.cs:249-268)
  *  - orders-total:   `OrderQueryExtensions.GetOrdersTotalAsync` (:342-347)
  *  - HAVING export:  `DataExporter.GetEntitiesQuery` (DataExporter.cs:794-814)
  *  - dashboard:      `DashboardOrdersViewComponent.SetOrderReportData`
  *    (src/Smartstore.Web/Areas/Admin/Components/DashboardOrdersViewComponent.cs:18-180)
  *  - facets:         `LinqCatalogSearchService.GetFacetsAsync` (:356-554),
  *    price thresholds {10,25,50,100,250,500,1000} (:14)
  *
  * Scale notes (100 TB): every aggregation here is a single hash-aggregate
  * shuffle on the group key with map-side partial aggregation; joins against
  * dimension-sized relations (part, customer) are broadcastable and the fact
  * side never shuffles for them. Top-k is `orderBy.limit` = per-partition
  * partial top-k + a single-reducer merge of k rows, not a global sort.
  */
object Reports {

  private def dec(c: Column): Column = c.try_cast(DecimalType(18, 2)) // try_cast: dirty row -> null, not an ANSI job kill

  /** Exact money aggregate with an engine-stable output type: sum the
    * per-element decimal(18,2) casts (associative — immune to float
    * summation-order drift), then cast the FINAL value to double so the
    * dumped parquet renders identically to the oracle's (a decimal output
    * column stringifies as '123.40' Spark-side but '123.4' via DuckDB's
    * pandas bridge — equal decimals cast to double are bit-identical). */
  private def decSum(c: Column): Column = sum(dec(c)).cast("double")

  private final val BestsellersK = 100
  /** A2+J1+W1+W5: bestsellers — fact-fact equi-join, group, multi-agg, top-k. */
  def bestsellers(s: SparkSession, dir: String, k: Int = BestsellersK): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_partkey"))
      .agg(
        decSum(col("l_quantity")).as("total_qty"),
        decSum(col("l_extendedprice")).as("total_amount"))
      .orderBy(col("total_qty").desc, col("total_amount").desc, col("l_partkey"))
      .limit(k)
  }

  private final val TopCustomersK = 50
  /** A1: top customers by spend with order count. */
  def topCustomers(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        decSum(col("o_totalprice")).as("total_spent"),
        count(lit(1)).as("order_cnt"))
      .orderBy(col("total_spent").desc, col("o_custkey"))
      .limit(TopCustomersK)

  private final val AlsoPurchasedPart = 1L
  private final val AlsoPurchasedK = 10
  /** J9+A3: also-purchased — parts co-occurring in orders with a target part.
    * The semi-join side (orders containing the target) is small → broadcast. */
  def alsoPurchased(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val withTarget = li.filter(col("l_partkey") === AlsoPurchasedPart)
      .select(col("l_orderkey")).distinct()
    li.join(broadcast(withTarget), Seq("l_orderkey"))
      .filter(col("l_partkey") =!= AlsoPurchasedPart)
      .groupBy(col("l_partkey"))
      .agg(decSum(col("l_quantity")).as("total_qty"))
      .orderBy(col("total_qty").desc, col("l_partkey"))
      .limit(AlsoPurchasedK)
  }

  /** J6+A5: never-sold parts — anti-join of the part dimension against the
    * keys sold via finished orders (J1 inside the anti-join's build side). */
  def neverSold(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
    val sold = Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"))
    Tables.part(s, dir)
      .join(sold, col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }

  /** A4: scalar aggregates over a filtered scan. */
  def ordersTotal(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .agg(
        decSum(col("o_totalprice")).as("total_amount"),
        count(lit(1)).as("order_cnt"),
        dec(min(col("o_totalprice"))).cast("double").as("min_price"),
        dec(max(col("o_totalprice"))).cast("double").as("max_price"))

  /** A5: count-distinct of sold parts / suppliers. */
  def soldDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"))

  private final val BigSpendersMin = 400000.0
  /** J7+A6: HAVING semi-join — customers whose order sum crosses a threshold,
    * then joined back to the dimension (dimension side broadcastable). */
  def bigSpenders(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        decSum(col("o_totalprice")).as("total_spent"),
        count(lit(1)).as("order_cnt"))
      .filter(col("total_spent") >= BigSpendersMin)
    Tables.customer(s, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("total_spent"), col("order_cnt"))
      .orderBy(col("c_custkey"))
  }

  /** A7: dashboard time-bucket pivot — one scan, month buckets × status
    * series as conditional aggregates, plus prior-period delta via lag.
    * (Reference accumulates client-side; here it is a single distributed
    * aggregation and the pivot columns are map-side partial aggregates.) */
  def ordersDashboard(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // month rendered as 'yyyy-MM-dd' text: a derived timestamp would
    // stringify differently via DuckDB's pandas bridge (DATE vs TIMESTAMP)
    val monthly = o
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(
        count(lit(1)).as("total_cnt"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("cnt_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("cnt_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("cnt_p"),
        decSum(col("o_totalprice")).as("total_amount"))
    monthly
      .withColumn("prev_cnt", lag(col("total_cnt"), 1).over(Window.orderBy(col("month"))))
      .orderBy(col("month"))
  }

  private final val WeeklyTz = "Europe/Berlin"
  /** A7 "last 28 days as 4 weeks" pane with user-timezone bucketing
    * (DashboardOrdersViewComponent.cs:51: UTC→user TZ conversion BEFORE
    * bucketing; SURVEY §7.4 risk 6): weeks counted back from the newest
    * order, dates taken in the user's zone. The max-date anchor is a
    * broadcast scalar; the aggregation is one hash shuffle on the bucket. */
  def ordersWeekly(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val mx = o.agg(max(col("o_orderdate")).as("m"))
    o.crossJoin(broadcast(mx))
      .filter(col("o_orderdate") > col("m") - expr("INTERVAL 28 DAYS"))
      .withColumn("local_dt", from_utc_timestamp(col("o_orderdate"), WeeklyTz))
      .withColumn("local_m", from_utc_timestamp(col("m"), WeeklyTz))
      .groupBy(floor(datediff(col("local_m"), col("local_dt")) / 7)
        .cast("int").as("weeks_ago"))
      .agg(count(lit(1)).as("cnt"),
        decSum(col("o_totalprice")).as("total_amount"))
      .orderBy(col("weeks_ago"))
  }

  /** A7, the customer twin (q299): the registered-customers dashboard —
    * `DashboardRegisteredCustomersViewComponent.cs:19-140` (the same
    * SetXxxReportData pane machinery as `DashboardOrdersViewComponent
    * .cs:18-180`, driven by `ApplyRegistrationFilter` +
    * `ApplyRolesFilter`, CustomerQueryExtensions.cs:115-180). Signup
    * events are the registrations (CreatedOnUtc = ts), the
    * registered-role gate is the reference's ids-in-subquery shape
    * (semi-join on the customer dimension), and "now" anchors to the
    * newest event so the result is deterministic. Five panes — today /
    * yesterday (hourly), last 7 days (daily), last 28 days (weekly),
    * this year (monthly) — each emits its non-empty (bucket, cnt) rows
    * plus one bucket=-1 total row carrying the reference's
    * prior-period percentage delta (`(int)Math.Round(total/before*100
    * - 100)`, 0 when either side is 0; rendered as floor(x+0.5), the
    * repo-wide half-up discipline). User timezone is UTC (the
    * ConvertToUserTime identity case).
    *
    * Scale shape: registrations are filtered and bucketed in ONE pass —
    * each row explodes into at most its 5 pane memberships (a bounded
    * ≤5× map-side expansion of the signup slice only), then a single
    * hash aggregation on (pane, bucket); the anchor and the five
    * before-counts are 1-row broadcast scalars; totals re-aggregate the
    * bucket counts (pane-count-sized). No corpus-wide window, no
    * driver-side accumulation (the reference tallies client-side). */
  def registrationsDashboard(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val custIds = Tables.customer(s, dir).select(col("c_custkey"))
    val anchor = e.agg(max(col("ts")).as("now"))
      .withColumn("now_date", to_date(col("now")))
      .withColumn("boy", trunc(col("now_date"), "year"))
    val regs = e.filter(col("event_type") === "signup")
      .join(custIds, col("user_id") === col("c_custkey"), "left_semi")
      .select(col("ts"))
      .crossJoin(broadcast(anchor))
      .withColumn("d", to_date(col("ts")))
      .withColumn("diff", datediff(col("now_date"), col("d")))
      .ckpt // consumers: pane buckets + the before-count scalars
    val startDate = when(datediff(col("now_date"), col("boy")) < 28,
      date_sub(col("now_date"), 27)).otherwise(col("boy"))
    val cd = regs
      .filter(col("ts") >= startDate.cast("timestamp") &&
        col("ts") <= col("now"))
    def mem(cond: Column, name: String, bucket: Column) =
      when(cond, struct(lit(name).as("pane"), bucket.cast("int").as("bucket")))
    val bc = cd
      .select(explode(array(
        mem(col("d") === col("now_date"), "p0_today", hour(col("ts"))),
        mem(col("d") === date_sub(col("now_date"), 1), "p1_yesterday",
          hour(col("ts"))),
        mem(col("diff") <= 6, "p2_last7", lit(6) - col("diff")),
        mem(col("diff") <= 27, "p3_last28",
          lit(3) - floor(col("diff") / 7).cast("int")),
        mem(year(col("d")) === year(col("now_date")), "p4_year",
          month(col("d")) - 1))).as("pb"))
      .filter(col("pb").isNotNull)
      .groupBy(col("pb.pane").as("pane"), col("pb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .ckpt // consumers: bucket rows + per-pane totals
    // prior-period counts (sumBefore[] / the two extra registration
    // queries, DashboardRegisteredCustomersViewComponent.cs:104-131):
    // day-before-yesterday, week-before, [boy-56d, now_date-28d],
    // [boy-1y, now-1y] — the first (yesterday's total) comes from bc.
    // b2 is [now-14d, now-7d) verbatim, i.e. diff 8..14: NOT contiguous
    // with the last-7 pane (diff 0..6) — the reference's own window; a
    // day-7 signup counts in neither side (fixture-pinned in
    // LifecycleSpec so neither engine nor oracle can drift to 7..13)
    val bef = regs.agg(
      sum(when(col("diff") === 2, 1).otherwise(0)).cast("long").as("b1"),
      sum(when(col("diff").between(8, 14), 1).otherwise(0)).cast("long").as("b2"),
      sum(when(col("ts") >= date_sub(col("boy"), 56).cast("timestamp") &&
        col("ts") <= date_sub(col("now_date"), 28).cast("timestamp"), 1)
        .otherwise(0)).cast("long").as("b3"),
      sum(when(col("ts") >= expr("boy - INTERVAL 1 YEAR").cast("timestamp") &&
        col("ts") <= expr("now - INTERVAL 1 YEAR"), 1)
        .otherwise(0)).cast("long").as("b4"))
    val yTotal = bc.filter(col("pane") === "p1_yesterday")
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("b0"))
    val totals = bc.groupBy(col("pane")).agg(sum(col("cnt")).as("total"))
      .crossJoin(broadcast(yTotal)).crossJoin(broadcast(bef))
      .withColumn("before",
        when(col("pane") === "p0_today", col("b0"))
          .when(col("pane") === "p1_yesterday", col("b1"))
          .when(col("pane") === "p2_last7", col("b2"))
          .when(col("pane") === "p3_last28", col("b3"))
          .otherwise(col("b4")))
      .select(col("pane"), lit(-1).as("bucket"), col("total").as("cnt"),
        // col("total"), not the "cnt" alias defined in this same select:
        // lateral-alias resolution is a user-settable conf
        when(col("total") =!= 0L && col("before") =!= 0L,
          floor(col("total") * lit(100.0) / col("before") - 100.0 + 0.5))
          .otherwise(0L).cast("int").as("delta_pct"))
    bc.select(col("pane"), col("bucket"), col("cnt"),
        lit(null).cast("int").as("delta_pct"))
      .unionByName(totals)
      .orderBy(col("pane"), col("bucket"))
  }

  private val registrationsDashboardOracle: String =
    """WITH anchor AS (
      |  SELECT MAX(ts) AS now, CAST(MAX(ts) AS DATE) AS now_date,
      |         date_trunc('year', CAST(MAX(ts) AS DATE)) AS boy
      |  FROM events),
      |regs AS (
      |  SELECT e.ts, CAST(e.ts AS DATE) AS d,
      |         date_diff('day', CAST(e.ts AS DATE), a.now_date) AS diff,
      |         a.now, a.now_date, a.boy
      |  FROM events e, anchor a
      |  WHERE e.event_type = 'signup'
      |    AND EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)),
      |cd AS (
      |  SELECT * FROM regs
      |  WHERE ts >= CAST((CASE WHEN date_diff('day', boy, now_date) < 28
      |                         THEN now_date - 27 ELSE boy END) AS TIMESTAMP)
      |    AND ts <= now),
      |buckets AS (
      |  SELECT 'p0_today' AS pane, hour(ts) AS bucket FROM cd WHERE d = now_date
      |  UNION ALL
      |  SELECT 'p1_yesterday', hour(ts) FROM cd WHERE d = now_date - 1
      |  UNION ALL
      |  SELECT 'p2_last7', 6 - diff FROM cd WHERE diff <= 6
      |  UNION ALL
      |  SELECT 'p3_last28', 3 - diff // 7 FROM cd WHERE diff <= 27
      |  UNION ALL
      |  SELECT 'p4_year', month(d) - 1 FROM cd WHERE year(d) = year(now_date)),
      |bc AS (SELECT pane, bucket, COUNT(*) AS cnt FROM buckets GROUP BY 1, 2),
      |bef AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN diff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
      |    CAST(SUM(CASE WHEN diff BETWEEN 8 AND 14 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
      |    CAST(SUM(CASE WHEN ts >= CAST(boy - 56 AS TIMESTAMP)
      |                   AND ts <= CAST(now_date - 28 AS TIMESTAMP)
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS b3,
      |    CAST(SUM(CASE WHEN ts >= CAST(boy AS TIMESTAMP) - INTERVAL 1 YEAR
      |                   AND ts <= now - INTERVAL 1 YEAR
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS b4
      |  FROM regs),
      |yt AS (SELECT COALESCE((SELECT SUM(cnt) FROM bc
      |                        WHERE pane = 'p1_yesterday'), 0) AS b0)
      |SELECT pane, CAST(bucket AS INT) AS bucket, CAST(cnt AS BIGINT) AS cnt,
      |       CAST(NULL AS INT) AS delta_pct
      |FROM bc
      |UNION ALL
      |SELECT t.pane, -1, CAST(t.total AS BIGINT),
      |       CAST(CASE WHEN t.total <> 0 AND t.before <> 0
      |                 THEN floor(t.total * 100.0 / t.before - 100.0 + 0.5)
      |                 ELSE 0 END AS INT)
      |FROM (
      |  SELECT pane, SUM(cnt) AS total,
      |         CASE pane WHEN 'p0_today' THEN (SELECT b0 FROM yt)
      |                   WHEN 'p1_yesterday' THEN (SELECT b1 FROM bef)
      |                   WHEN 'p2_last7' THEN (SELECT b2 FROM bef)
      |                   WHEN 'p3_last28' THEN (SELECT b3 FROM bef)
      |                   ELSE (SELECT b4 FROM bef) END AS before
      |  FROM bc GROUP BY pane) t
      |ORDER BY pane, bucket""".stripMargin

  /** ROLLUP subtotals: (year, status) counts with per-year and grand
    * totals in ONE aggregation pass — beyond the reference (its dashboard
    * recomputes each grain client-side; SURVEY §2.5 notes grouping sets
    * absent). Spark evaluates rollup as a single expanded hash aggregate. */
  def ordersRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .rollup(col("yr"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), decSum(col("o_totalprice")).as("total_amount"))
      .orderBy(col("yr").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  /** CUBE with grouping_id: all four grains of (year, status) in one
    * expanded hash aggregate; grouping_id disambiguates a NULL group
    * value from a subtotal row (the reason CUBE output is safely
    * machine-consumable). Same single-pass scale shape as rollup. */
  def ordersCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .cube(col("yr"), col("o_orderstatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("cnt"), decSum(col("o_totalprice")).as("total_amount"))
      .orderBy(col("gid"), col("yr").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** §1.1 hierarchy: region→nation adjacency list flattened to
    * (id, depth, path) — oracle is a DuckDB recursive CTE. */
  def geoHierarchy(s: SparkSession, dir: String): DataFrame = {
    val regions = Tables.region(s, dir).select(
      concat(lit("R"), col("r_regionkey")).as("id"),
      lit(null).cast("string").as("parent_id"),
      col("r_name").as("name"))
    val nations = Tables.nation(s, dir).select(
      concat(lit("N"), col("n_nationkey")).as("id"),
      concat(lit("R"), col("n_regionkey")).as("parent_id"),
      col("n_name").as("name"))
    graft.operators.Hierarchy.flatten(regions.unionByName(nations))
      .orderBy(col("path"))
  }

  /** A8: facet counting — price buckets with the reference's fixed
    * thresholds, over the part dimension. */
  val priceBuckets: Seq[Int] = Seq(10, 25, 50, 100, 250, 500, 1000)

  def priceFacet(s: SparkSession, dir: String): DataFrame = {
    val p = col("p_retailprice")
    val bucket = priceBuckets.foldLeft(when(lit(false), "")) { (acc, t) =>
      acc.when(p < t, f"<$t%04d")
    }.otherwise(">=1000")
    Tables.part(s, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket"))
  }

  /** A8: dimensional facet — per-segment customer counts with account stats. */
  def segmentFacet(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        decSum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"))

  private def bucketSql: String = {
    val whens = priceBuckets.map(t => f"WHEN p_retailprice < $t THEN '<$t%04d'").mkString(" ")
    s"CASE $whens ELSE '>=1000' END"
  }

  /** RFM customer segmentation (q191): recency / frequency / monetary
    * quartile scores per purchasing customer, rolled up to named
    * segments — the classic CRM cohort report (the reference's
    * top-customer report generalized from one ranking to the full
    * score cube).
    *
    * Quartile semantics: per metric, cut values c₁..c₃ are the smallest
    * metric values whose cumulative customer count reaches ¼/½/¾ of all
    * customers (integer test `cum·4 ≥ k·tot` — the q168 percentile
    * walk); a customer scores 1 + Σ[x > cₖ], so TIED metric values
    * always land in the same quartile (NTILE would split them by
    * physical row order — not reproducible across engines). Recency
    * score is reversed (recent = high).
    *
    * Scale shape: one customer-keyed aggregate builds the RFM frame
    * (map-side partials); each metric's quartile cuts come from a
    * VALUE-histogram (recency is calendar-bounded, frequency is
    * max-orders-bounded, monetary quantizes to cents) whose cumulative
    * walk runs over the histogram, never the customer frame; the three
    * 1-row cut frames broadcast back into a map-side scoring pass. No
    * corpus-sized sort or window anywhere. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val mx = o.agg(max(col("o_orderdate")).as("ref"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(dec(col("o_totalprice"))).as("mon_dec"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey"),
        datediff(col("ref"), col("last_order")).cast("long").as("recency"),
        col("frequency"),
        (col("mon_dec") * 100).cast("long").as("mon_cents"),
        col("mon_dec"))
      .ckpt // consumers: 3 histograms + scoring pass
    val tot = cust.agg(count(lit(1)).as("tot"))
    def cutsOf(vcol: String): DataFrame =
      cust.groupBy(col(vcol).as("v")).agg(count(lit(1)).as("n"))
        // histogram-sized window (value-bounded, NOT customer-bounded)
        .withColumn("cum", sum(col("n")).over(Window.orderBy(col("v"))))
        .crossJoin(broadcast(tot))
        .agg(
          min(when(col("cum") * 4 >= col("tot"), col("v"))).as(s"${vcol}_c1"),
          min(when(col("cum") * 2 >= col("tot"), col("v"))).as(s"${vcol}_c2"),
          min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).as(s"${vcol}_c3"))
    def scoreAsc(x: Column, p: String): Column =
      lit(1) + (x > col(s"${p}_c1")).cast("int") +
        (x > col(s"${p}_c2")).cast("int") +
        (x > col(s"${p}_c3")).cast("int")
    val scored = cust
      .crossJoin(broadcast(cutsOf("recency")))
      .crossJoin(broadcast(cutsOf("frequency")))
      .crossJoin(broadcast(cutsOf("mon_cents")))
      .select(col("o_custkey"), col("mon_dec"),
        (lit(5) - scoreAsc(col("recency"), "recency")).as("r_score"),
        scoreAsc(col("frequency"), "frequency").as("f_score"),
        scoreAsc(col("mon_cents"), "mon_cents").as("m_score"))
    val seg = when(col("r_score") >= 4 && col("f_score") >= 4 &&
        col("m_score") >= 4, "champion")
      .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
      .when(col("r_score") >= 4 && col("f_score") <= 2, "new")
      .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
      .otherwise("regular")
    scored.withColumn("segment", seg)
      .groupBy(col("segment"), col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("mon_dec")).cast("double") /
          count(lit(1)), 4).as("avg_monetary"))
      .orderBy(col("segment"), col("r_score"), col("f_score"), col("m_score"))
  }

  private def rfmOracle: String = {
    def cutsSql(metric: String, name: String): String =
      s"""${name}_cuts AS (
         |  SELECT MIN(CASE WHEN cum * 4 >= tot THEN v END) AS ${name}_c1,
         |         MIN(CASE WHEN cum * 2 >= tot THEN v END) AS ${name}_c2,
         |         MIN(CASE WHEN cum * 4 >= tot * 3 THEN v END) AS ${name}_c3
         |  FROM (SELECT v, SUM(n) OVER (ORDER BY v) AS cum, tot FROM
         |          (SELECT $metric AS v, COUNT(*) AS n FROM cust GROUP BY 1),
         |          tot))""".stripMargin
    s"""WITH mx AS (SELECT MAX(o_orderdate) AS ref FROM orders),
       |cust AS (
       |  SELECT o_custkey,
       |         CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
       |                        CAST(MAX(ref) AS DATE)) AS BIGINT) AS recency,
       |         COUNT(*) AS frequency,
       |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec,
       |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       |           AS mon_cents
       |  FROM orders, mx GROUP BY o_custkey),
       |tot AS (SELECT COUNT(*) AS tot FROM cust),
       |${cutsSql("recency", "recency")},
       |${cutsSql("frequency", "frequency")},
       |${cutsSql("mon_cents", "mon_cents")},
       |scored AS (
       |  SELECT o_custkey, mon_dec,
       |         5 - (1 + CAST(recency > recency_c1 AS INT)
       |                + CAST(recency > recency_c2 AS INT)
       |                + CAST(recency > recency_c3 AS INT)) AS r_score,
       |         1 + CAST(frequency > frequency_c1 AS INT)
       |           + CAST(frequency > frequency_c2 AS INT)
       |           + CAST(frequency > frequency_c3 AS INT) AS f_score,
       |         1 + CAST(mon_cents > mon_cents_c1 AS INT)
       |           + CAST(mon_cents > mon_cents_c2 AS INT)
       |           + CAST(mon_cents > mon_cents_c3 AS INT) AS m_score
       |  FROM cust, recency_cuts, frequency_cuts, mon_cents_cuts)
       |SELECT CASE
       |         WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
       |           THEN 'champion'
       |         WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
       |         WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
       |         WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
       |         ELSE 'regular' END AS segment,
       |       r_score, f_score, m_score,
       |       CAST(COUNT(*) AS BIGINT) AS n_customers,
       |       ROUND(CAST(SUM(mon_dec) AS DOUBLE) / COUNT(*), 4)
       |         AS avg_monetary
       |FROM scored
       |GROUP BY 1, 2, 3, 4
       |ORDER BY segment, r_score, f_score, m_score""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("q191_rfm_segments", (s, d) => rfmSegments(s, d), Some(rfmOracle)),
    Q("q01_bestsellers", (s, d) => bestsellers(s, d), Some(
      s"""SELECT l_partkey,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY l_partkey
        |ORDER BY total_qty DESC, total_amount DESC, l_partkey
        |LIMIT $BestsellersK""".stripMargin)),
    Q("q02_top_customers", (s, d) => topCustomers(s, d), Some(
      """SELECT o_custkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |       COUNT(*) AS order_cnt
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY total_spent DESC, o_custkey
        |LIMIT 50""".stripMargin)),
    Q("q03_also_purchased", (s, d) => alsoPurchased(s, d), Some(
      """SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_partkey = 1)
        |  AND l_partkey <> 1
        |GROUP BY l_partkey
        |ORDER BY total_qty DESC, l_partkey
        |LIMIT 10""".stripMargin)),
    Q("q04_never_sold", (s, d) => neverSold(s, d), Some(
      """SELECT p_partkey, p_name, p_brand
        |FROM part
        |WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |ORDER BY p_partkey""".stripMargin)),
    Q("q05_orders_total", (s, d) => ordersTotal(s, d), Some(
      """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
        |       COUNT(*) AS order_cnt,
        |       CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS min_price,
        |       CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS max_price
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),
    Q("q06_sold_distinct", (s, d) => soldDistinct(s, d), Some(
      """SELECT COUNT(DISTINCT l_partkey) AS distinct_parts,
        |       COUNT(DISTINCT l_suppkey) AS distinct_supps
        |FROM lineitem""".stripMargin)),
    Q("q07_big_spenders", (s, d) => bigSpenders(s, d), Some(
      """SELECT c_custkey, c_name, total_spent, order_cnt
        |FROM customer
        |JOIN (SELECT o_custkey,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |             COUNT(*) AS order_cnt
        |      FROM orders GROUP BY o_custkey
        |      HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) >= 400000.0) t
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin)),
    Q("q299_registrations_dashboard", (s, d) => registrationsDashboard(s, d),
      Some(registrationsDashboardOracle)),
    Q("q08_orders_dashboard", (s, d) => ordersDashboard(s, d), Some(
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |       COUNT(*) AS total_cnt,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
        |       LAG(COUNT(*)) OVER (ORDER BY date_trunc('month', o_orderdate)) AS prev_cnt
        |FROM orders
        |GROUP BY date_trunc('month', o_orderdate)
        |ORDER BY month""".stripMargin)),
    Q("q60_orders_weekly", (s, d) => ordersWeekly(s, d), Some(
      """WITH mx AS (SELECT MAX(o_orderdate) AS m FROM orders)
        |SELECT CAST(FLOOR(date_diff('day',
        |         CAST(timezone('Europe/Berlin', CAST(o2.o_orderdate AS TIMESTAMPTZ)) AS DATE),
        |         CAST(timezone('Europe/Berlin', CAST(mx.m AS TIMESTAMPTZ)) AS DATE)) / 7.0) AS INT) AS weeks_ago,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
        |FROM orders o2, mx
        |WHERE o2.o_orderdate > mx.m - INTERVAL 28 DAY
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),
    Q("q62_geo_hierarchy", (s, d) => geoHierarchy(s, d), Some(
      """WITH RECURSIVE edges AS (
        |  SELECT 'R' || r_regionkey AS id, CAST(NULL AS VARCHAR) AS parent_id,
        |         r_name AS name FROM region
        |  UNION ALL
        |  SELECT 'N' || n_nationkey, 'R' || n_regionkey, n_name FROM nation),
        |h AS (
        |  SELECT id, name, 0 AS depth, name AS path FROM edges WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT e.id, e.name, h.depth + 1, h.path || '/' || e.name
        |  FROM edges e JOIN h ON e.parent_id = h.id)
        |SELECT id, name, CAST(depth AS INT) AS depth, path FROM h
        |ORDER BY path""".stripMargin)),
    Q("q61_orders_rollup", (s, d) => ordersRollup(s, d), Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
        |FROM orders
        |GROUP BY ROLLUP(yr, o_orderstatus)
        |ORDER BY yr NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)),
    Q("q92_orders_cube", (s, d) => ordersCube(s, d), Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus,
        |       CAST(GROUPING(yr, o_orderstatus) AS INT) AS gid,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
        |FROM orders
        |GROUP BY CUBE(yr, o_orderstatus)
        |ORDER BY gid, yr NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)),
    Q("q09_price_facet", (s, d) => priceFacet(s, d), Some(
      s"""SELECT $bucketSql AS bucket, COUNT(*) AS cnt
         |FROM part
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin)),
    Q("q10_segment_facet", (s, d) => segmentFacet(s, d), Some(
      """SELECT c_mktsegment,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin))
  )
}
