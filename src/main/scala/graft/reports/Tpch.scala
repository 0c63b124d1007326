package graft.reports

import graft.{Q, Tables}
import graft.Ckpt.Ops
import graft.functions.MoneyFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.sql.Timestamp

/** Classic TPC-H-shaped analytics over the star schema — the canonical
  * multi-join/aggregate plans a reference user would run for reporting.
  * (TPC-H is public-spec; shapes adapted to the driver's synthetic
  * columns.) These exercise the planner paths that matter at 100 TB:
  * star joins with broadcast dimensions, fact-fact joins shuffling on the
  * join key only, pre-join filters reaching every scan, map-side partial
  * aggregation, and k-row top-k merges.
  */
object Tpch {

  private def dec(c: org.apache.spark.sql.Column) = c.try_cast(DecimalType(18, 2)) // try_cast: NaN/Inf/overflow row -> null, not an ANSI job kill
  private def ts(s: String) = lit(Timestamp.valueOf(s))
  private def cents(c: org.apache.spark.sql.Column) = MoneyFns.unscaledCents(c)

  /** Discounted revenue as an EXACT unscaled scale-4 integer:
    * cents(price) × (100 − cents(discount)) — the same exact value as
    * the decimal form dec(price)×(1−dec(disc)) without per-row
    * BigDecimal work (see MoneyFns.unscaledCents). Rounding each 2dp
    * input FIRST matters: computing `price * (1 - discount)` in double
    * and THEN rounding is engine-unstable — near-midpoint double
    * products round differently in Spark vs DuckDB (two elements in
    * 600k flipped a cent at sf0.1). Sum with
    * `MoneyFns.sumUnscaled(_, 4)`. */
  private def revU: org.apache.spark.sql.Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** Q4 shape — order-priority checking (q246): orders with ANY line
    * item shipped more than 90 days after the order date, counted per
    * priority. The EXISTS is a LEFT SEMI join whose extra non-equi
    * condition (shipdate vs orderdate) rides the orderkey equi-join as a
    * residual — one shuffle on the natural key, no fact duplication
    * (a plain join + distinct would double-shuffle). */
  def latePriority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q9 shape — product-type profit (q247): revenue of one part family
    * per supplier nation × ship year. Both dimensions (filtered part
    * list, supplier→nation map) broadcast onto the fact scan; the only
    * shuffle is the (nation, year) aggregate — the all-broadcast star
    * q54 proves, on the Q9 join pattern. */
  def productProfit(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_name").contains("red"))
      .select(col("p_partkey"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("yr"), revU.as("rev_u"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), col("yr"))
      .agg(MoneyFns.sumUnscaled(col("rev_u"), 4).as("profit"))
      .orderBy(col("nation"), col("yr").desc)
  }

  /** Q19 shape — disjunctive bracket revenue (q254): three OR-branches,
    * each pairing part attributes (brand, size) with a lineitem quantity
    * band — the classic test that a disjunctive cross-table predicate
    * still plans as ONE broadcast equi-join with the disjunction as a
    * residual (naive planners fall to a cartesian per branch). The part
    * side prunes to the union of brands BEFORE broadcasting. */
  def bracketRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), revU.as("rev_u"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 30)))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        MoneyFns.sumUnscaled(col("rev_u"), 4).as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** Share-of-parent hierarchy report (q255): revenue by region → nation
    * with each nation's share of its region in basis points — the
    * percent-of-parent OLAP drill every reporting grid carries. The
    * region subtotal re-aggregates the NATION frame (|nations| rows) and
    * broadcasts back — never a second fact scan or a corpus window. */
  def regionNationShare(s: SparkSession, dir: String): DataFrame = {
    val geo = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(geo), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val nat = Tables.orders(s, dir)
      .select(col("o_custkey"),
        cents(col("o_totalprice")).as("cents"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      .ckpt // consumers: the region subtotal + the share projection
    val reg = nat.groupBy(col("r_name")).agg(sum(col("cents")).as("reg_cents"))
    nat.join(broadcast(reg), Seq("r_name"))
      .select(col("r_name"), col("n_name"), col("n_orders"),
        (col("cents").cast("double") / 100d).as("revenue"),
        // nation cents reach ~9e11 at sf1, so the ×10⁴ product exceeds
        // LONG near the 1000× regime — widen to decimal(38,0) (oracle:
        // HUGEINT) before the floor division, like q219/q224/q228/q201
        expr("cast(cast(cents as decimal(38,0)) * 10000 div reg_cents" +
          " as bigint)").as("share_bp"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Q3 shape — shipping-priority: segment-filtered customers ⋈ open
    * orders ⋈ late-shipped items, revenue top-10. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < ts("2000-01-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > ts("2000-01-01 00:00:00"))
      .select(col("l_orderkey"), revU.as("rev_u"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(MoneyFns.sumUnscaled(col("rev_u"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q5 shape — local-supplier revenue by nation: 6-table star join where
    * region/nation broadcast and the customer⋈supplier nation equality is
    * a residual predicate. */
  def localSupplierRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1998-01-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      revU.as("rev_u"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(MoneyFns.sumUnscaled(col("rev_u"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private final val CopurchaseK = 3
  /** Co-purchase top-k for EVERY part (the also-purchased report as one
    * distributed computation instead of a per-product query): directed
    * part pairs co-occurring in an order, counted, ranked per source part.
    * Scale shape: the self-join shuffles on l_orderkey once; pair counts
    * are a hash aggregate; ranking is a partitioned window with partial
    * top-k (WindowGroupLimit) before the shuffle. */
  def copurchaseTopK(s: SparkSession, dir: String): DataFrame = {
    // Basket form instead of a self-join: collect the distinct part set
    // per order (ONE shuffle, with map-side partial set-union — safe
    // because basket size is bounded by order size, not corpus size),
    // then explode the in-row cross product. The equivalent self-join
    // costs three more shuffles (distinct + both join sides repartition).
    // co-occurrence counts are symmetric: count each unordered pair once
    // (a < b — halves the pair rows through the count shuffle), then
    // mirror the counted pairs for the per-source ranking
    // sorted basket + suffix-slice explode: emits each a<b pair ONCE
    // (half the generated rows of explode×explode + filter, no residual
    // comparison); sort_array is per-row over order-bounded sets
    // d19: the counted (a < b) pair frame is the session-pinned
    // co-purchase graph (Graph.pairSupportM — n_orders IS support); this
    // query's own work is the mirror union and the bounded-heap top-k
    val half = Graph.pairSupportM(s, dir)
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("support").as("n_orders"))
    val pairs = half.unionByName(half.select(
      col("part_b").as("part_a"), col("part_a").as("part_b"), col("n_orders")))
    // bounded-heap top-k per part (functions.TopKStructs): O(n log k) with
    // map-side partial heaps, instead of a window row_number that sorts
    // every part's full pair list; struct order (-n_orders, part_b) =
    // ORDER BY n_orders DESC, part_b — total, so ranking is deterministic
    pairs
      .groupBy(col("part_a"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("n_orders")).as("neg"), col("part_b").as("part_b"),
          col("n_orders").as("n_orders")), CopurchaseK).as("tk"))
      .select(col("part_a"), posexplode(col("tk")))
      .select(col("part_a"), col("col.part_b").as("part_b"),
        col("col.n_orders").as("n_orders"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("part_a"), col("rn"))
  }

  /** Q17 shape — small-quantity-order revenue: lineitems below 20% of
    * their part's average quantity (correlated aggregate as a
    * broadcast-joined per-part aggregate; the quantity sums are exact in
    * double because quantities are integer-valued, so the threshold
    * comparison is engine-stable). */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val avgQ = li.groupBy(col("l_partkey").as("pk"))
      .agg(avg(col("l_quantity")).as("aq"))
    li.join(broadcast(avgQ), col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("aq"))
      .agg(round(MoneyFns.sumUnscaled(cents(col("l_extendedprice")), 2) / 7.0, 2)
          .as("avg_yearly"),
        count(lit(1)).as("cnt"))
  }

  /** Q1 shape — pricing summary: per (returnflag, linestatus) the full
    * aggregate battery, all EXACT via the unscaled-integer kernel
    * (MoneyFns): qty/price/disc are scale-2 integers, rev = price_u ×
    * (100−disc_u) scale-4, charge = rev_u × (100+tax_u) scale-6 — all
    * exact long products with ~10⁷ headroom — summed in decimal(28,0)
    * and shifted once per group. Same values as the decimal battery
    * (sum of decimal(.,4)/(.,6) products cast to double) at ~4× less
    * per-row cost; averages divide the exact sums as doubles (identical
    * operands ⇒ identical quotients — no rounding needed). */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val qtyU = cents(col("l_quantity"))
    val priceU = cents(col("l_extendedprice"))
    val chargeU = revU * (lit(100L) + cents(col("l_tax")))
    // Two-level aggregation: level 1 sums pure LONGS per (group,
    // partition) — map-side only, since _p is constant within a task, so
    // each task emits ≤|groups| rows and the per-row path never touches a
    // Decimal (measured ~2× the all-decimal-sum battery). Safe at scale:
    // a partition holds ≤~10⁷ rows (maxPartitionBytes-bounded) × ≤2·10¹¹
    // per scale-6 charge ⇒ ≤2·10¹⁸ < 2⁶³, and ANSI sum(long) THROWS
    // rather than wraps if a pathological partition ever exceeded it.
    // Level 2 merges the few partial rows in decimal — unbounded, exact.
    val partials = Tables.lineitem(s, dir)
      .withColumn("_p", spark_partition_id())
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("_p"))
      .agg(sum(qtyU).as("q_u"), sum(priceU).as("p_u"), sum(revU).as("r_u"),
        sum(chargeU).as("c_u"), sum(cents(col("l_discount"))).as("d_u"),
        count(lit(1)).as("n"))
    def tot(c: String, scale: Int) = (sum(col(c).cast(DecimalType(28, 0))) *
      lit(java.math.BigDecimal.valueOf(1L, scale))).cast("double")
    val cnt = sum(col("n"))
    partials
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        tot("q_u", 2).as("sum_qty"),
        tot("p_u", 2).as("sum_base_price"),
        tot("r_u", 4).as("sum_disc_price"),
        tot("c_u", 6).as("sum_charge"),
        (tot("q_u", 2) / cnt).as("avg_qty"),
        (tot("p_u", 2) / cnt).as("avg_price"),
        (tot("d_u", 2) / cnt).as("avg_disc"),
        cnt.as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q14 shape — promo revenue share: conditional decimal revenue over
    * total, scaled to percent with the same association order both sides. */
  def promoShare(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        ((lit(100.0) * MoneyFns.sumUnscaled(
          when(col("p_type").startsWith("PROMO"), revU), 4)) /
          MoneyFns.sumUnscaled(revU, 4)).as("promo_share"),
        count(lit(1)).as("cnt"))
  }

  /** Q22 shape — above-average-balance customers with NO OPEN orders, per
    * nation: scalar aggregate threshold (broadcast) + anti-join + group.
    * The threshold divides the exact decimal balance sum as a double so
    * the cut line is engine-stable. */
  def richIdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val thr = c.agg((MoneyFns.sumUnscaled(cents(col("c_acctbal")), 2) /
      count(lit(1))).as("avg_bal"))
    c.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"),
        MoneyFns.sumUnscaled(cents(col("c_acctbal")), 2).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  private final val VolumeNation1 = "NATION_10"
  private final val VolumeNation2 = "NATION_12"
  /** Q7 shape — volume shipping between two nations: the fact table is
    * pruned FIRST by the broadcast supplier⋈nation join (only the two
    * nations' suppliers survive — a ~2/25 selectivity applied before the
    * only fact-fact shuffle), then joined to orders on the shuffle key and
    * to the broadcast customer side; the cross-pair (n1→n2 or n2→n1)
    * residual runs on the joined row. Revenue is the exact unscaled-cents
    * kernel. */
  def volumeShipping(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir)
      .filter(col("n_name").isin(VolumeNation1, VolumeNation2))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"), revU.as("rev_u"))
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === VolumeNation1 &&
          col("cust_nation") === VolumeNation2) ||
        (col("supp_nation") === VolumeNation2 &&
          col("cust_nation") === VolumeNation1))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(MoneyFns.sumUnscaled(col("rev_u"), 4).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private final val MarketNation = "NATION_3"
  private final val MarketRegion = "AMERICA"
  private final val MarketType = "ECONOMY"
  /** Q8 shape — market share: one nation's suppliers' share of a region's
    * revenue for one part type, per order year. The share divides two
    * branches of the SAME exact decimal sum (conditional numerator), so
    * the quotient is engine-stable. The part filter broadcasts and prunes
    * the fact scan before any shuffle. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_type") === MarketType)
      .select(col("p_partkey"))
    val reg = Tables.region(s, dir).filter(col("r_name") === MarketRegion)
    val natC = Tables.nation(s, dir)
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(natC), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val natS = Tables.nation(s, dir).select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revU.as("rev_u"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg((MoneyFns.sumUnscaled(
        when(col("supp_nation") === MarketNation, col("rev_u")), 4) /
        MoneyFns.sumUnscaled(col("rev_u"), 4)).as("mkt_share"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_year"))
  }

  /** Q10 shape — returned-item report: revenue lost to returns per
    * customer in a half-year order window, top 20. Orders are date-pruned
    * at the scan; the returnflag filter prunes lineitem; customer/nation
    * dims broadcast onto the aggregated (not raw) rows. */
  def returnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-07-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revU.as("rev_u"))
    val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(MoneyFns.sumUnscaled(col("rev_u"), 4).as("revenue"))
    agg.join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q15 shape — top supplier(s): per-supplier revenue over a quarter,
    * then keep the rows equal to the global max (scalar-aggregate
    * broadcast — the view + MAX(view) shape). Both sides of the equality
    * are the same exact unscaled sum cast to double, so the comparison is
    * engine-stable. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(MoneyFns.sumUnscaled(revU, 4).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey").as("sk"), col("s_name"))),
        col("l_suppkey") === col("sk"))
      .select(col("l_suppkey").as("s_suppkey"), col("s_name"),
        col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private final val LargeOrderQty = 150.0
  /** Q18 shape — large-quantity orders: IN over a grouped HAVING. The
    * quantity sum per order is ONE fact shuffle; the orders join reuses
    * that orderkey partitioning; customer broadcasts onto the k surviving
    * rows. Quantities are integer-valued doubles, so the sums and the
    * threshold compare exactly. */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > LargeOrderQty)
    big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q13 shape — customer order-count distribution: aggregate OF an
    * aggregate (two chained hash aggregations; the second groups on the
    * first's measure — the count-of-counts histogram shape). */
  def custDistribution(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val qs: Seq[Q] = Seq(
    Q("q254_bracket_revenue", (s, d) => bracketRevenue(s, d), Some(
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)),
    Q("q255_region_nation_share", (s, d) => regionNationShare(s, d), Some(
      """WITH nat AS (
        |  SELECT r.r_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY r.r_name, n.n_name),
        |reg AS (SELECT r_name, SUM(cents) AS reg_cents FROM nat
        |        GROUP BY r_name)
        |SELECT nat.r_name, nat.n_name, nat.n_orders,
        |       CAST(nat.cents AS DOUBLE) / 100 AS revenue,
        |       CAST(CAST(nat.cents AS HUGEINT) * 10000 // reg.reg_cents
        |            AS BIGINT) AS share_bp
        |FROM nat JOIN reg USING (r_name)
        |ORDER BY nat.r_name, nat.n_name""".stripMargin)),
    Q("q246_late_priority", (s, d) => latePriority(s, d), Some(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Q("q247_product_profit", (s, d) => productProfit(s, d), Some(
      """SELECT n.n_name AS nation, EXTRACT(year FROM l_shipdate) AS yr,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n ON s_nationkey = n.n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n.n_name, EXTRACT(year FROM l_shipdate)
        |ORDER BY nation, yr DESC""".stripMargin)),
    Q("q101_volume_shipping", (s, d) => volumeShipping(s, d), Some(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       EXTRACT(year FROM l_shipdate) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12')
        |    OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10'))
        |GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    Q("q102_market_share", (s, d) => marketShare(s, d), Some(
      """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
        |                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                          * (1.00 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
        |       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'ECONOMY'
        |  AND EXISTS (SELECT 1 FROM customer
        |              JOIN nation cn ON c_nationkey = cn.n_nationkey
        |              JOIN region ON cn.n_regionkey = r_regionkey
        |              WHERE c_custkey = o_custkey AND r_name = 'AMERICA')
        |GROUP BY EXTRACT(year FROM o_orderdate)
        |ORDER BY o_year""".stripMargin)),
    Q("q103_returned_items", (s, d) => returnedItems(s, d), Some(
      """SELECT c_custkey, c_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)),
    Q("q104_top_supplier", (s, d) => topSupplier(s, d), Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT l_suppkey AS s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = supplier.s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Q("q105_large_orders", (s, d) => largeOrders(s, d), Some(
      """SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice, SUM(l_quantity) AS total_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |HAVING SUM(l_quantity) > 150.0
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)),
    Q("q83_cust_distribution", (s, d) => custDistribution(s, d), Some(
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_custkey) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Q("q80_pricing_summary", (s, d) => pricingSummary(s, d), Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(15,4))
        |           * (1.00 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Q("q81_promo_share", (s, d) => promoShare(s, d), Some(
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |                   THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                        * (1.00 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
        |         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                    * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS promo_share,
        |       COUNT(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),
    Q("q82_rich_idle_customers", (s, d) => richIdleCustomers(s, d), Some(
      """WITH thr AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                    / COUNT(*) AS avg_bal FROM customer)
        |SELECT c_nationkey, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, thr
        |WHERE c_acctbal > thr.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),
    Q("q58_small_qty_revenue", (s, d) => smallQtyRevenue(s, d), Some(
      """SELECT round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 2) AS avg_yearly,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |JOIN (SELECT l_partkey AS pk, AVG(l_quantity) AS aq
        |      FROM lineitem GROUP BY l_partkey) t ON l_partkey = pk
        |WHERE l_quantity < 0.2 * aq""".stripMargin)),
    Q("q55_copurchase_topk", (s, d) => copurchaseTopK(s, d), Some(
      """SELECT part_a, part_b, n_orders, rn FROM (
        |  SELECT part_a, part_b, n_orders,
        |         ROW_NUMBER() OVER (PARTITION BY part_a
        |                            ORDER BY n_orders DESC, part_b) AS rn
        |  FROM (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |               COUNT(*) AS n_orders
        |        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |          ON a.l_orderkey = b.l_orderkey
        |        WHERE a.l_partkey <> b.l_partkey
        |        GROUP BY a.l_partkey, b.l_partkey) p) t
        |WHERE rn <= 3
        |ORDER BY part_a, rn""".stripMargin)),
    Q("q53_shipping_priority", (s, d) => shippingPriority(s, d), Some(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),
    Q("q54_local_supplier_revenue", (s, d) => localSupplierRevenue(s, d), Some(
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin))
  )
}
