package graft.etl

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ETL load/export operator queries — SURVEY §2.8/§2.9/§2.2 (K5/K6) —
  * exercised end-to-end against the star schema with DuckDB oracles. The
  * upsert input is derived deterministically from the customer table so the
  * oracle can reproduce it in pure SQL.
  */
object EtlQueries {

  /** The q26/q260 incoming batch — updates (custkey%10=0: acctbal+100,
    * segment overwritten) + inserts (custkey%1000=0 re-keyed above the
    * max surrogate) — derived deterministically from the snapshot so
    * the oracle can reproduce it in pure SQL. */
  private[graft] def upsertIncoming(snap: DataFrame): DataFrame = {
    val updates = snap.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100d)
      .withColumn("c_mktsegment", lit("UPDATED"))
    val inserts = snap.filter(col("c_custkey") % 1000 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000L)
      .withColumn("c_name", concat(col("c_name"), lit(" (new)")))
    updates.unionByName(inserts)
  }

  private[graft] val upsertCfg =
    Upsert.Config(surrogate = "c_custkey", keyPriority = Seq("c_custkey"))

  def upsertCustomers(s: SparkSession, dir: String): DataFrame = {
    val snap = Tables.customer(s, dir)
    Upsert.upsert(snap, upsertIncoming(snap), upsertCfg)
      .orderBy(col("c_custkey"))
  }

  /** Bucketed-snapshot upsert (q260): the q240 layout recipe applied to
    * the engine's single most-run production job. The snapshot lands
    * ONCE as a bucketed table keyed on the surrogate
    * (`Scale.writeBucketed`); every nightly merge afterwards plans its
    * full-outer join and its key-index windows WITHOUT a snapshot-side
    * exchange — only the (delta-sized) incoming batch shuffles to the
    * bucket layout. At 100 TB the snapshot side IS the lake, so this
    * converts the merge's dominant shuffle into a co-located read.
    * Values must equal the raw-parquet q26 oracle; PlanSpec pins the
    * snapshot-side exchange elimination, UpsertSpec the value parity,
    * PLANS.md "d12: bucketed-snapshot upsert (q260)" the A/B. */
  def upsertCustomersBucketed(s: SparkSession, dir: String): DataFrame = {
    val table = s"graft_cust_bucketed_${SheetStage.sourceKey(dir)}"
    // Landing is SETUP, not merge: a production snapshot is bucketed once
    // and then merged into nightly. Re-landing on every invocation would
    // (a) bill a full snapshot overwrite to every measured bench pass and
    // (b) make a read-only registered query mutate catalog/filesystem
    // state on each run — so skip the write when this session already
    // carries the bucketed table (double-checked under the object lock:
    // Verify/Bench run queries concurrently in one session).
    val snapT =
      if (s.catalog.tableExists(table)) table
      else EtlQueries.synchronized {
        if (s.catalog.tableExists(table)) table
        else graft.operators.Scale.writeBucketed(
          Tables.customer(s, dir), table, "c_custkey", 8,
          Some(SheetStage.dirFor(dir, "bucketed/customer")))
      }
    val snap = s.table(snapT)
    Upsert.upsert(snap, upsertIncoming(snap), upsertCfg)
      .orderBy(col("c_custkey"))
  }

  /** Cron fire-time cross-check (q241): six schedule expressions covering
    * the full grammar (wildcards, steps, ranges, names, weekday pins, the
    * NCrontab dom∩dow intersection) expanded over a fixed 90-day window
    * by the Cron evaluator — driver-side, exactly where the reference's
    * scheduler runs it (`CronExpression.cs` / `DefaultTaskScheduler.cs`)
    * — and reduced to per-expression fire counts + first/last fire.
    * DuckDB re-derives the same fires from an INDEPENDENT formulation:
    * a minute series filtered by field predicates. e6 must fire ZERO
    * times (no Monday-the-1st in the window) — a Vixie union dialect
    * would fire 16 times, so the intersection semantics is value-gated. */
  def cronFires(s: SparkSession, dir: String): DataFrame = {
    import java.time.LocalDateTime
    val base = LocalDateTime.of(2025, 12, 31, 23, 59)
    val now = LocalDateTime.of(2026, 3, 31, 23, 59)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
    import s.implicits._
    cronExprs.map { case (id, e) =>
      val fires = Cron.dueRuns(e, base, now, max = 200000)
      (id, e, fires.size.toLong,
        fires.headOption.map(_.format(fmt)).orNull,
        fires.lastOption.map(_.format(fmt)).orNull)
    }.toDF("expr_id", "expr", "n_fires", "first_fire", "last_fire")
      .orderBy(col("expr_id"))
  }

  private val cronExprs = Seq(
    "e1" -> "0 * * * *",
    "e2" -> "*/15 * * * *",
    "e3" -> "30 2 * * *",
    "e4" -> "0 12 * * 1",
    "e5" -> "0 0 1 JAN-DEC *",
    "e6" -> "0 0 1 * 1")

  private val cronOracle: String =
    """WITH m AS (
      |  SELECT t, minute(t) AS mi, hour(t) AS hh, day(t) AS dd,
      |         dayofweek(t) AS dw
      |  FROM generate_series(TIMESTAMP '2026-01-01 00:00:00',
      |                       TIMESTAMP '2026-03-31 23:59:00',
      |                       INTERVAL 1 MINUTE) g(t)),
      |f AS (
      |  SELECT 'e1' AS expr_id, t FROM m WHERE mi = 0
      |  UNION ALL SELECT 'e2', t FROM m WHERE mi % 15 = 0
      |  UNION ALL SELECT 'e3', t FROM m WHERE mi = 30 AND hh = 2
      |  UNION ALL SELECT 'e4', t FROM m WHERE mi = 0 AND hh = 12 AND dw = 1
      |  UNION ALL SELECT 'e5', t FROM m WHERE mi = 0 AND hh = 0 AND dd = 1
      |  UNION ALL SELECT 'e6', t FROM m
      |    WHERE mi = 0 AND hh = 0 AND dd = 1 AND dw = 1),
      |e AS (SELECT * FROM (VALUES
      |        ('e1', '0 * * * *'), ('e2', '*/15 * * * *'),
      |        ('e3', '30 2 * * *'), ('e4', '0 12 * * 1'),
      |        ('e5', '0 0 1 JAN-DEC *'), ('e6', '0 0 1 * 1'))
      |      v(expr_id, expr))
      |SELECT e.expr_id, e.expr,
      |       CAST(COUNT(f.t) AS BIGINT) AS n_fires,
      |       strftime(MIN(f.t), '%Y-%m-%d %H:%M') AS first_fire,
      |       strftime(MAX(f.t), '%Y-%m-%d %H:%M') AS last_fire
      |FROM e LEFT JOIN f ON e.expr_id = f.expr_id
      |GROUP BY e.expr_id, e.expr
      |ORDER BY e.expr_id""".stripMargin

  /** K6: predicate-based bulk delete re-expressed as anti-delete. */
  def bulkDelete(s: SparkSession, dir: String): DataFrame =
    Upsert.deleteWhere(Tables.orders(s, dir),
        col("o_orderstatus") === "F" && col("o_totalprice") < 50000d)
      .orderBy(col("o_orderkey"))

  /** §2.7 JSON-ish config ingestion: extract the numeric payload from the
    * events props string and aggregate per type. */
  def propsExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", regexp_extract(col("props"), "\\d+", 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("k_sum"))
      .orderBy(col("event_type"))

  /** §2.9: profile-driven export extract (filter → order → offset/limit →
    * project) through ExportPipeline. */
  def exportExtract(s: SparkSession, dir: String): DataFrame =
    ExportPipeline.extract(Tables.orders(s, dir), ExportPipeline.Profile(
      filters = Seq(col("o_orderstatus") === "O"),
      projection = Seq(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      offset = 50,
      limit = Some(200),
      orderBy = Seq(col("o_orderkey"))))

  /** §2.8 step 3: numbered segment contract — 100-row segments over the
    * sorted key with per-segment stats. */
  def segmentStats(s: SparkSession, dir: String): DataFrame =
    Segmenter.segmentStats(
      Segmenter.byPosition(Tables.orders(s, dir).select(col("o_orderkey")),
        Seq(col("o_orderkey")), segmentSize = 100), "o_orderkey")

  /** §2.7 JSON config ingestion via from_json (the reference stores
    * filter/projection configs as JSON strings — ExportProfile.cs:88-94). */
  def propsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
      .filter(col("k") > 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** §2.7 slug generation with UNIQUE-slug assignment (the import
    * pipeline's ProcessSlugsAsync contract: colliding slugs get a numeric
    * suffix). Distributed form: window row_number per base slug with a
    * deterministic key order — one hash shuffle on the slug, no
    * sequential reservation table. */
  def uniqueSlugs(s: SparkSession, dir: String): DataFrame = {
    val base = graft.functions.Conversions.slugify(col("p_name"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("base_slug")).orderBy(col("p_partkey"))
    // round 2 resolves suffix/natural collisions ('steel wool' #2 gets
    // 'steel-wool-1', which a part NAMED 'steel wool 1' already owns):
    // colliding candidates keep the first by key and re-suffix the rest
    // with the (unique) part key. A natural name that ends with exactly
    // that key-suffix could in principle still collide — the sequential
    // reference loops until free, which a fixed-pass distributed form
    // trades away; two rounds covers every single-level collision.
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("candidate")).orderBy(col("p_partkey"))
    Tables.part(s, dir)
      .select(col("p_partkey"), base.as("base_slug"))
      .withColumn("rn", row_number().over(w))
      .select(col("p_partkey"),
        when(col("rn") === 1, col("base_slug"))
          .otherwise(concat_ws("-", col("base_slug"), col("rn") - 1))
          .as("candidate"))
      .withColumn("rn2", row_number().over(w2))
      .select(col("p_partkey"),
        when(col("rn2") === 1, col("candidate"))
          .otherwise(concat_ws("-", col("candidate"), col("p_partkey")))
          .as("slug"))
      .orderBy(col("p_partkey"))
  }

  /** §2.9 export expansion end to end (ExportExpand): parts keyed %10=0
    * act as grouped parents whose children are the two following keys;
    * parts keyed %7=0 carry two active variant combinations (combo A
    * overrides sku and price — exact decimal +10.00 — combo B only the
    * sku, price inherits). Grouped parents disappear in favor of their
    * children (duplicates collapse), then each combination becomes its
    * own row with a composite unique_id. Every derivation is from the
    * part table itself so DuckDB restates the whole expansion. */
  def exportExpanded(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.part(s, dir).select(
      col("p_partkey"),
      concat(lit("P-"), col("p_partkey")).as("sku"),
      col("p_retailprice").cast("decimal(18,2)").as("price"),
      when(col("p_partkey") % 10 === 0, "grouped").otherwise("simple").as("ptype"))
    val assoc = base.filter(col("ptype") === "grouped")
      .select(col("p_partkey").as("parent_id"),
        explode(array(col("p_partkey") + 1, col("p_partkey") + 2)).as("p_partkey"))
      .join(base, Seq("p_partkey"))
    val flat = ExportExpand.expandGrouped(base, assoc, "p_partkey", "ptype")
    val combos = base.filter(col("p_partkey") % 7 === 0)
      .select(col("p_partkey"), col("sku"), col("price"),
        explode(array(lit(1), lit(2))).as("combo_id"))
      .select(col("p_partkey"), col("combo_id"),
        concat(col("sku"),
          when(col("combo_id") === 1, "-A").otherwise("-B")).as("__ov_sku"),
        when(col("combo_id") === 1, col("price") + lit(BigDecimal("10.00")))
          .otherwise(lit(null).cast("decimal(18,2)")).as("__ov_price"))
    ExportExpand.combinationsAsProducts(flat, combos, "p_partkey",
        overrides = Seq("sku", "price"))
      .select(col("unique_id"), col("p_partkey"), col("sku"),
        col("price").cast("double").as("price"))
      .orderBy(col("p_partkey"), col("unique_id"))
  }

  /** Pre-import data profile of the customer table (one aggregation
    * pass for all columns — see Profiler). */
  def customerProfile(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(Tables.customer(s, dir),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"))
      .orderBy(col("col_name"))

  /** §2.9 projection config surface end to end (q133): an export profile
    * carrying the DECLARATIVE `ExportProjection` fields — language 2
    * translation overlay with entity-value fallback (even keys carry a
    * localized Name, ShortDescription exists only for keys divisible by
    * 3 and only as a translation), the
    * `ManufacturerAndNameAndShortDescription` description-merge chain
    * (brand ⊕ name ⊕ short, empty-skipping `Grow`), critical-character
    * removal (the ':' of the "Kurz:" prefix), and per-currency price
    * conversion (EUR at 0.92, exact decimal product, money-rounded).
    * The language-1 "rotfremd" rows of the shared synthetic table gate
    * language isolation: a leak changes every odd key's name. */
  def exportProjected(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    val lp = graft.dsl.Localized.syntheticProperties(part)
    val projected = ExportPipeline.applyProjection(
      part, "p_partkey",
      ExportPipeline.Projection(
        languageId = Some(2),
        localizedColumns = Map(
          "Name" -> "p_name", "ShortDescription" -> "short_description"),
        currency = Some(("EUR", 0.92)),
        priceColumns = Seq("p_retailprice"),
        descriptionMerging = "ManufacturerAndNameAndShortDescription",
        nameColumn = "p_name",
        manufacturerColumn = "p_brand",
        removeCriticalCharacters = true,
        criticalCharacters = Seq(":")),
      localized = Some(lp))
    projected
      .select(col("p_partkey"), col("p_name"), col("short_description"),
        col("description"), col("p_retailprice"), col("currency_code"))
      .orderBy(col("p_partkey"))
  }

  /** K3 proved by a CONCRETE provider (q134): the feed projection of the
    * registered `feed-xml` provider (`GmcXmlExportProvider` shape) over
    * deterministic part-derived inputs — condition/availability enum
    * mappings, SKU→MPN fallback, link templating, invariant money-string
    * price. The XML sink/namespace round-trip is spec-asserted
    * (ExportDeploySpec); this query oracle-checks every per-row mapping. */
  def feedExport(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.part(s, dir).select(
      col("p_partkey").as("id"),
      col("p_name").as("title"),
      concat(lit("P-"), col("p_partkey")).as("sku"),
      col("p_brand").as("brand"),
      when(col("p_partkey") % 10 === 0, "Used")
        .when(col("p_partkey") % 10 === 1, "Refurbished")
        .otherwise("New").as("condition"),
      (col("p_size") - 5).as("stock"),
      (col("p_partkey") % 2 === 0).as("preorder"),
      col("p_retailprice").as("price"),
      col("p_brand").as("group_id"))
    FeedXml.project(items, FeedXml.Config()).orderBy(col("id"))
  }

  /** The q269/q270 SCD2 batch, derived deterministically from the
    * customer snapshot so the oracle reproduces it in pure SQL:
    * custkey%3=0 rows CHANGE (acctbal+10, segment 'SCD2'), a disjoint
    * slice (custkey%3≠0 ∧ custkey%7=1) arrives as byte-identical no-ops
    * (must NOT open versions), custkey%500=0 re-keys above the snapshot
    * as NEW dimension members. The fresh-key offset is the snapshot MAX
    * key + 1 (the +1 because keys start at 0 — `0 + max` would collide
    * with the max key itself), so fresh keys stay disjoint from real
    * customer keys at EVERY scale factor — a fixed constant collides
    * once the fixture outgrows it. The offset arrives as a literal: a
    * driver-side 1-row aggregate (the `Upsert.merge` surrogate-max
    * idiom) computed once per dimension by `scd2Dim`, so the per-run
    * merge plan carries no extra scan. */
  private[graft] def scd2Batch(snap: DataFrame, freshOffset: Long): DataFrame = {
    val changed = snap.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 10d)
      .withColumn("c_mktsegment", lit("SCD2"))
    val noops = snap.filter(col("c_custkey") % 3 =!= 0 &&
      col("c_custkey") % 7 === 1)
    val fresh = snap.filter(col("c_custkey") % 500 === 0)
      .withColumn("c_custkey", col("c_custkey") + freshOffset)
      .withColumn("c_name", concat(lit("NEW "), col("c_name")))
    changed.unionByName(noops).unionByName(fresh)
  }

  /** Fresh-key offsets by landed-table name — computed once per
    * dimension (a bounded 1-row driver aggregate, like Upsert's
    * surrogate max), reused by every q269/q270 run in the session. */
  private val scd2Offsets =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private val scd2Attrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  /** The q269/q270 dimension, merged off the PRODUCTION snapshot layout:
    * the initial SCD2 load lands once per session (q260's double-checked
    * landing discipline) partitioned by `is_current` and bucketed by the
    * natural key, and the merge reads it back from the table — so the
    * plans these queries gate are the partition-pruned, exchange-free
    * shapes a 100-TB dimension store would produce, not an in-memory
    * union's. PlanSpec pins both properties (history partition pruned
    * from the merge's join; zero snapshot-side exchange). */
  private[graft] def scd2Dim(s: SparkSession, dir: String): DataFrame = {
    val table = s"graft_scd2_dim_${SheetStage.sourceKey(dir)}"
    val snapT =
      if (s.catalog.tableExists(table)) table
      else EtlQueries.synchronized {
        if (s.catalog.tableExists(table)) table
        else Scd2.landSnapshot(
          Scd2.initial(Tables.customer(s, dir), "1994-01-01"),
          table, "c_custkey", 8,
          Some(SheetStage.dirFor(dir, "scd2/customer_dim")))
      }
    val freshOffset = scd2Offsets.getOrElseUpdate(table,
      Tables.customer(s, dir).agg(max(col("c_custkey")))
        .head.getLong(0) + 1L)
    Scd2.merge(
      s.table(snapT),
      scd2Batch(Tables.customer(s, dir), freshOffset),
      "c_custkey", scd2Attrs, "1998-01-01")
  }

  /** SCD2 batch merge (q269): initial load at 1994-01-01 advanced by one
    * 1998-01-01 batch; output is the full versioned dimension. Gates all
    * four merge classes at once: closed+reopened versions for the
    * changed slice, byte-identical no-ops that must NOT version, absent
    * keys passing through, and fresh keys opening their first version. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame =
    scd2Dim(s, dir)
      .withColumn(Scd2.IsCurrent, col(Scd2.IsCurrent).cast("int"))
      .orderBy(col("c_custkey"), col(Scd2.ValidFrom))

  /** Temporal fact→dimension lookup (q270): each order joined to the
    * dimension VERSION valid at its order date (half-open interval on
    * ISO-date strings — a residual on the key equi-join, so the plan is
    * one hash join, never an interval cross product). Orders span
    * 1995–2001, so the 1998 batch splits each changed customer's orders
    * across two versions — revenue lands under 'SCD2' only for
    * post-batch orders. */
  def scd2AsOf(s: SparkSession, dir: String): DataFrame = {
    val dim = scd2Dim(s, dir)
    val fact = Tables.orders(s, dir)
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        col("o_totalprice"))
    fact.join(dim, Scd2.asOfCondition(fact, dim, "o_custkey", "c_custkey", "od"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .select(col("segment"), col("n_orders"), col("revenue"))
      .orderBy(col("segment"))
  }

  /** Single-pass load QC counters via Spark's `Observation` API (q272):
    * row counts, null-key counts, domain violations and exact money
    * totals ride the SAME physical pass as the load action — at 100 TB a
    * separate QC aggregate would be a second full scan of the lake, so
    * production loads attach `CollectMetrics` to the frame they are
    * already writing (accumulator-backed: zero extra shuffle, zero extra
    * scan). The observed values are then surfaced as a 1-row frame whose
    * oracle recomputes the same aggregates in SQL — gating that the
    * in-flight counters equal a ground-truth second pass. */
  def loadQc(s: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val observed = Tables.customer(s, dir).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(col("c_custkey").isNull.cast("long")).as("null_keys"),
      sum((col("c_acctbal") < 0).cast("long")).as("neg_acctbal"),
      sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
        .as("acctbal_total"),
      max(col("c_custkey")).as("max_key"))
    observed.count() // the "load" action the metrics ride on
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("null_keys").asInstanceOf[Long],
      m("neg_acctbal").asInstanceOf[Long],
      m("acctbal_total").asInstanceOf[Double],
      m("max_key").asInstanceOf[Long]))
      .toDF("n_rows", "null_keys", "neg_acctbal", "acctbal_total", "max_key")
  }

  private val loadQcOracle: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS null_keys,
      |       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS neg_acctbal,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |         AS acctbal_total,
      |       CAST(MAX(c_custkey) AS BIGINT) AS max_key
      |FROM customer""".stripMargin

  private val scd2MergeOracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |       '1994-01-01' AS valid_from, '1998-01-01' AS valid_to,
      |       0 AS is_current
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal + 10.0, 'SCD2',
      |       '1998-01-01', NULL, 1
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |       '1994-01-01', NULL, 1
      |FROM customer WHERE c_custkey % 3 <> 0
      |UNION ALL
      |SELECT c_custkey + 1 + (SELECT MAX(c_custkey) FROM customer),
      |       'NEW ' || c_name, c_nationkey,
      |       c_acctbal, c_mktsegment, '1998-01-01', NULL, 1
      |FROM customer WHERE c_custkey % 500 = 0
      |ORDER BY c_custkey, valid_from""".stripMargin

  private val scd2AsOfOracle: String =
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment, '1994-01-01' AS valid_from,
      |         '1998-01-01' AS valid_to
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey, 'SCD2', '1998-01-01', NULL
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, '1994-01-01', NULL
      |  FROM customer WHERE c_custkey % 3 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1 + (SELECT MAX(c_custkey) FROM customer),
      |         c_mktsegment, '1998-01-01', NULL
      |  FROM customer WHERE c_custkey % 500 = 0)
      |SELECT d.c_mktsegment AS segment, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS revenue
      |FROM orders o
      |JOIN dim d ON o.o_custkey = d.c_custkey
      |  AND strftime(o.o_orderdate, '%Y-%m-%d') >= d.valid_from
      |  AND strftime(o.o_orderdate, '%Y-%m-%d')
      |        < coalesce(d.valid_to, '9999-12-31')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q269_scd2_merge", (s, d) => scd2Merge(s, d), Some(scd2MergeOracle)),
    Q("q272_load_qc", (s, d) => loadQc(s, d), Some(loadQcOracle)),
    Q("q270_scd2_asof", (s, d) => scd2AsOf(s, d), Some(scd2AsOfOracle)),
    Q("q154_scd2_history", (s, d) =>
      Scd.type2(graft.Tables.events(s, d), "user_id", "event_type",
          "ts", "event_id")
        .orderBy(col("user_id"), col("version")), Some(
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, event_id, event_type, ts
        |      FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS INT) AS version,
        |       event_type AS attr,
        |       epoch_us(ts) AS valid_from_us,
        |       epoch_us(lead(ts) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id)) AS valid_to_us,
        |       CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
        |                                     ORDER BY ts, event_id) IS NULL
        |            THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM c
        |ORDER BY user_id, version""".stripMargin)),
    Q("q134_feed_provider", (s, d) => feedExport(s, d), Some(
      """SELECT CAST(p_partkey AS VARCHAR) AS id,
        |       p_name AS title,
        |       'https://shop.example/p/' || CAST(p_partkey AS VARCHAR) AS link,
        |       p_brand AS brand,
        |       'P-' || CAST(p_partkey AS VARCHAR) AS mpn,
        |       CASE WHEN p_partkey % 10 = 0 THEN 'used'
        |            WHEN p_partkey % 10 = 1 THEN 'refurbished'
        |            ELSE 'new' END AS condition,
        |       CASE WHEN p_size - 5 <= 0 THEN
        |              CASE WHEN p_partkey % 2 = 0 THEN 'preorder'
        |                   ELSE 'out of stock' END
        |            ELSE 'in stock' END AS availability,
        |       CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) || ' EUR' AS price,
        |       p_brand AS item_group_id
        |FROM part
        |ORDER BY id""".stripMargin)),
    Q("q133_export_projection", (s, d) => exportProjected(s, d), Some(
      """WITH lp AS (
        |  SELECT p_partkey AS entity_id, 'Name' AS locale_key,
        |         replace(p_name, 'red', 'rot') AS locale_value
        |  FROM part WHERE p_partkey % 2 = 0
        |  UNION ALL
        |  SELECT p_partkey, 'ShortDescription',
        |         'Kurz: ' || replace(p_name, 'red', 'rot')
        |  FROM part WHERE p_partkey % 3 = 0),
        |loc AS (
        |  SELECT entity_id,
        |         max(CASE WHEN locale_key = 'Name' THEN locale_value END) AS name_l,
        |         max(CASE WHEN locale_key = 'ShortDescription' THEN locale_value END) AS short_l
        |  FROM lp GROUP BY entity_id)
        |SELECT p.p_partkey,
        |       COALESCE(l.name_l, p.p_name) AS p_name,
        |       l.short_l AS short_description,
        |       replace(p.p_brand || ' ' || COALESCE(l.name_l, p.p_name) ||
        |         (CASE WHEN l.short_l IS NULL OR l.short_l = '' THEN ''
        |               ELSE ' ' || l.short_l END), ':', '') AS description,
        |       CAST(round(CAST(p.p_retailprice AS DECIMAL(18,2)) *
        |         CAST(0.92 AS DECIMAL(8,4)), 2) AS DOUBLE) AS p_retailprice,
        |       'EUR' AS currency_code
        |FROM part p LEFT JOIN loc l ON p.p_partkey = l.entity_id
        |ORDER BY p.p_partkey""".stripMargin)),
    Q("q120_export_expansion", (s, d) => exportExpanded(s, d), Some(
      """WITH base AS (
        |  SELECT p_partkey, 'P-' || p_partkey AS sku,
        |         CAST(p_retailprice AS DECIMAL(18,2)) AS price,
        |         CASE WHEN p_partkey % 10 = 0 THEN 'grouped'
        |              ELSE 'simple' END AS ptype
        |  FROM part),
        |childkeys AS (
        |  SELECT p_partkey AS parent_id, p_partkey + j AS p_partkey
        |  FROM base, UNNEST([1, 2]) AS t(j) WHERE ptype = 'grouped'),
        |children AS (
        |  SELECT b.* FROM base b JOIN childkeys ck USING (p_partkey)),
        |flat AS (
        |  SELECT DISTINCT * FROM (
        |    SELECT * FROM base WHERE ptype <> 'grouped'
        |    UNION ALL SELECT * FROM children)),
        |combos AS (
        |  SELECT p_partkey, j AS combo_id,
        |         sku || (CASE WHEN j = 1 THEN '-A' ELSE '-B' END) AS sku_ov,
        |         CASE WHEN j = 1 THEN price + 10.00 ELSE NULL END AS price_ov
        |  FROM base, UNNEST([1, 2]) AS t(j) WHERE p_partkey % 7 = 0)
        |SELECT CASE WHEN c.combo_id IS NULL THEN CAST(f.p_partkey AS VARCHAR)
        |            ELSE f.p_partkey || '-' || c.combo_id END AS unique_id,
        |       f.p_partkey,
        |       COALESCE(c.sku_ov, f.sku) AS sku,
        |       CAST(COALESCE(c.price_ov, f.price) AS DOUBLE) AS price
        |FROM flat f LEFT JOIN combos c USING (p_partkey)
        |ORDER BY p_partkey, unique_id""".stripMargin)),
    Q("q78_profile", (s, d) => customerProfile(s, d), Some(
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
        .sorted
        .map(c =>
          s"""SELECT '$c' AS col_name,
             |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_value,
             |  CAST(MAX($c) AS VARCHAR) AS max_value
             |FROM customer""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),
    Q("q73_unique_slugs", (s, d) => uniqueSlugs(s, d), Some(
      """WITH b AS (SELECT p_partkey,
        |  regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'),
        |                 '^-+|-+$', '', 'g') AS base_slug
        |  FROM part),
        |r AS (SELECT p_partkey, base_slug,
        |             ROW_NUMBER() OVER (PARTITION BY base_slug
        |                                ORDER BY p_partkey) AS rn
        |      FROM b),
        |c AS (SELECT p_partkey,
        |             CASE WHEN rn = 1 THEN base_slug
        |                  ELSE base_slug || '-' || (rn - 1) END AS candidate
        |      FROM r),
        |c2 AS (SELECT p_partkey, candidate,
        |              ROW_NUMBER() OVER (PARTITION BY candidate
        |                                 ORDER BY p_partkey) AS rn2
        |       FROM c)
        |SELECT p_partkey,
        |       CASE WHEN rn2 = 1 THEN candidate
        |            ELSE candidate || '-' || p_partkey END AS slug
        |FROM c2
        |ORDER BY p_partkey""".stripMargin)),
    Q("q56_props_json", (s, d) => propsJson(s, d), Some(
      """SELECT event_type, COUNT(*) AS cnt,
        |       MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
        |       MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS INT) > 50
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),
    Q("q51_segment_stats", (s, d) => segmentStats(s, d), Some(
      """SELECT segment_index, COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM (SELECT o_orderkey,
        |             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) / 100.0)
        |                  AS BIGINT) AS segment_index
        |      FROM orders) t
        |GROUP BY segment_index
        |ORDER BY segment_index""".stripMargin)),
    Q("q241_cron_fires", (s, d) => cronFires(s, d), Some(cronOracle)),
    Q("q26_upsert_customers", (s, d) => upsertCustomers(s, d),
      Some(upsertOracle)),
    // q260 shares q26's oracle VERBATIM: the bucketed-snapshot layout
    // must change the PLAN (no snapshot-side exchange), never the values
    Q("q260_upsert_bucketed", (s, d) => upsertCustomersBucketed(s, d),
      Some(upsertOracle)),
    Q("q27_bulk_delete", (s, d) => bulkDelete(s, d), Some(
      """SELECT * FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
        |ORDER BY o_orderkey""".stripMargin)),
    Q("q28_props_extract", (s, d) => propsExtract(s, d), Some(
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(regexp_extract(props, '\d+') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),
    Q("q29_export_extract", (s, d) => exportExtract(s, d), Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey
        |LIMIT 200 OFFSET 50""".stripMargin))
  )

  // lazy so the `qs` registry (initialized above, textually earlier)
  // sees it — a plain val here would still be null in qs's initializer
  private lazy val upsertOracle: String =
    """WITH snap AS (SELECT * FROM customer),
      |upd AS (SELECT c_custkey, c_name, c_nationkey,
      |               c_acctbal + 100 AS c_acctbal, 'UPDATED' AS c_mktsegment
      |        FROM customer WHERE c_custkey % 10 = 0),
      |ins AS (SELECT c_custkey + 1000000 AS src_key, c_name || ' (new)' AS c_name,
      |               c_nationkey, c_acctbal, c_mktsegment
      |        FROM customer WHERE c_custkey % 1000 = 0),
      |ins2 AS (SELECT (SELECT MAX(c_custkey) FROM snap)
      |                  + ROW_NUMBER() OVER (ORDER BY src_key) AS c_custkey,
      |                c_name, c_nationkey, c_acctbal, c_mktsegment
      |         FROM ins)
      |SELECT * FROM (
      |  SELECT s.c_custkey,
      |         COALESCE(u.c_name, s.c_name) AS c_name,
      |         COALESCE(u.c_nationkey, s.c_nationkey) AS c_nationkey,
      |         COALESCE(u.c_acctbal, s.c_acctbal) AS c_acctbal,
      |         COALESCE(u.c_mktsegment, s.c_mktsegment) AS c_mktsegment
      |  FROM snap s LEFT JOIN upd u ON s.c_custkey = u.c_custkey
      |  UNION ALL SELECT * FROM ins2) t
      |ORDER BY c_custkey""".stripMargin
}
