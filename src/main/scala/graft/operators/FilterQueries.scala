package graft.operators

import graft.{Q, Tables}
import graft.rules.{FilterExpr, FilterParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Filter / join / sort / paging operator queries — SURVEY §2.3 (F2-F10),
  * §2.4 (J2/J5/J8), §2.6 (W1-W7), §2.7 (date functions). Each exercises the
  * corresponding library module (RuleOps, FilterExpr, FilterParser,
  * DomainFilters, Wildcard) end-to-end against the star schema with a
  * DuckDB oracle.
  */
object FilterQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.try_cast(DecimalType(18, 2)) // try_cast: NaN/Inf/overflow row -> null, not an ANSI job kill

  /** J2: left outer join to aggregated child with null-coalesced measures —
    * the `DataExporter.GetEntitiesQuery` newsletter⟕customer shape
    * (DataExporter.cs:818-855). Aggregate-then-join keeps the shuffle on
    * the small aggregated side; the dimension join is broadcastable. */
  def customerOrderStats(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("spent"))
    Tables.customer(s, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("cnt"), lit(0L)).as("order_cnt"),
        coalesce(col("spent"), dec(lit(0))).cast("double").as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  /** J5: left-semi join — "customers with at least one open order", the
    * ACL/store-mapping visibility shape (LinqCatalogSearchService.cs:807-843). */
  def activeCustomers(s: SparkSession, dir: String): DataFrame = {
    val open = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private final val SearchTerm = "red"
  /** F8: case-insensitive term search OR'd over several columns
    * (`ApplySearchTerm`, LinqCatalogSearchService.cs:556-600). */
  def termSearch(s: SparkSession, dir: String): DataFrame =
    DomainFilters.applySubstring(Tables.part(s, dir), SearchTerm, "p_name", "p_type")
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy(col("p_partkey"))

  /** F5: string filter-DSL "(>=10 and <=20) or >45" parsed to a predicate
    * tree and applied to l_quantity, then aggregated. */
  def dslFilter(s: SparkSession, dir: String): DataFrame = {
    val node = FilterParser.parse("(>=10 and <=20) or >45", member = "q")
    val pred = FilterExpr.compile(node, _ => col("l_quantity"))
    Tables.lineitem(s, dir)
      .filter(pred)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** F3/F4: rule-operator algebra composed via FilterExpressionGroup. */
  def ruleFilter(s: SparkSession, dir: String): DataFrame = {
    import FilterExpr._
    import RuleOps._
    val tree = and(
      Pred("c_mktsegment", In, Seq("BUILDING", "MACHINERY")),
      Pred("c_acctbal", GreaterThanOrEqualTo, 1000.0),
      Pred("c_name", Contains, "1"),
      Group(And, Seq(Pred("c_name", Contains, "99")), negated = true))
    Tables.customer(s, dir)
      .filter(compile(tree, col))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** F10: wildcard → LIKE translation. */
  def wildcardFilter(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(RuleOps(RuleOps.Like, col("p_brand"), "brand#?3"))
      .select(col("p_partkey"), col("p_brand"))
      .orderBy(col("p_partkey"))

  /** W3: offset paging (page 5 × 20) over a total order. */
  def offsetPage(s: SparkSession, dir: String): DataFrame =
    DomainFilters.applyOffsetPaging(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      Seq(col("o_orderdate").desc, col("o_orderkey").asc), pageIndex = 5, pageSize = 20)

  /** W2: dynamic sort by column-name spec with key tiebreaker. */
  def dynamicSort(s: SparkSession, dir: String): DataFrame =
    DomainFilters.applyDynamicSort(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        Seq(("o_totalprice", true)), tiebreak = "o_orderkey")
      .limit(25)

  /** W6: distinct. */
  def distinctFlags(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** W7: union + distinct. */
  def unionNations(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  /** W4: keyset page. */
  def keysetPage(s: SparkSession, dir: String): DataFrame =
    DomainFilters.applyKeysetPage(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", lastKey = 1000L, pageSize = 100)

  /** Window ranking (SURVEY §2.6 note): top-3 lineitems per return flag.
    * Partitioned window — no single-partition WindowExec at scale. */
  def topPerFlag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("l_returnflag"), col("rn"))
  }

  private final val TopPerFlagK = 3
  /** Top-3 per flag via the heap-based bounded top-k AGGREGATE (the
    * O(n log k) alternative to q22's sort-based window ranking — same
    * result, same oracle; at fact-table scale the per-partition sort pass
    * disappears and the shuffle carries k rows per (partition, group)).
    * Descending price is encoded by negating the leading struct field. */
  def topPerFlagAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.TopKAgg.topK(struct(
        (-col("l_extendedprice")).as("np"),
        col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln")), TopPerFlagK).as("top"))
      .select(col("l_returnflag"), posexplode(col("top")))
      .select(
        col("l_returnflag"),
        col("col.ok").as("l_orderkey"),
        col("col.ln").as("l_linenumber"),
        (-col("col.np")).as("l_extendedprice"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("l_returnflag"), col("rn"))

  /** §2.7 date functions: avg ship delay in days per order priority
    * (DateDiffDay analog — `DbFunctionsExtensions.cs:18-333`). */
  def shipDelay(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("delay"))
      .groupBy(col("o_orderpriority"))
      .agg(round(avg(col("delay")), 4).as("avg_delay_days"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderpriority"))
  }

  /** J8-flavored relevance sort: sort key resolved through a dimension
    * lookup join (per-category DisplayOrder analog, ApplyOrdering,
    * LinqCatalogSearchService.cs:853-861). Dimension side broadcast. */
  def relevanceSort(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
      .orderBy(col("n_name"), col("c_custkey"))
      .limit(100)

  /** F3 string ops: IsNotEmpty + EndsWith + case-insensitive equality. */
  def stringOps(s: SparkSession, dir: String): DataFrame = {
    import RuleOps._
    Tables.customer(s, dir)
      .filter(RuleOps(IsNotEmpty, col("c_name"), null) &&
        RuleOps(EndsWith, col("c_name"), "1") &&
        RuleOps(IsEqualTo, col("c_mktsegment"), "building"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** F9: visibility with bypass flag — customers with an odd custkey are
    * "restricted" and only visible when mapped (here: having any finished
    * order); even keys bypass the check. */
  def visibilityFilter(s: SparkSession, dir: String): DataFrame = {
    val mapping = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    DomainFilters.applyVisibilityFilter(
        Tables.customer(s, dir), col("c_custkey") % 2 === 1,
        mapping, "c_custkey", "o_custkey")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Deterministic media-file frame derived from `documents` — the
    * `MediaFile` entity shape for the q135 battery (no RNG; every column
    * reproducible in DuckDB). */
  private[operators] def mediaFiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("id"),
      when(col("doc_id") % 50 < 2, lit(null).cast("long"))
        .otherwise(col("doc_id") % 7 + 1).as("folder_id"),
      concat(lit("file-"), col("doc_id")).as("name"),
      col("source").as("alt"),
      when(col("doc_id") % 4 === 0, "image")
        .when(col("doc_id") % 4 === 1, "video")
        .when(col("doc_id") % 4 === 2, "audio")
        .otherwise("document").as("media_type"),
      when(col("doc_id") % 4 === 0, "jpg")
        .when(col("doc_id") % 4 === 1, "mp4")
        .when(col("doc_id") % 4 === 2, "mp3")
        .otherwise("pdf").as("extension"),
      when(col("doc_id") % 4 === 0, "image/jpeg")
        .when(col("doc_id") % 4 === 1, "video/mp4")
        .when(col("doc_id") % 4 === 2, "audio/mpeg")
        .otherwise("application/pdf").as("mime_type"),
      (col("n_chars") * 700).as("pixel_size"),
      (col("doc_id") % 10 === 0).as("hidden"),
      (col("doc_id") % 13 === 0).as("deleted"),
      (col("doc_id") % 17 === 0).as("is_transient"))

  /** The static media folder tree: 1=media{2=products{4=shoes,5=shirts
    * {7=summer}},3=blog{6=drafts}}. Deep search under 2 → {2,4,5,7}. */
  private def mediaFolders(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, null.asInstanceOf[java.lang.Long], "media"),
      (2L, java.lang.Long.valueOf(1L), "products"),
      (3L, java.lang.Long.valueOf(1L), "blog"),
      (4L, java.lang.Long.valueOf(2L), "shoes"),
      (5L, java.lang.Long.valueOf(2L), "shirts"),
      (6L, java.lang.Long.valueOf(3L), "drafts"),
      (7L, java.lang.Long.valueOf(5L), "summer"))
      .toDF("id", "parent_id", "name")
  }

  /** F2 media battery end to end (q135): `MediaSearcher.PrepareQuery` —
    * DEEP folder search under folder 2 (flattened-tree subtree semi-join),
    * the MIME-type IN chain, the Small+Medium image-dimension OR-chain
    * over pixel-size buckets, an explicit hidden=false flag, and the
    * default deleted=false gate (no filter/special-folder verdict). */
  def mediaSearchBattery(s: SparkSession, dir: String): DataFrame = {
    val q = MediaSearch.Query(
      folderId = Some(2L), deepSearch = true,
      filter = MediaSearch.Filter(
        mimeTypes = Seq("image/jpeg", "video/mp4"),
        dimensions = Seq("Small", "Medium"),
        hidden = Some(false)))
    MediaSearch.prepareQuery(mediaFiles(s, dir), q,
        folders = Some(mediaFolders(s)))
      .select(col("id"), col("name"), col("folder_id"),
        col("mime_type"), col("pixel_size"))
  }

  // ------------------------------------------------------------------
  // q298: F2 long-tail ApplyXxxFilter battery (verdict r18 task 3)
  // ------------------------------------------------------------------

  /** Deterministic Customer-entity profile frame derived from `customer`
    * (the q135 mediaFiles discipline: every column reproducible in
    * DuckDB). birth_date is NULL on a residue class so the date-part
    * filter's null-propagation is exercised. */
  private[operators] def customerProfiles(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("id"),
      when(col("c_custkey") % 23 === 0, lit(null).cast("date"))
        .otherwise(date_add(to_date(lit("1940-01-01")),
          (col("c_custkey") * 37 % 20000).cast("int"))).as("birth_date"),
      (col("c_custkey") % 3).cast("int").as("password_format_id"))

  /** GenericAttributes EAV analog from `events`: (entity_id, key, value)
    * with the customer key-group's Phone/ZipPostalCode keys on disjoint
    * event-type classes. */
  private[operators] def genericAttrs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").as("entity_id"),
      when(col("event_type") === "view", "Phone")
        .when(col("event_type") === "click", "ZipPostalCode")
        .otherwise("Other").as("attr_key"),
      floor(col("value") * 100).cast("long").cast("string").as("attr_value"))

  /** GiftCard entity analog from `orders`: activation flag, coupon code,
    * nullable purchased-order reference. */
  private[operators] def giftCards(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey").as("id"),
      col("o_orderdate").cast("timestamp").as("created_on"),
      (col("o_orderstatus") === "O").as("activated"),
      concat(lit("GC-"), (col("o_orderkey") % 97).cast("string")).as("coupon_code"),
      when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("o_orderkey") % 500).as("purchased_order_id"))

  /** QueuedEmail entity analog from `events`: errors never sent. */
  private[operators] def queuedEmails(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("id"),
      col("ts").as("created_on"),
      when(col("event_type") === "error", lit(null).cast("timestamp"))
        .otherwise(col("ts")).as("sent_on"),
      concat(lit("noreply@store"), (col("user_id") % 5).cast("string"),
        lit(".com")).as("efrom"),
      concat(lit("user"), col("user_id").cast("string"),
        lit("@mail.com")).as("eto"))

  /** Log entity analog from `events`: leveled, logger-named, two message
    * columns. */
  private[operators] def logRows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("id"),
      col("ts").as("created_on"),
      when(col("event_type") === "error", 4)
        .when(col("event_type") === "purchase", 3)
        .when(col("event_type") === "signup", 2)
        .when(col("event_type") === "click", 1)
        .otherwise(0).cast("int").as("log_level_id"),
      concat(lit("Smartstore."), col("event_type")).as("logger"),
      concat(col("event_type"), lit(" #"), col("event_id").cast("string"))
        .as("short_message"),
      col("props").as("full_message"))

  private def tsOf(v: String) = Some(java.sql.Timestamp.valueOf(v))

  /** F2 long-tail battery (q298): the named ApplyXxxFilter variants the
    * round-18 verdict listed as unrepresented, each driven through its
    * `DomainFilters` builder and emitting (scenario, id) rows so the
    * oracle value-checks every builder's exact row set —
    * `ApplyBirthDateFilter` (date parts, incl. the null-date class),
    * `ApplyPasswordFormatFilter` (enum code), `ApplyZipPostalCodeFilter`
    * / `ApplyPhoneFilter` (EAV contains → semi-join,
    * CustomerQueryExtensions.cs:93-246), gift-card standard/coupon/order
    * filters (GiftCardQueryExtensions.cs:16-75), queued-email address +
    * unsent-only time filter (QueuedEmailQueryExtensions.cs:8-41), and
    * log level/date/message filters (LogQueryExtensions.cs:7-57).
    * Compositions mirror the reference call sites (standard+time,
    * address from AND to, level+date); every predicate is declarative so
    * the whole conjunction pushes into the scans. */
  def customerFilterBattery(s: SparkSession, dir: String): DataFrame = {
    import DomainFilters._
    val profiles = customerProfiles(s, dir)
    val attrs = genericAttrs(s, dir)
    val gc = giftCards(s, dir)
    val em = queuedEmails(s, dir)
    val lg = logRows(s, dir)
    def rows(label: String, df: DataFrame) =
      df.select(lit(label).as("scenario"), col("id"))
    rows("bd_aug15",
        applyDatePartsFilter(profiles, "birth_date", None, Some(8), Some(15)))
      .unionByName(rows("bd_1950",
        applyDatePartsFilter(profiles, "birth_date", Some(1950), None, None)))
      .unionByName(rows("pwd_fmt1",
        applyCodeFilter(profiles, "password_format_id", Some(1))))
      .unionByName(rows("zip_42",
        applyAttributeFilter(profiles, "id", attrs, "entity_id",
          "attr_key", "ZipPostalCode", "attr_value", "42")))
      .unionByName(rows("phone_55",
        applyAttributeFilter(profiles, "id", attrs, "entity_id",
          "attr_key", "Phone", "attr_value", "55")))
      .unionByName(rows("gc_active94",
        applyDateRange(applyFlagFilter(gc, "activated"), "created_on",
          tsOf("1994-01-01 00:00:00"), tsOf("1994-12-31 23:59:59"))))
      .unionByName(rows("gc_coupon",
        applyInFilter(gc, "coupon_code", Seq("GC-7", "GC-42"))))
      .unionByName(rows("gc_orders",
        applyNullableIdsFilter(gc, "purchased_order_id", Seq(7L, 21L, 33L))))
      .unionByName(rows("em_unsent",
        applyDateRange(applyNullnessFilter(em, "sent_on", onlyNull = true),
          "created_on", tsOf("2024-01-25 00:00:00"), None)))
      .unionByName(rows("em_addr",
        applySubstring(applySubstring(em, "store3", "efrom"),
          "7@mail", "eto")))
      .unionByName(rows("log_err",
        applyDateRange(applyCodeFilter(lg, "log_level_id", Some(4)),
          "created_on", tsOf("2024-01-25 00:00:00"), None)))
      .unionByName(rows("log_msg",
        applySubstring(lg, "\"k\": 7", "short_message", "full_message")))
      .orderBy(col("scenario"), col("id"))
  }

  private val customerFilterOracle: String =
    """WITH profiles AS (
      |  SELECT c_custkey AS id,
      |         CASE WHEN c_custkey % 23 = 0 THEN NULL
      |              ELSE DATE '1940-01-01'
      |                   + CAST(c_custkey * 37 % 20000 AS INT) END AS birth_date,
      |         CAST(c_custkey % 3 AS INT) AS password_format_id
      |  FROM customer),
      |attrs AS (
      |  SELECT user_id AS entity_id,
      |         CASE WHEN event_type = 'view' THEN 'Phone'
      |              WHEN event_type = 'click' THEN 'ZipPostalCode'
      |              ELSE 'Other' END AS attr_key,
      |         CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS attr_value
      |  FROM events),
      |gc AS (
      |  SELECT o_orderkey AS id, CAST(o_orderdate AS TIMESTAMP) AS created_on,
      |         o_orderstatus = 'O' AS activated,
      |         'GC-' || CAST(o_orderkey % 97 AS VARCHAR) AS coupon_code,
      |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |              ELSE o_orderkey % 500 END AS purchased_order_id
      |  FROM orders),
      |em AS (
      |  SELECT event_id AS id, ts AS created_on,
      |         CASE WHEN event_type = 'error' THEN NULL ELSE ts END AS sent_on,
      |         'noreply@store' || CAST(user_id % 5 AS VARCHAR) || '.com' AS efrom,
      |         'user' || CAST(user_id AS VARCHAR) || '@mail.com' AS eto
      |  FROM events),
      |lg AS (
      |  SELECT event_id AS id, ts AS created_on,
      |         CASE event_type WHEN 'error' THEN 4 WHEN 'purchase' THEN 3
      |              WHEN 'signup' THEN 2 WHEN 'click' THEN 1
      |              ELSE 0 END AS log_level_id,
      |         'Smartstore.' || event_type AS logger,
      |         event_type || ' #' || CAST(event_id AS VARCHAR) AS short_message,
      |         props AS full_message
      |  FROM events)
      |SELECT 'bd_aug15' AS scenario, id FROM profiles
      |WHERE day(birth_date) = 15 AND month(birth_date) = 8
      |UNION ALL
      |SELECT 'bd_1950', id FROM profiles WHERE year(birth_date) = 1950
      |UNION ALL
      |SELECT 'pwd_fmt1', id FROM profiles WHERE password_format_id = 1
      |UNION ALL
      |SELECT 'zip_42', id FROM profiles p
      |WHERE EXISTS (SELECT 1 FROM attrs a WHERE a.entity_id = p.id
      |              AND a.attr_key = 'ZipPostalCode'
      |              AND a.attr_value LIKE '%42%')
      |UNION ALL
      |SELECT 'phone_55', id FROM profiles p
      |WHERE EXISTS (SELECT 1 FROM attrs a WHERE a.entity_id = p.id
      |              AND a.attr_key = 'Phone' AND a.attr_value LIKE '%55%')
      |UNION ALL
      |SELECT 'gc_active94', id FROM gc
      |WHERE activated AND created_on >= TIMESTAMP '1994-01-01 00:00:00'
      |  AND created_on <= TIMESTAMP '1994-12-31 23:59:59'
      |UNION ALL
      |SELECT 'gc_coupon', id FROM gc WHERE coupon_code IN ('GC-7', 'GC-42')
      |UNION ALL
      |SELECT 'gc_orders', id FROM gc
      |WHERE purchased_order_id IS NOT NULL AND purchased_order_id IN (7, 21, 33)
      |UNION ALL
      |SELECT 'em_unsent', id FROM em
      |WHERE sent_on IS NULL AND created_on >= TIMESTAMP '2024-01-25 00:00:00'
      |UNION ALL
      |SELECT 'em_addr', id FROM em
      |WHERE lower(efrom) LIKE '%store3%' AND lower(eto) LIKE '%7@mail%'
      |UNION ALL
      |SELECT 'log_err', id FROM lg
      |WHERE log_level_id = 4 AND created_on >= TIMESTAMP '2024-01-25 00:00:00'
      |UNION ALL
      |SELECT 'log_msg', id FROM lg
      |WHERE lower(short_message) LIKE '%"k": 7%'
      |   OR lower(full_message) LIKE '%"k": 7%'
      |ORDER BY scenario, id""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q298_customer_filter_battery", (s, d) => customerFilterBattery(s, d),
      Some(customerFilterOracle)),
    Q("q135_media_search", (s, d) => mediaSearchBattery(s, d), Some(
      """WITH RECURSIVE folders(id, parent_id) AS (
        |  SELECT * FROM (VALUES (1, NULL), (2, 1), (3, 1), (4, 2),
        |                        (5, 2), (6, 3), (7, 5)) AS t(id, parent_id)),
        |sub(id) AS (
        |  SELECT 2 UNION ALL
        |  SELECT f.id FROM folders f JOIN sub ON f.parent_id = sub.id),
        |media AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id % 50 < 2 THEN NULL
        |              ELSE doc_id % 7 + 1 END AS folder_id,
        |         'file-' || doc_id AS name,
        |         CASE WHEN doc_id % 4 = 0 THEN 'image/jpeg'
        |              WHEN doc_id % 4 = 1 THEN 'video/mp4'
        |              WHEN doc_id % 4 = 2 THEN 'audio/mpeg'
        |              ELSE 'application/pdf' END AS mime_type,
        |         n_chars * 700 AS pixel_size,
        |         doc_id % 10 = 0 AS hidden,
        |         doc_id % 13 = 0 AS deleted
        |  FROM documents)
        |SELECT id, name, folder_id, mime_type, pixel_size
        |FROM media
        |WHERE folder_id IN (SELECT id FROM sub)
        |  AND mime_type IN ('image/jpeg', 'video/mp4')
        |  AND ((pixel_size > 50000 AND pixel_size <= 250000)
        |       OR (pixel_size > 250000 AND pixel_size <= 1000000))
        |  AND hidden = false
        |  AND deleted = false
        |ORDER BY id""".stripMargin)),
    Q("q50_visibility", (s, d) => visibilityFilter(s, d), Some(
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey % 2 = 0
        |   OR EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),
    Q("q11_customer_order_stats", (s, d) => customerOrderStats(s, d), Some(
      """SELECT c_custkey, c_name,
        |       CAST(COALESCE(cnt, 0) AS BIGINT) AS order_cnt,
        |       CAST(COALESCE(spent, 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS cnt,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent
        |  FROM orders GROUP BY o_custkey) t ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin)),
    Q("q12_active_customers", (s, d) => activeCustomers(s, d), Some(
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin)),
    Q("q13_term_search", (s, d) => termSearch(s, d), Some(
      s"""SELECT p_partkey, p_name, p_type
        |FROM part
        |WHERE lower(p_name) LIKE '%$SearchTerm%' OR lower(p_type) LIKE '%$SearchTerm%'
        |ORDER BY p_partkey""".stripMargin)),
    Q("q14_filter_dsl", (s, d) => dslFilter(s, d), Some(
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem
        |WHERE (l_quantity >= 10 AND l_quantity <= 20) OR l_quantity > 45
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Q("q15_rule_filter", (s, d) => ruleFilter(s, d), Some(
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE lower(c_mktsegment) IN ('building', 'machinery')
        |  AND c_acctbal >= 1000.0
        |  AND lower(c_name) LIKE '%1%'
        |  AND NOT (lower(c_name) LIKE '%99%')
        |ORDER BY c_custkey""".stripMargin)),
    Q("q16_wildcard", (s, d) => wildcardFilter(s, d), Some(
      """SELECT p_partkey, p_brand
        |FROM part
        |WHERE lower(p_brand) LIKE 'brand#_3'
        |ORDER BY p_partkey""".stripMargin)),
    Q("q17_offset_page", (s, d) => offsetPage(s, d), Some(
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey
        |LIMIT 20 OFFSET 100""".stripMargin)),
    Q("q18_dynamic_sort", (s, d) => dynamicSort(s, d), Some(
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin)),
    Q("q19_distinct_flags", (s, d) => distinctFlags(s, d), Some(
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Q("q20_union_nations", (s, d) => unionNations(s, d), Some(
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),
    Q("q21_keyset_page", (s, d) => keysetPage(s, d), Some(
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey > 1000
        |ORDER BY o_orderkey
        |LIMIT 100""".stripMargin)),
    Q("q22_top_per_flag", (s, d) => topPerFlag(s, d), Some(
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |             ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_returnflag, rn""".stripMargin)),
    Q("q68_topk_agg", (s, d) => topPerFlagAgg(s, d), Some(
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |             ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_returnflag, rn""".stripMargin)),
    Q("q23_ship_delay", (s, d) => shipDelay(s, d), Some(
      """SELECT o_orderpriority,
        |       round(AVG(datediff('day', o_orderdate, l_shipdate)), 4) AS avg_delay_days,
        |       COUNT(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Q("q24_relevance_sort", (s, d) => relevanceSort(s, d), Some(
      """SELECT c_custkey, c_name, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name, c_custkey
        |LIMIT 100""".stripMargin)),
    Q("q25_string_ops", (s, d) => stringOps(s, d), Some(
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_name IS NOT NULL AND length(trim(c_name)) > 0
        |  AND lower(c_name) LIKE '%1'
        |  AND lower(c_mktsegment) = 'building'
        |ORDER BY c_custkey""".stripMargin))
  )
}
