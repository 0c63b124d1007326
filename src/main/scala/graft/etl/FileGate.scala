package graft.etl

import graft.{Q, Tables}
import graft.functions.Conversions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORACLE-GATED file-ETL queries (SURVEY §2.1 S1/S3, §2.2 K1/K2/K3):
  * the CSV ingest path checked against DuckDB's independent `read_csv`
  * parser, and writer→reader round trips checked against the pure-SQL
  * source query. Until round 7 these paths were spec-verified only; the
  * driver's CORRECTNESS gate now exercises them end to end:
  *
  *  - q115: the golden fixture (reference semantics pinned by
  *    `DataReaderTests.cs:22-82` — semicolon CSV, quoted multiline cells,
  *    umlauts, bool tokens, OADate/Unix epochs, list cells, [NULL]
  *    markers) through `CsvSource` + the `Conversions` layer, vs DuckDB
  *    `read_csv` with the equivalent SQL conversions. Two INDEPENDENT
  *    CSV dialects must agree on every cell.
  *  - q116: star-schema extract → CSV provider sink → `CsvSource` read
  *    back with skip/take (S3), vs the source query in SQL — the writer
  *    (`CsvWriter.cs:36-120` quoting/escaping semantics) must round-trip
  *    bit-exactly.
  *  - q117: the same contract for the XML provider (K2) and the provider
  *    registry dispatch (K3): write XML, read it back, match the source.
  *
  * The sink queries write under /tmp/graft_gate, one dir per source dir
  * (`SheetStage.dirFor`, overwritten per run) — driver-local scratch,
  * matching the reference's export-folder staging step
  * (`DataExporter.cs:138-266`); deployment to remote targets is K4
  * (`Deploy`). */
object FileGate {

  /** The golden import fixture — content identical to
    * src/test/resources/testdata.csv (CsvEtlSpec asserts the two parse
    * identically, so the registry query and the spec can never drift). */
  val csvContent: String = Seq(
    "Id;Sku;Name;Description;Bool;Date;OADate;UnixDate;Int;Double;Guid;IntList;Name[de];Attr[Color]",
    "1;SKU 1;Name 1;;on;10/10/2015;40248.71645;1448028000;5;2.567;8dda6cf7-d851-481e-8945-1a0418f338f2;1,2,3,4;Name eins;rot",
    "2;SKU 2;äöü;Description 2;1;01/01/2015;40141.32856;1448028000;10;1.456;5bfdaaf7-e1ce-4eb6-a7e8-11eed69f8630;\"1;2;3;4\";Umlaut;blau",
    "3;;;Description 3;true;;40596.95014;1448028000;;;d178cf65-5bfd-4556-b842-2c8a4c1d02fa;1,2,3,4;;gruen",
    "4;SKU 4;[NULL];\"with \"\"quotes\"\"\";false;02/20/2016;40500.5;1448028000;7;9999.765;not-a-guid;\"5;6\";[IGNORE];",
    "5;SKU 5;\"multi\nline\";plain;off;12/31/2015;40000;1448028000;0;0.001;8dda6cf7-d851-481e-8945-1a0418f338f2;;;"
  ).mkString("", "\n", "\n")

  /** Fixture path shared with the DuckDB oracle (a fixed absolute path:
    * the oracle SQL is a constant string run by the driver in a separate
    * process after Verify, so both sides must name the same file). */
  val fixtureCsvPath = "/tmp/graft_gate/testdata.csv"

  /** Atomic publish: produce the content at a temp sibling, then move it
    * over the shared path. Concurrent runs share these fixture paths, and
    * a plain truncate-then-write would expose a half-written file to a
    * reader in the other process even when the bytes are identical. The
    * temp file is removed if production or the move fails. */
  private def atomicWrite(path: String)(produce: java.nio.file.Path => Unit): String = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.getParent.resolve(
      s".${p.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      produce(tmp)
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally java.nio.file.Files.deleteIfExists(tmp)
    path
  }

  /** Write the fixture (idempotent) and return its path. */
  def ensureFixture(): String =
    atomicWrite(fixtureCsvPath)(tmp => java.nio.file.Files.write(tmp,
      csvContent.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit)

  /** S1 + §2.7 conversions: golden fixture through the distributed CSV
    * reader (untyped staging) and the lazy conversion layer. Timestamps
    * render as formatted strings (engine-stable), the int list as a
    * comma-joined string. */
  def csvIngest(s: SparkSession, dir: String): DataFrame =
    convertFixture(CsvSource.read(s, ensureFixture(), CsvSource.excelFriendly))

  /** S2: the SAME golden table as a generated .xlsx workbook through the
    * distributed `ExcelSource` reader and the same conversions — the
    * `DataReaderTests.cs:22-82` parity contract (CSV and xlsx of one
    * table must parse identically), enforced by giving q118 the exact
    * q115 oracle: DuckDB's read_csv over the CSV fixture must match the
    * xlsx parse cell-for-cell. The workbook is generated from the parsed
    * CSV fixture (5 rows collected driver-side — fixture construction,
    * not the data path) and exercises both numeric and shared-string
    * cells. */
  def xlsxIngest(s: SparkSession, dir: String): DataFrame = {
    val csv = CsvSource.read(s, ensureFixture(), CsvSource.excelFriendly)
    val header = csv.columns.toSeq
    val data = csv.collect().toSeq
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.getString(i)))
    // fixture content is SF-independent (concurrent runs write the same
    // bytes), but the rewrite must still be atomic — see atomicWrite
    val path = atomicWrite("/tmp/graft_gate/testdata.xlsx")(tmp =>
      ExcelSource.writeFixture(tmp.toString, header +: data))
    convertFixture(ExcelSource.read(s, path))
  }

  /** The shared conversion projection (§2.7 lazy typing over untyped
    * staging) — q115 (CSV) and q118 (xlsx) run the identical tree. */
  private def convertFixture(raw: DataFrame): DataFrame = {
    val il = Conversions.intList(col("IntList"))
    raw.select(
      Conversions.intOf(col("Id")).as("id"),
      col("Sku").as("sku"),
      Conversions.nullifyTokens(col("Name")).as("name"),
      col("Description").as("description"),
      Conversions.boolToken(col("Bool")).as("is_active"),
      date_format(Conversions.usDate(col("Date")), "yyyy-MM-dd").as("us_date"),
      date_format(Conversions.oaDateToTs(col("OADate")), "yyyy-MM-dd HH:mm:ss")
        .as("oa_ts"),
      date_format(Conversions.unixToTs(col("UnixDate")), "yyyy-MM-dd HH:mm:ss")
        .as("unix_ts"),
      Conversions.intOf(col("Int")).as("qty"),
      Conversions.decimalOf(col("Double")).as("amount"),
      Conversions.guid(col("Guid")).as("guid"),
      when(il.isNull, lit(null).cast("string"))
        .otherwise(concat_ws(",", il)).as("int_list"),
      col("`Name[de]`").as("name_de"),
      col("`Attr[Color]`").as("attr_color"))
      .orderBy(col("id"))
  }

  private def csvIngestOracle: String =
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('$fixtureCsvPath',
       |    delim=';', header=true, quote='"', escape='"',
       |    all_varchar=true, nullstr='')
       |)
       |SELECT
       |  CAST(Id AS INT) AS id,
       |  Sku AS sku,
       |  CASE WHEN Name = '[NULL]' OR length(trim(Name)) = 0 THEN NULL
       |       ELSE Name END AS name,
       |  Description AS description,
       |  CASE WHEN lower(trim(Bool)) IN ('on','1','true','yes') THEN TRUE
       |       WHEN lower(trim(Bool)) IN ('off','0','false','no') THEN FALSE
       |       ELSE NULL END AS is_active,
       |  strftime(try_strptime(Date, '%m/%d/%Y'), '%Y-%m-%d') AS us_date,
       |  strftime(make_timestamp(CAST((TRY_CAST(OADate AS DOUBLE) - 25569)
       |    * 86400 * 1000000 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS oa_ts,
       |  strftime(make_timestamp(TRY_CAST(UnixDate AS BIGINT) * 1000000),
       |    '%Y-%m-%d %H:%M:%S') AS unix_ts,
       |  TRY_CAST(Int AS INT) AS qty,
       |  TRY_CAST(replace(Double, ',', '') AS DOUBLE) AS amount,
       |  CASE WHEN regexp_matches(Guid,
       |         '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$$')
       |       THEN lower(Guid) ELSE NULL END AS guid,
       |  CASE WHEN IntList IS NULL OR IntList = '[NULL]'
       |            OR length(trim(IntList)) = 0 THEN NULL
       |       ELSE array_to_string(list_filter(list_transform(
       |              string_split_regex(IntList, '[,;]'),
       |              x -> TRY_CAST(trim(x) AS INT)), x -> x IS NOT NULL), ',')
       |       END AS int_list,
       |  "Name[de]" AS name_de,
       |  "Attr[Color]" AS attr_color
       |FROM raw
       |ORDER BY id""".stripMargin

  /** K1 + K3 + S3: profile extract → CSV provider → read back with
    * skip/take. The written frame is coalesced to ONE file so "file
    * order" (the reference's skip/take contract,
    * `LightweightDataTable.FromFile`) is the extract order — the
    * reference's per-segment export writes one file per segment too;
    * multi-file sizing is `recordsPerFile`, spec-covered. */
  def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val src = ExportPipeline.extract(Tables.orders(s, dir), ExportPipeline.Profile(
      filters = Seq(col("o_orderstatus") === "O"),
      projection = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority")),
      orderBy = Seq(col("o_orderkey")),
      limit = Some(200)))
    val path = SheetStage.dirFor(dir, "csv_roundtrip")
    Providers("csv")(src.coalesce(1), path, None)
    CsvSource.read(s, path, CsvConfig(skip = 25, take = Some(150)))
      .select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        Conversions.decimalOf(col("o_totalprice")).as("total_price"),
        col("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  private def csvRoundTripOracle: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |       o_orderpriority
      |FROM orders
      |WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey
      |LIMIT 150 OFFSET 25""".stripMargin

  /** K2 + K3: extract → XML provider (one document per file, one element
    * per row) → schema-inferring read back. */
  def xmlRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val nat = Tables.nation(s, dir)
    val src = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"), col("n_name"))
      .orderBy(col("c_custkey")).limit(150)
    val path = SheetStage.dirFor(dir, "xml_roundtrip")
    Providers("xml")(src.coalesce(1), path, None)
    ExportPipeline.readXml(s, path)
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("acctbal"), col("n_name"))
      .orderBy(col("c_custkey"))
  }

  private def xmlRoundTripOracle: String =
    """SELECT c_custkey, c_name,
      |       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
      |       n_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey
      |LIMIT 150""".stripMargin

  /** K2/K3 (structured sink): extract → JSON-lines provider → schema'd
    * read back — completes the provider-trio round trips (CSV q116,
    * XML q117, JSON here). Money rides as an exact 2dp decimal into the
    * JSON text and reads back as double. */
  def jsonRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir)
    val sup = Tables.supplier(s, dir)
    val src = sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("decimal(18,2)").as("acctbal"), col("n_name"))
      .orderBy(col("s_suppkey"))
    val path = SheetStage.dirFor(dir, "json_roundtrip")
    Providers("json")(src.coalesce(1), path, None)
    s.read.schema("s_suppkey LONG, s_name STRING, acctbal DOUBLE, n_name STRING")
      .json(path)
      .orderBy(col("s_suppkey"))
  }

  private def jsonRoundTripOracle: String =
    """SELECT s_suppkey, s_name,
      |       CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
      |       n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY s_suppkey""".stripMargin

  /** K3 breadth: extract → ORC provider → native ORC read-back. ORC is
    * type-preserving (unlike the CSV/XML round trips there is no re-parse
    * step), so the contract is exact reproduction of the source query —
    * and the read-back scan keeps pushdown/pruning/vectorization like any
    * columnar source (PlanSpec-style guarantees apply unchanged). */
  def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val src = ExportPipeline.extract(Tables.lineitem(s, dir), ExportPipeline.Profile(
      filters = Seq(col("l_returnflag") === "R"),
      projection = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").cast("double").as("quantity"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
        col("l_linestatus")),
      orderBy = Seq(col("l_orderkey"), col("l_linenumber")),
      limit = Some(300)))
    val path = SheetStage.dirFor(dir, "orc_roundtrip")
    Providers("orc")(src.coalesce(1), path, None)
    s.read.orc(path)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private def orcRoundTripOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
      |       strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
      |       l_linestatus
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber
      |LIMIT 300""".stripMargin

  /** Schema-evolution merged read (q226): two parquet generations of the
    * same dataset — v1 written BEFORE a column existed, v2 after — read
    * back as one relation with `mergeSchema` (the unioned schema,
    * missing columns null-filled), then aggregated by the evolved
    * column. This is the daily reality of long-lived parquet lakes: the
    * reader must tolerate every historical schema at once. The oracle
    * restates the semantics over the SOURCE table (v1 rows carry NULL
    * priority), so the check is reader-behavior parity, not file echo.
    *
    * Scale note: `mergeSchema` reads every file footer at planning time
    * — on a large lake pin the merged schema in a catalog instead; the
    * read itself stays partition-parallel and column-pruned either
    * way. */
  def schemaMergeRead(s: SparkSession, dir: String): DataFrame = {
    val base = SheetStage.dirFor(dir, "schema_merge")
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_orderpriority"))
    // multi-file generations on purpose: mergeSchema unifies footers per
    // FILE, so parallel writes exercise it just as well — and a
    // coalesce(1) here would serialize two full-table writes through one
    // core every invocation (measured 3.85× per 10× data before this)
    o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderstatus"), col("price"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    o.filter(col("o_orderstatus") =!= "F")
      .write.mode("overwrite").parquet(s"$base/gen2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
        .as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("priority"))
  }

  private val schemaMergeOracle: String =
    """SELECT COALESCE(CASE WHEN o_orderstatus = 'F' THEN NULL
      |                     ELSE o_orderpriority END,
      |                '<pre-evolution>') AS priority,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS total_price
      |FROM orders
      |GROUP BY 1
      |ORDER BY priority""".stripMargin

  /** Hive-partitioned write + partition-pruned read (q236): events
    * written `partitionBy(event_type)` and read back with a partition
    * filter — the layout that turns a predicate into DIRECTORY pruning
    * (the scan never opens non-matching partitions; PlanSpec asserts
    * `PartitionFilters` carries the predicate). At 100 TB this is the
    * difference between scanning one partition and scanning the lake —
    * the coarse-grained complement of Layout.scala's row-group
    * skipping. The oracle restates the semantics over the source
    * table. */
  def partitionedRead(s: SparkSession, dir: String): DataFrame = {
    val base = SheetStage.dirFor(dir, "partitioned_events")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
      .write.partitionBy("event_type").mode("overwrite").parquet(base)
    s.read.parquet(base)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("total_value"))
      .select(lit("purchase").as("event_type"), col("n_events"),
        col("total_value"))
  }

  private val partitionedReadOracle: String =
    """SELECT 'purchase' AS event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE event_type = 'purchase'""".stripMargin

  /** Bucketed-layout SLA join (q240): both facts written
    * `bucketBy(8, orderkey)` as EXTERNAL bucketed tables under the
    * source dir's scratch dir, then q217's exact aggregate chain
    * re-planned over the bucketed scans — the shuffle-free fact-fact
    * join riding the correctness gate every round (values must equal
    * the raw-parquet q217 oracle; PLANS.md "Round-14: q217-shape bucketed-layout A/B"
    * carries the timings — 1.5× at sf0.1 widening to 2.8× at sf1 — and
    * LayoutSpec pins the zero-join-key-exchange plan). At 100 TB this is
    * the ingest-time layout decision: land orderkey-grained facts
    * bucketed once, and every order-grain join afterwards plans without
    * an exchange. */
  def bucketedSla(s: SparkSession, dir: String): DataFrame = {
    val key = SheetStage.sourceKey(dir)
    val base = SheetStage.dirFor(dir, "bucketed")
    val liT = graft.operators.Scale.writeBucketed(
      Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
      s"graft_li_bucketed_$key", "l_orderkey", 8, Some(s"$base/lineitem"))
    val ordT = graft.operators.Scale.writeBucketed(
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
      s"graft_ord_bucketed_$key", "o_orderkey", 8, Some(s"$base/orders"))
    graft.reports.Audits.slaChain(s.table(liT), s.table(ordT))
  }

  /** Small-files compaction round trip (q244): events deliberately
    * written as 64 tiny files (the ingest-tail artifact), compacted by
    * `Layout.compact` into byte-sized output files, and aggregated FROM
    * THE COMPACTED LAYOUT — the oracle (source-table aggregate) proves
    * the rewrite lost and duplicated nothing; CompactionSpec asserts the
    * file-count mechanics (64 → ⌈bytes/target⌉). */
  def compaction(s: SparkSession, dir: String): DataFrame = {
    val small = SheetStage.dirFor(dir, "small_events")
    val big = SheetStage.dirFor(dir, "compacted_events")
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
      .repartition(64)
      .write.mode("overwrite").parquet(small)
    graft.operators.Layout.compact(s, small, big, targetBytes = 4L << 20)
    s.read.parquet(big)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  private val compactionOracle: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** §2.8 schema evolution (q276): the import pipeline's
    * evolving-column contract (the reference's column mapper tolerates
    * feeds that add fields between loads — ColumnMap / `ColumnMapConverter`
    * semantics) restated as a LAKE layout property: two parquet
    * generations under one dataset root — gen1 with the original
    * 3-column layout, gen2 adding `c_mktsegment` and a derived score —
    * read back as ONE frame via `mergeSchema`, old rows null-filled for
    * the new columns. The aggregate gates per-generation counts, money
    * totals, the null-fill count, and the evolved column's sum, all
    * re-derived by the oracle from the base table (the fixture is a
    * deterministic parity split, so DuckDB never reads the scratch
    * files). Scale note: mergeSchema footer-merges per file on read —
    * production tables keep it OFF and evolve the catalog schema
    * instead; this query gates the READ semantics the migration path
    * relies on. */
  def schemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val base = SheetStage.dirFor(dir, "schema_evo")
    c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"))
      .write.mode("overwrite").parquet(s"$base/gen=1")
    c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"),
        col("c_mktsegment"),
        (col("c_custkey") % 100).as("c_score"))
      .write.mode("overwrite").parquet(s"$base/gen=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal")).cast("double").as("acctbal_sum"),
        sum(col("c_mktsegment").isNull.cast("long")).as("null_mkt"),
        sum(coalesce(col("c_score"), lit(0L))).as("score_sum"))
      .orderBy(col("gen"))
  }

  private def schemaEvolutionOracle: String =
    """SELECT CAST(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS gen,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum,
      |       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS null_mkt,
      |       CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN c_custkey % 100 ELSE 0 END)
      |            AS BIGINT) AS score_sum
      |FROM customer
      |GROUP BY 1
      |ORDER BY gen""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q276_schema_evolution", (s, d) => schemaEvolutionRead(s, d),
      Some(schemaEvolutionOracle)),
    Q("q244_compaction", (s, d) => compaction(s, d),
      Some(compactionOracle)),
    Q("q240_bucketed_sla", (s, d) => bucketedSla(s, d),
      Some(graft.reports.Audits.slaOracle)),
    Q("q236_partitioned_read", (s, d) => partitionedRead(s, d),
      Some(partitionedReadOracle)),
    Q("q226_schema_merge", (s, d) => schemaMergeRead(s, d),
      Some(schemaMergeOracle)),
    Q("q179_orc_roundtrip", (s, d) => orcRoundTrip(s, d),
      Some(orcRoundTripOracle)),
    Q("q123_json_roundtrip", (s, d) => jsonRoundTrip(s, d),
      Some(jsonRoundTripOracle)),
    Q("q115_csv_ingest", (s, d) => csvIngest(s, d), Some(csvIngestOracle)),
    Q("q116_csv_roundtrip", (s, d) => csvRoundTrip(s, d), Some(csvRoundTripOracle)),
    Q("q117_xml_roundtrip", (s, d) => xmlRoundTrip(s, d), Some(xmlRoundTripOracle)),
    // q118 shares q115's oracle VERBATIM: that IS the parity contract —
    // the xlsx parse must match what DuckDB reads from the CSV twin
    Q("q118_xlsx_ingest", (s, d) => xlsxIngest(s, d), Some(csvIngestOracle)))
}
