package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Composable `ApplyXxxFilter`-style WHERE builders (SURVEY §2.3 F2) — the
  * reference exposes ~70 of these as IQueryable extensions (e.g.
  * `OrderQueryExtensions.ApplyStandardFilter/ApplyStatusFilter/
  * ApplyPaymentFilter/ApplyBillingFilter`, OrderQueryExtensions.cs:110-241;
  * `CustomerQueryExtensions.cs:44-246`). Each conditionally ANDs a predicate
  * onto the frame; all remain declarative, so Catalyst pushes the whole
  * conjunction into the parquet scan.
  *
  * Also carries the sort/paging surface (SURVEY §2.6): multi-key sort (W1),
  * dynamic sort-by-name (W2 — `GridCommandQueryExtensions.ApplyGridCommand`,
  * GridCommandQueryExtensions.cs:24-66), offset paging (W3), keyset paging
  * (W4 — `FastPager.cs:7-126`, kept as a segment-iteration contract; at
  * scale the partition-parallel scan replaces it), top-k (W5).
  */
object DomainFilters {

  /** IN-list filter; no-op when the list is empty (the reference adds the
    * predicate only when the parameter is set). */
  def applyInFilter(df: DataFrame, column: String, values: Seq[Any]): DataFrame =
    if (values.isEmpty) df else df.filter(col(column).isin(values: _*))

  /** Inclusive date/time range; each bound optional. */
  def applyDateRange(df: DataFrame, column: String,
      from: Option[Timestamp], to: Option[Timestamp]): DataFrame = {
    val f1 = from.map(t => df(column) >= lit(t))
    val f2 = to.map(t => df(column) <= lit(t))
    Seq(f1, f2).flatten.foldLeft(df)(_ filter _)
  }

  /** Case-insensitive substring filter over one or more columns, OR'd —
    * the `ApplyBillingFilter` shape (substring on names,
    * OrderQueryExtensions.cs:199-225). */
  def applySubstring(df: DataFrame, term: String, columns: String*): DataFrame =
    if (term == null || term.isEmpty) df
    else df.filter(columns.map(c => lower(col(c)).contains(term.toLowerCase))
      .reduce(_ || _))

  /** W1/W2: dynamic multi-key sort from (name, descending) specs with a
    * deterministic key fallback — `ApplyGridCommand` appends OrderBy(Id)
    * before paging. */
  def applyDynamicSort(df: DataFrame, specs: Seq[(String, Boolean)],
      tiebreak: String): DataFrame = {
    val cols = specs.map { case (n, desc) => if (desc) col(n).desc else col(n).asc } :+
      col(tiebreak).asc
    df.orderBy(cols: _*)
  }

  /** W3: offset paging over a total order — `PagedListExtensions.ApplyPaging`.
    * On a cluster this is a global sort + limit; only sane for report-sized
    * outputs (the reference pages UI grids the same way). */
  def applyOffsetPaging(df: DataFrame, sort: Seq[Column], pageIndex: Int,
      pageSize: Int): DataFrame =
    df.orderBy(sort: _*).offset(pageIndex * pageSize).limit(pageSize)

  /** W4: keyset (seek) page — `WHERE key > last ORDER BY key LIMIT n`
    * (`FastPager`, `DataExporter.ApplyPaging`). Pushdown-friendly: the
    * key predicate reaches the parquet scan. */
  def applyKeysetPage(df: DataFrame, keyColumn: String, lastKey: Long,
      pageSize: Int): DataFrame =
    df.filter(col(keyColumn) > lastKey).orderBy(col(keyColumn)).limit(pageSize)

  /** F9: ACL/store-mapping visibility filter with bypass flag — the
    * `!SubjectToAcl || AclRecords.Contains(Id)` shape (`ApplyAclFilter`/
    * `ApplyStoreFilter`, LinqCatalogSearchService.cs:807-843). Expressed
    * as the union of the two disjoint branches: unrestricted rows pass
    * untouched; restricted rows semi-join the mapping table. The mapping
    * side is a key projection only, so the semi-join shuffles (or
    * broadcasts) just the keys. */
  /** Date-part equality filter — `ApplyBirthDateFilter`
    * (CustomerQueryExtensions.cs:93-113): each provided part (year /
    * month / day-of-month) ANDs an equality on that part; null parts are
    * skipped. A NULL date fails every provided part (EF's
    * `BirthDate.Value.Day == day` null-propagates to false; Spark's
    * `month(NULL) === m` is NULL → filtered) — same row set. */
  def applyDatePartsFilter(df: DataFrame, column: String, year: Option[Int],
      month: Option[Int], day: Option[Int]): DataFrame = {
    import org.apache.spark.sql.functions.{dayofmonth, month => monthOf, year => yearOf}
    val preds = Seq(
      day.map(d => dayofmonth(col(column)) === d),
      month.map(m => monthOf(col(column)) === m),
      year.map(y => yearOf(col(column)) === y)).flatten
    preds.foldLeft(df)(_ filter _)
  }

  /** Enum-code equality, no-op when unset — `ApplyPasswordFormatFilter`
    * (CustomerQueryExtensions.cs:200-207) / `ApplyLevelFilter`
    * (LogQueryExtensions.cs:21-33): the enum is persisted as an int
    * column and filtering is plain equality on the code. */
  def applyCodeFilter(df: DataFrame, column: String,
      code: Option[Int]): DataFrame =
    code.map(c => df.filter(col(column) === c)).getOrElse(df)

  /** EAV attribute filter — `ApplyZipPostalCodeFilter` /
    * `ApplyPhoneFilter` (CustomerQueryExtensions.cs:209-246): the
    * attribute side table filters on (key, value contains term), projects
    * entity ids, and the main entity semi-joins them (the reference joins
    * GenericAttributes and selects the customer back — a semi-join in
    * relational terms, and the shape that scales: the key+term predicate
    * pushes into the attribute scan, and only ids cross the join). */
  def applyAttributeFilter(df: DataFrame, dfKey: String, attrs: DataFrame,
      entityCol: String, keyCol: String, keyName: String,
      valueCol: String, term: String): DataFrame =
    df.join(
      attrs.filter(col(keyCol) === keyName &&
          lower(col(valueCol)).contains(term.toLowerCase))
        .select(col(entityCol)),
      col(dfKey) === col(entityCol), "left_semi")

  /** Nullness gate — the `unsentOnly` arm of `QueuedEmailQueryExtensions
    * .ApplyTimeFilter` (QueuedEmailQueryExtensions.cs:26-41:
    * `!x.SentOnUtc.HasValue`): filter to rows where the column is (or is
    * not) null; no-op when the flag is off, like the reference. */
  def applyNullnessFilter(df: DataFrame, column: String,
      onlyNull: Boolean): DataFrame =
    if (onlyNull) df.filter(col(column).isNull) else df

  /** Boolean-flag gate — `GiftCardQueryExtensions.ApplyStandardFilter`
    * (GiftCardQueryExtensions.cs:16-26): unless inactive rows are
    * explicitly included, only flagged (activated) rows pass. */
  def applyFlagFilter(df: DataFrame, flagColumn: String,
      includeInactive: Boolean = false): DataFrame =
    if (includeInactive) df else df.filter(col(flagColumn))

  /** IN-list on a NULLABLE reference column —
    * `GiftCardQueryExtensions.ApplyOrderFilter` (GiftCardQueryExtensions
    * .cs:28-43: `PurchasedWithOrderItem != null && orderIds.Contains(
    * ...OrderId)`): the null guard is explicit in the reference because
    * the nav property is optional; `isin` alone would also drop nulls,
    * but the guard keeps the three-valued logic visible and the plan
    * null-rejecting (join-reorder safe). */
  def applyNullableIdsFilter(df: DataFrame, column: String,
      ids: Seq[Long]): DataFrame =
    df.filter(col(column).isNotNull && col(column).isin(ids: _*))

  def applyVisibilityFilter(df: DataFrame, restrictedFlag: Column,
      mapping: DataFrame, dfKey: String, mappingKey: String): DataFrame = {
    // NULL flag = unrestricted (the reference's bool is non-nullable, so
    // NULL only arises from dirty ingestion; both raw filters are
    // null-rejecting and would silently drop the row from BOTH branches)
    val restricted = coalesce(restrictedFlag, lit(false))
    val unrestricted = df.filter(!restricted)
    val restrictedHit = df.filter(restricted)
      .join(mapping.select(col(mappingKey)),
        col(dfKey) === col(mappingKey), "left_semi")
    unrestricted.unionByName(restrictedHit)
  }
}
