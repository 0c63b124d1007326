package graft.etl

import graft.functions.Conversions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-based upsert loader (SURVEY §2.8 — `DataImporter.ImportAsync`,
  * DataImporter.cs:55-180; key resolution:
  * `ProductImporter.InternalProcessProductsAsync`, ProductImporter.cs:253-318).
  *
  * The reference resolves upsert keys row-by-row, trying key fields in
  * configured priority order (Id → Sku → Gtin → Mpn → Name), first match by
  * (DisplayOrder, Id). Re-expressed set-based for scale:
  *
  *  1. dedup the incoming batch per key (last occurrence wins — the
  *     row-at-a-time loop's net effect for repeated keys in one file);
  *  2. for each key field in priority order, left-join the still-unresolved
  *     incoming rows to a (key → surrogate) index deduped to the first
  *     match by the tiebreak order;
  *  3. full-outer join resolved incoming against the snapshot on the
  *     surrogate; per column apply [IGNORE]/[NULL]/default semantics
  *     (defaults only for new rows — `ImportRow.cs:124-234`);
  *  4. `updateOnly` drops unresolved rows (`ImportProfile.UpdateOnly`);
  *     inserts require the configured name field
  *     (`ProductImporter.cs:301-318`).
  *
  * Scale notes: each resolution pass is one equi-join keyed on the key
  * field; the snapshot-side key index is pre-projected to 2 columns so the
  * shuffle moves only (key, surrogate). At 100 TB the snapshot join is the
  * dominant shuffle and partitions by surrogate — the same key the final
  * merge uses, so AQE reuses the exchange.
  */
object Upsert {

  final case class Config(
      surrogate: String,
      /** Key fields tried in priority order. */
      keyPriority: Seq[String],
      /** Deterministic first-match tiebreak for non-unique keys. */
      tiebreak: Seq[String] = Seq.empty,
      updateOnly: Boolean = false,
      /** Column required for inserting new rows (reference: Name). */
      requiredForInsert: Option[String] = None,
      /** New-row-only defaults. */
      defaults: Map[String, Any] = Map.empty,
      /** Columns defining the incoming batch's order (the reference's
        * file order). When several incoming rows resolve to the same
        * entity, the LAST one in this order wins — the net effect of the
        * reference's sequential row loop. Empty ⇒ arbitrary-but-
        * deterministic tie-break on the key columns. */
      incomingOrder: Seq[String] = Seq.empty)

  val ResolvedCol = "__resolved_id"
  val IsNewCol = "__is_new"

  /** Step 1+2: attach the resolved snapshot surrogate to each incoming row
    * (null where no key matched ⇒ insert candidate).
    *
    * Shape (d20 optimization): ONE flat chain of left equi-joins — one
    * per key field — with the priority cascade expressed as
    * `coalesce(hit₁, hit₂, …)`. The former hit/miss filter-and-union
    * cascade re-executed the whole incoming chain once per union BRANCH
    * (key k's branch re-ran joins 1..k−1: quadratic re-execution in the
    * key count — q289's 4-key cascade scanned its sheet 5×), where the
    * flat form streams every incoming row ONCE through k broadcast-hash
    * probes. Identical semantics: a row resolved by key i has hitᵢ
    * non-null and coalesce picks the first (= highest-priority) hit;
    * rows with all-null hits are the insert candidates, exactly the old
    * miss branch. Each key index is deduped to the first match by
    * (tiebreak, surrogate) via a map-side-partial `min_by` aggregate
    * instead of the former row_number window (same lexicographic
    * minimum — struct ordering — without the full sort, guide §2.3). */
  def resolve(snapshot: DataFrame, incoming: DataFrame, cfg: Config): DataFrame = {
    val tb = struct((cfg.tiebreak :+ cfg.surrogate).map(col): _*)
    val keys = cfg.keyPriority.filter(incoming.columns.contains)
    if (keys.isEmpty) {
      incoming.withColumn(ResolvedCol, lit(null).cast("long"))
        .withColumn(IsNewCol, col(ResolvedCol).isNull)
    } else {
      var out = incoming
      keys.zipWithIndex.foreach { case (key, i) =>
        // snapshot key index: first match by tiebreak order per key value
        val index = snapshot
          .filter(col(key).isNotNull)
          .groupBy(col(key).as(s"__gr_k$i"))
          .agg(min_by(col(cfg.surrogate), tb).as(s"__gr_r$i"))
        out = out.join(index,
          out(key).isNotNull && out(key) === col(s"__gr_k$i"), "left")
          .drop(s"__gr_k$i")
      }
      out
        .withColumn(ResolvedCol,
          coalesce(keys.indices.map(i => col(s"__gr_r$i")): _*))
        .drop(keys.indices.map(i => s"__gr_r$i"): _*)
        .withColumn(IsNewCol, col(ResolvedCol).isNull)
    }
  }

  /** Step 3+4: merge resolved incoming rows into the snapshot. Incoming
    * columns are the staging (string) shape or typed; value columns present
    * in both frames are merged with [IGNORE]/[NULL]/default semantics. */
  def merge(snapshot: DataFrame, resolved0: DataFrame, cfg: Config): DataFrame = {
    var resolved = resolved0
    if (cfg.updateOnly) resolved = resolved.filter(!col(IsNewCol))
    cfg.requiredForInsert.foreach { req =>
      resolved = resolved.filter(!col(IsNewCol) || col(req).isNotNull)
    }
    // assign surrogates to inserts: max(snapshot) + dense id
    val maxId = Option(snapshot.agg(max(col(cfg.surrogate))).head.get(0))
      .map(_.toString.toLong).getOrElse(0L)
    val keyCols = cfg.keyPriority.filter(resolved.columns.contains)
    // docstring step 1 for INSERTS: duplicate unresolved key tuples
    // collapse to one entity, last occurrence winning — without this,
    // each duplicate new key would mint its own surrogate (the resolved
    // rows get the same treatment in the per-__key dedup below). Rows
    // whose keys overlap only partially (e.g. same name, different sku)
    // still insert separately — the sequential reference would resolve
    // the second against the first's fresh row, a regime the set-based
    // form (constant resolution state per batch) does not model.
    val wInsDedup = Window.partitionBy(keyCols.map(col): _*).orderBy(
      (if (cfg.incomingOrder.nonEmpty) cfg.incomingOrder.map(col(_).desc)
       else Seq(monotonically_increasing_id().desc)): _*)
    // new surrogates are dense above the snapshot max, numbered over the
    // insert set only (the update rows must not shift the sequence) in
    // key order — key tuples are unique after the dedup below, so that
    // order is total. Cluster-safe numbering: range-partition by the key
    // (a DISTRIBUTED range shuffle; partition i holds keys strictly
    // below partition i+1), sort within partitions, then zipWithIndex —
    // which counts rows per partition, prefix-sums the offsets on the
    // driver (|partitions| longs) and assigns offset + partition-local
    // index. The old form (row_number over an unpartitioned window) was
    // a single-partition exchange of the whole insert set — fine for the
    // reference's 100-row segments, serializing a 100× import.
    val insDedup = resolved.filter(col(IsNewCol))
      .withColumn("__ins_rn", row_number().over(wInsDedup))
      .filter(col("__ins_rn") === 1).drop("__ins_rn")
    val newRows = numberInserts(insDedup, keyCols, maxId)
    val oldRows = resolved.filter(!col(IsNewCol))
      .withColumn("__key", col(ResolvedCol))
    resolved = oldRows.unionByName(newRows)
    // several incoming rows resolving to one entity: last-in-batch-order
    // wins (the reference's sequential loop applies them in order; with
    // whole-row updates the net effect is the last row)
    val orderCols =
      if (cfg.incomingOrder.nonEmpty) cfg.incomingOrder.map(col(_).desc)
      else cfg.keyPriority.filter(resolved.columns.contains).map(col(_).desc_nulls_last)
    val wDedup = Window.partitionBy(col("__key")).orderBy(orderCols: _*)
    resolved = resolved.withColumn("__dup_rn", row_number().over(wDedup))
      .filter(col("__dup_rn") === 1).drop("__dup_rn")

    val dataCols = snapshot.columns.filterNot(_ == cfg.surrogate)
    val inc = resolved.alias("i")
    val snap = snapshot.alias("s")
    val joined = snap.join(inc, col(s"s.${cfg.surrogate}") === col("i.__key"), "full_outer")
    val isNew = col(s"s.${cfg.surrogate}").isNull
    val mergedCols = dataCols.map { c =>
      val existing = col(s"s.$c")
      if (resolved.columns.contains(c)) {
        val incoming = col(s"i.$c")
        val default = cfg.defaults.get(c).map(lit).getOrElse(lit(null))
        // [NULL]/[IGNORE] markers live only in string staging columns;
        // typed incoming columns merge without marker probes (ANSI mode
        // would reject comparing e.g. a bigint to "[IGNORE]")
        val merged =
          if (resolved.schema(c).dataType == org.apache.spark.sql.types.StringType)
            Conversions.mergeCell(incoming, existing, default, isNew)
          else
            when(incoming.isNotNull, incoming)
              .when(isNew, default).otherwise(existing)
        merged.cast(snapshot.schema(c).dataType).as(c)
      } else {
        // column absent from the incoming batch: new rows still get the
        // configured default (ImportRow.SetProperty default semantics)
        val default = cfg.defaults.get(c).map(lit).getOrElse(lit(null))
        when(isNew, default).otherwise(existing)
          .cast(snapshot.schema(c).dataType).as(c)
      }
    }
    joined.select(
      coalesce(col(s"s.${cfg.surrogate}"), col("i.__key"))
        .cast(snapshot.schema(cfg.surrogate).dataType).as(cfg.surrogate) +:
      mergedCols: _*)
  }

  /** Dense surrogate numbering (`__key` = `maxId + rank-in-key-order`)
    * over the deduped insert set — package-visible so PlanSpec can
    * assert the numbering path plans no single-partition exchange. */
  private[graft] def orderedInserts(insDedup: DataFrame,
      keyCols: Seq[String]): DataFrame =
    if (keyCols.isEmpty) insDedup.coalesce(1) // keyless: dedup left ≤1 row
    else insDedup.repartitionByRange(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)

  private[graft] def numberInserts(insDedup: DataFrame, keyCols: Seq[String],
      maxId: Long): DataFrame =
    // Segmenter.zipPosition owns the two-pass shape (Ckpt pin — the
    // dedup's mid tiebreak is not recompute-stable and zipWithIndex runs
    // a count job before the data job — then per-partition offsets);
    // this site only shifts the position into surrogate space
    Segmenter.zipPosition(orderedInserts(insDedup, keyCols), "__key")
      .withColumn("__key", col("__key") + lit(maxId + 1))

  def upsert(snapshot: DataFrame, incoming: DataFrame, cfg: Config): DataFrame =
    merge(snapshot, resolve(snapshot, incoming, cfg), cfg)

  /** K6 bulk delete as anti-delete (SURVEY §2.2 — `DbSetExtensions
    * .DeleteAll`, DbSetExtensions.cs:294-343): keep every row the predicate
    * does not match — including null-valued predicates (a bare `!pred`
    * would silently drop those under SQL three-valued logic). */
  def deleteWhere(df: DataFrame, pred: Column): DataFrame =
    df.filter(!coalesce(pred, lit(false)))
}
