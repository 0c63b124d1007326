package graft.etl

import graft.{Q, Tables}
import graft.functions.Conversions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.8 composed import-pipeline capstone (q283, round-15 verdict item 3)
  * — `DataImporter.ImportAsync` (`DataImporter.cs:55-180`) end to end as
  * ONE oracle-gated query:
  *
  *   file read (S3 `Tabular.fromFile` extension dispatch)
  *   → `ColumnMap` (renames + the `Name[de]` indexed-column fold)
  *   → conversion layer + `ImportErrors` side-channel (bad money cells
  *     accumulate as warnings, never abort — `ImportResult`)
  *   → `Segmenter.byPosition` (the reference's 100-row batch contract)
  *   → key-priority `Upsert` (Id first, Name second, inserts minted
  *     above the snapshot max — `ProductImporter.cs:253-318`)
  *   → related-entity pass 1: localized names nested per product
  *     (`ExportPipeline.nestChildren`; `ProductImporter.cs:484-520`)
  *   → related-entity pass 2: download-staged media with CONTENT dedup
  *     (`CreateDownloadItem` + `FindEqualPicture`: equal bytes map to one
  *     media key; `ProductImporter.cs:521-640`).
  *
  * The import batch derives deterministically from the part table at the
  * given SF and round-trips through a real CSV file (written by the K1
  * provider, read back by the S3 dispatcher); the oracle re-derives the
  * batch in SQL — the q116 writer→reader discipline, so the file
  * round-trip must be lossless for the hash gate to pass. File order is
  * an explicit `SrcOrder` column: a distributed CSV write has no stable
  * implicit row order, and the reference's last-row-wins semantics need a
  * total order both engines can reproduce.
  *
  * Batch rows (key coverage of the resolution cascade):
  *  - A (`p_partkey % 7 = 0`): update BY ID — name `[IGNORE]` (marker keeps
  *    the stored name), a German localized name, price +50 (every 14th a
  *    bad `n/a` cell → error channel, price untouched), an image URL
  *    (img_(k%5), contents collide mod 3 → content dedup observable);
  *  - B (distinct names of `p_partkey % 7 = 3`): update BY NAME — the
  *    second key priority; duplicate snapshot names resolve to the FIRST
  *    match by surrogate order. A B-row may hit an A-row's entity: the
  *    LAST row in file order wins whole-row (the sequential loop's net
  *    effect), while the localized/media passes keep each row's
  *    contribution — exactly the reference's per-row processing;
  *  - C (`p_partkey % 7 = 5`): inserts — fresh `NEW-k` names, surrogates
  *    `max+rank` in key order, localized names and media attached to the
  *    minted ids.
  *
  * Scale shape: the batch build and CSV round trip are map-only over the
  * part scan; resolution is two key equi-joins (snapshot side projected
  * to (key, surrogate)); the merge is the q26 full-outer join; the aux
  * passes are per-entity windows over the BATCH (import-sized) plus a
  * 5-row broadcast media map. `byPosition`'s global window is the
  * documented import-batch contract (whitelisted like q51; the scale
  * path is bySegmentOfKey). */
object ImportCapstone {

  private val MediaSrcDir = "/tmp/graft_gate/media_src"

  /** Media fixture: 5 source files whose CONTENTS collide mod 3 —
    * img_0 ≡ img_3 and img_1 ≡ img_4 byte-for-byte, so content dedup is
    * observable (two different URLs, one media key). Fixed bytes, shared
    * with the oracle as md5('MEDIA-CONTENT-' || k%3). */
  private def ensureMediaFixture(): Unit = {
    val dir = java.nio.file.Paths.get(MediaSrcDir)
    java.nio.file.Files.createDirectories(dir)
    (0 to 4).foreach { k =>
      val p = dir.resolve(s"img_$k.bin")
      val bytes = s"MEDIA-CONTENT-${k % 3}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // idempotent atomic publish (FileGate discipline): concurrent runs
      // write identical bytes, readers must never see a partial file
      if (!java.nio.file.Files.exists(p) ||
          !java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p), bytes)) {
        val tmp = dir.resolve(s".img_$k.${java.util.UUID.randomUUID()}.tmp")
        try {
          java.nio.file.Files.write(tmp, bytes)
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally java.nio.file.Files.deleteIfExists(tmp)
      }
    }
  }

  private def mediaUrl(kMod: org.apache.spark.sql.Column) =
    concat(lit(s"file://$MediaSrcDir/img_"), kMod.cast("string"), lit(".bin"))

  /** Derive the import batch from part and stage it as a real CSV file
    * set (K1 writer). Returns the staged directory. */
  private[etl] def stageBatchCsv(s: SparkSession, dir: String): String = {
    SheetStage.once(SheetStage.dirFor(dir, "import_capstone_src")) { out =>
    val part = Tables.part(s, dir)
    val pk = col("p_partkey")
    val a = part.filter(pk % 7 === 0).select(
      pk.cast("string").as("Id"),
      lit(Conversions.IgnoreToken).as("Name"),
      concat(lit("DE-"), pk.cast("string")).as("Name[de]"),
      when(pk % 14 === 0, lit("n/a"))
        .otherwise((col("p_retailprice") + 50.0).cast("string")).as("Price"),
      mediaUrl(pk % 5).as("ImageUrl"),
      pk.cast("string").as("SrcOrder"))
    val b = part.filter(pk % 7 === 3)
      .groupBy(col("p_name")).agg(min(pk).as("__minkey"))
      .select(
        lit(null).cast("string").as("Id"),
        col("p_name").as("Name"),
        lit(null).cast("string").as("Name[de]"),
        (lit(1000.0) + length(col("p_name")).cast("double"))
          .cast("string").as("Price"),
        lit(null).cast("string").as("ImageUrl"),
        (lit(1000000000L) + col("__minkey")).cast("string").as("SrcOrder"))
    val c = part.filter(pk % 7 === 5).select(
      lit(null).cast("string").as("Id"),
      concat(lit("NEW-"), pk.cast("string")).as("Name"),
      concat(lit("DE-NEW-"), pk.cast("string")).as("Name[de]"),
      col("p_retailprice").cast("string").as("Price"),
      mediaUrl(pk % 3).as("ImageUrl"),
      (lit(2000000000L) + pk).cast("string").as("SrcOrder"))
    Providers("csv")(a.unionByName(b).unionByName(c), out, None)
    }
  }

  /** The (url → media key) map: driver-side fetch of the DISTINCT urls
    * into the staging dir (`Download.fetchAll` — `CreateDownloadItems`),
    * then the distributed binaryFile scan hashing each staged blob.
    * Content dedup falls out of the hash: equal bytes ⇒ equal key
    * (`FindEqualPicture`). 5 rows — broadcast side. */
  private def mediaKeyMap(s: SparkSession, dir: String): DataFrame = {
    ensureMediaFixture()
    val staged = SheetStage.dirFor(dir, "import_capstone_media")
    val urls = (0 to 4).map(k => s"file://$MediaSrcDir/img_$k.bin")
    val fetched = Download.fetchAll(urls, staged).filter(_._3)
    import s.implicits._
    val urlOfFile = fetched
      .map { case (u, local, _) => (u, local.split('/').last) }
      .toDF("image_url", "__fname")
    Download.readBinary(s, staged)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("__fname"),
        md5(col("content")).as("media_key"))
      .join(urlOfFile, "__fname")
      .select(col("image_url"), col("media_key"))
  }

  private val cfg = Upsert.Config(
    surrogate = "p_partkey",
    keyPriority = Seq("p_partkey", "p_name"),
    requiredForInsert = Some("p_name"),
    incomingOrder = Seq("__src_order"))

  /** Memoized per (session, dir) — q283's output is re-read by q293/q294
    * and the slug pass; see [[ChainCache]]. */
  def importCapstone(s: SparkSession, dir: String): DataFrame =
    ChainCache.memo(s, dir, "q283_capstone")(importCapstoneImpl(s, dir))

  private def importCapstoneImpl(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    // 1. stage + read back through the extension dispatcher (S3)
    val raw = Tabular.fromFile(s, stageBatchCsv(s, dir), CsvConfig())
    // 2. column mapping: renames + Name[de] → name_map. Pinned: the
    // error channel, the segment pass's range sampling AND its shuffle
    // each re-read the staged CSV unpinned (3 scans → 1)
    val mapped = graft.Ckpt(ColumnMap(raw, ColumnMapping(renames = Map(
      "Id" -> "p_partkey", "Name" -> "p_name", "Price" -> "p_retailprice",
      "ImageUrl" -> "image_url", "SrcOrder" -> "__src_order")))
      .withColumn("__row_key", coalesce(col("p_partkey"), col("p_name"))))
    // 3. conversions + error side-channel (one scan feeds both)
    val convs = Seq(
      ImportErrors.Conv("p_partkey", _.try_cast("long"), "long"),
      ImportErrors.Conv("p_retailprice", c => Conversions.decimalOf(c), "double"),
      ImportErrors.Conv("__src_order", _.try_cast("long"), "long"))
    val errors = ImportErrors.errors(mapped, convs, "__row_key")
    val typed = ImportErrors.typed(mapped, convs)
    // 4. the reference's 100-row segment contract over file order
    val staged = Segmenter.byPosition(typed, Seq(col("__src_order")), 100)
    // 5. key-priority resolve + merge (ckpt: resolve feeds the merge AND
    // the per-entity passes; the merge itself reads it multiple times)
    val resolved = graft.Ckpt(Upsert.resolve(part, staged, cfg))
    val merged = graft.Ckpt(Upsert.merge(part, resolved, cfg))
    // entity id per batch row: updates carry the resolved surrogate;
    // inserts recover theirs by their (unique, fresh) name
    val newEnt = merged.filter(col("p_name").startsWith("NEW-"))
      .select(col("p_partkey").as("__new_ent"), col("p_name").as("__new_name"))
    val withEnt = resolved
      .join(newEnt, resolved("p_name") === col("__new_name"), "left")
      .withColumn("entity",
        coalesce(col(Upsert.ResolvedCol), col("__new_ent")))
      .withColumn("locale_value", element_at(col("name_map"), "de"))
    // 6-8. the three per-entity passes — related-entity pass 1 (last
    // non-null localized name: each row's localized value lands even
    // when a later row wins the product row itself), pass 2 (last
    // non-null media url, content-deduped through the download-staged
    // key map) and the error/arrival stats — FUSED into one aggregate
    // (d20, guide §2.4: same grouping key ⇒ one exchange). The former
    // shape ran two `row_number` windows plus a groupBy, each with its
    // own exchange over withEnt; [[lastNonNull]] is the windows'
    // last-non-null-by-src-order semantics as a map-side-partial aggregate.
    val errCnt = errors.groupBy(col("row_key"))
      .agg(count(lit(1)).as("__n_err"))
    val entAgg = withEnt
      .join(errCnt, withEnt("__row_key") === errCnt("row_key"), "left")
      .groupBy(col("entity"))
      .agg(
        lastNonNull(col("locale_value"), col("__src_order")).as("name_de"),
        lastNonNull(col("image_url"), col("__src_order")).as("image_url"),
        min(col("segment_index")).as("arrival_segment"),
        sum(coalesce(col("__n_err"), lit(0L))).as("n_errors"))
    val media = entAgg.filter(col("image_url").isNotNull)
      .select(col("entity").as("m_entity"), col("image_url"))
      .join(broadcast(mediaKeyMap(s, dir)), "image_url")
      .select(col("m_entity"), col("media_key"))
    // 9. assemble: touched products only. The localized pass produces at
    // most one ('de', 'Name') child per product, so the former
    // nestChildren + filter-the-array + element_at flatten is exactly a
    // left join on the aggregated name_de (same rows, one less
    // exchange+join; q291 keeps the nestChildren contract coverage).
    val touched = merged.join(entAgg, merged("p_partkey") === col("entity"))
      .drop("entity")
    touched
      .join(media, col("p_partkey") === col("m_entity"), "left")
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("p_retailprice").cast("double").as("p_retailprice"),
        col("name_de"), col("media_key"),
        col("n_errors").cast("long").as("n_errors"),
        col("arrival_segment").cast("long").as("arrival_segment"))
      .orderBy(col("p_partkey"))
  }

  /** Per group, `v` of the row last in `order` among the rows whose `v`
    * is non-null — the `row_number` window over `order` DESC (nulls
    * last) as one aggregate. A null `order` (a malformed SrcOrder cell)
    * ranks below every real one, so such a row still wins when it holds
    * the group's only non-null `v`; an all-null group yields null. */
  private[graft] def lastNonNull(v: Column, order: Column): Column =
    max_by(v, when(v.isNotNull, coalesce(order, lit(Long.MinValue))))

  val qs: Seq[Q] = Seq(
    Q("q283_import_capstone", (s, d) => importCapstone(s, d), Some(
      """WITH maxid AS (SELECT MAX(p_partkey) AS m FROM part),
        |a AS (
        |  SELECT p_partkey AS entity,
        |         '[IGNORE]' AS name,
        |         'DE-' || p_partkey AS name_de_raw,
        |         CASE WHEN p_partkey % 14 = 0 THEN NULL
        |              ELSE p_retailprice + 50.0 END AS price,
        |         CASE WHEN p_partkey % 14 = 0 THEN 1 ELSE 0 END AS n_err,
        |         md5('MEDIA-CONTENT-' || ((p_partkey % 5) % 3)) AS media_key_raw,
        |         CAST(p_partkey AS BIGINT) AS src_order
        |  FROM part WHERE p_partkey % 7 = 0),
        |b AS (
        |  SELECT (SELECT MIN(p2.p_partkey) FROM part p2
        |          WHERE p2.p_name = g.p_name) AS entity,
        |         g.p_name AS name,
        |         CAST(NULL AS VARCHAR) AS name_de_raw,
        |         1000.0 + length(g.p_name) AS price,
        |         0 AS n_err,
        |         CAST(NULL AS VARCHAR) AS media_key_raw,
        |         1000000000 + g.minkey AS src_order
        |  FROM (SELECT p_name, MIN(p_partkey) AS minkey FROM part
        |        WHERE p_partkey % 7 = 3 GROUP BY p_name) g),
        |c AS (
        |  SELECT (SELECT m FROM maxid)
        |           + ROW_NUMBER() OVER (ORDER BY 'NEW-' || p_partkey) AS entity,
        |         'NEW-' || p_partkey AS name,
        |         'DE-NEW-' || p_partkey AS name_de_raw,
        |         p_retailprice AS price,
        |         0 AS n_err,
        |         md5('MEDIA-CONTENT-' || (p_partkey % 3)) AS media_key_raw,
        |         2000000000 + p_partkey AS src_order
        |  FROM part WHERE p_partkey % 7 = 5),
        |rows_all AS (
        |  SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c),
        |segged AS (
        |  SELECT *, CAST((ROW_NUMBER() OVER (ORDER BY src_order) - 1) // 100
        |                 AS BIGINT) AS seg
        |  FROM rows_all),
        |winner AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY entity
        |                                 ORDER BY src_order DESC) AS rn
        |    FROM segged) WHERE rn = 1),
        |lastde AS (
        |  SELECT entity AS l_entity, name_de_raw AS name_de FROM (
        |    SELECT entity, name_de_raw,
        |           ROW_NUMBER() OVER (PARTITION BY entity
        |                              ORDER BY src_order DESC) AS rn
        |    FROM segged WHERE name_de_raw IS NOT NULL) WHERE rn = 1),
        |lastmedia AS (
        |  SELECT entity AS m_entity, media_key_raw AS media_key FROM (
        |    SELECT entity, media_key_raw,
        |           ROW_NUMBER() OVER (PARTITION BY entity
        |                              ORDER BY src_order DESC) AS rn
        |    FROM segged WHERE media_key_raw IS NOT NULL) WHERE rn = 1),
        |ent AS (
        |  SELECT entity, CAST(MIN(seg) AS BIGINT) AS arrival_segment,
        |         CAST(SUM(n_err) AS BIGINT) AS n_errors
        |  FROM segged GROUP BY entity)
        |SELECT w.entity AS p_partkey,
        |       CASE WHEN w.name = '[IGNORE]' THEN s.p_name
        |            ELSE w.name END AS p_name,
        |       s.p_size AS p_size,
        |       COALESCE(w.price, s.p_retailprice) AS p_retailprice,
        |       l.name_de, m.media_key, e.n_errors, e.arrival_segment
        |FROM winner w
        |JOIN ent e ON e.entity = w.entity
        |LEFT JOIN part s ON s.p_partkey = w.entity
        |LEFT JOIN lastde l ON l.l_entity = w.entity
        |LEFT JOIN lastmedia m ON m.m_entity = w.entity
        |ORDER BY p_partkey""".stripMargin)))
}
