package graft.multimodal
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal plumbing queries: documents wrapped as binary media rows. */
object MultimodalQueries {

  /** The aHash band-bucket stop-list cap (q262/q263/q267): a band value
    * shared by more images than this is boilerplate, not a near-dup. */
  private final val BandCap = 64

  /** Binary metadata projection — oracle-checkable (byte count + digest
    * computed on the same utf-8 payload in both engines). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaMeta(
        Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text"))
      .orderBy(col("media_id"))

  /** Feature extraction through the partition-batched stub codec. The
    * float feature vectors have no SQL oracle (unit-tested against the
    * deterministic fake); the decode stage's exact byte-stream checksum,
    * emitted in the same mapPartitions pass, IS oracle-checkable — DuckDB
    * re-derives it from the hex of the same utf-8 payload. */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text"))
      .select(col("media_id"), col("feature_checksum"))
      .orderBy(col("media_id"))

  /** Frame sampling through the stub codec — every 2nd 256-byte frame as
    * its own row; the gate verifies exact frame boundaries and content
    * (hex prefix) against DuckDB's hex-domain slicing of the same
    * payload. */
  def frameSamples(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
        Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text"))
      .select(col("media_id"), col("frame_idx"),
        octet_length(col("frame")).as("frame_bytes"),
        substring(hex(col("frame")), 1, 16).as("frame_hex16"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** Cross-media frame dedup (q163) — the video-side near-dup audit:
    * every frame (all frames, everyNth=1) hashes, and a frame whose
    * hash appears in ≥2 distinct media is a duplicate (intro/outro/
    * stock-footage detection — the binary twin of q151's text
    * boilerplate rule, frequency-keyed instead of pairwise). Report per
    * media: frames, duplicated frames, fraction.
    *
    * Scale shape: the frame frame (bounded by payload size) checkpoints
    * once for the hash-frequency aggregate and the mark join; frames
    * shuffle as md5 digests of their hex image, never raw bytes; the
    * (hash, media) pre-distinct rides the hash-keyed shuffle (the q151
    * pattern). Real decoders swap into the frameSample seam; every
    * shape downstream is byte-agnostic. */
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.frameSample(
        Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text"),
        frameBytes = 256, everyNth = 1)
      .select(col("media_id"), md5(hex(col("frame"))).as("fh"))
      .ckpt
    val df = frames.select(col("fh"), col("media_id")).distinct()
      .groupBy(col("fh")).agg(count(lit(1)).as("nm"))
    frames.join(df, Seq("fh"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("nm") >= 2, 1L).otherwise(0L)).as("n_dup_frames"))
      .select(col("media_id"), col("n_frames"), col("n_dup_frames"),
        round(col("n_dup_frames").cast("double") /
          col("n_frames").cast("double"), 4).as("dup_frac"))
      .orderBy(col("media_id"))
  }

  /** REAL image-codec round trip (q238): one formula-rendered 16×16 PNG
    * per document (`Multimodal.renderPng`), decoded back with
    * `javax.imageio` (`JdkImageCodec`) and reduced to exact per-channel
    * pixel sums. PNG is lossless, so DuckDB verifies the whole
    * encode→decode chain by recomputing the sums from the pixel formula
    * alone — the codec is real, the oracle needs no image library.
    *
    * Scale shape: render and decode both run in one mapPartitions pass
    * each (map-side, no shuffle); the stats aggregate is the only
    * exchange and carries 6 longs per image. */
  def imagePixelStats(s: SparkSession, dir: String): DataFrame =
    // the final range sort SAMPLES its child for partition bounds, so
    // the render→decode subtree executes twice (ColdProfile d20: two
    // 10-task codec jobs per query). Pinning the stats frame before the
    // sort was A/B-tested and REJECTED: the pin's extra job + block
    // round trip costs more than the ~0.2 s duplicate pass it removes,
    // and at cold every added job pays fresh codegen (cold pass 14 s →
    // 38 s across the family). Kept as-is deliberately.
    Multimodal.imagePixelStats(
        Multimodal.renderPng(Tables.documents(s, dir), "doc_id"))
      .orderBy(col("media_id"))

  /** Real resize chain (q239): render 16×16 PNG → decode → exact
    * nearest-neighbor 8×8 (source pixel (2x, 2y)) → re-encode PNG →
    * decode AGAIN → pixel sums. Two full codec round trips plus a
    * deterministic geometric transform, all verified value-exact by the
    * formula oracle. */
  def imageResizeStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.imagePixelStats(
        Multimodal.resizeImage(
          Multimodal.renderPng(Tables.documents(s, dir), "doc_id"), 8, 8))
      .orderBy(col("media_id"))

  /** REAL audio-codec round trip (q258): one formula-rendered mono
    * 8 kHz 16-bit WAV per document (`Multimodal.renderWav`), decoded
    * back with `javax.sound.sampled` (`JdkWavCodec`) and reduced to
    * exact sample statistics. PCM is lossless, so DuckDB verifies the
    * whole encode→decode chain by recomputing the stats from the sample
    * formula alone — the q238 discipline on audio. Scale shape: render
    * and decode are each one shuffle-free mapPartitions pass; the only
    * exchange carries 8 longs per clip. */
  def audioPcmStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioSampleStats(
        Multimodal.renderWav(Tables.documents(s, dir), "doc_id"))
      .orderBy(col("media_id"))

  /** Real decimation chain (q259): render WAV → decode → keep every 3rd
    * sample (output rate 8000/3) → re-encode WAV → decode AGAIN → sample
    * stats. Two full codec round trips plus a deterministic integer
    * resample, verified value-exact by the formula oracle — the audio
    * twin of q239. */
  def audioDecimateStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioSampleStats(
        Multimodal.decimateAudio(
          Multimodal.renderWav(Tables.documents(s, dir), "doc_id"), 3))
      .orderBy(col("media_id"))

  /** Audio frame-energy profile (q261): decode → 64-sample frames →
    * exact per-clip energy stats + silence-frame count (the VAD-style
    * segmentation gate a speech pipeline runs right after decode).
    * Integer-exact end to end, so the oracle recomputes frame energies
    * from the q258 sample formula. */
  def audioFrameEnergy(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFrameEnergy(
        Multimodal.renderWav(Tables.documents(s, dir), "doc_id"))
      .orderBy(col("media_id"))

  /** Video frame statistics (q264): render one REAL animated GIF per
    * document → decode through the container codec → exact per-video
    * frame stats (count, dims, the container's delay metadata, gray sum,
    * frame-order-weighted sum). Closes the last decode seam with the
    * q238/q258 formula-oracle discipline: the gray ramp palette makes
    * the GIF round trip bit-exact, so DuckDB recomputes everything from
    * (id, t, x, y). */
  def videoFrameStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameStats(
        Multimodal.renderGif(Tables.documents(s, dir), "doc_id"))
      .orderBy(col("media_id"))

  /** Video scene-cut detection (q265): decode → consecutive-frame L1
    * differences → per-video pair/cut counts + difference stats. The
    * render formula's `97·(t div 3)` term makes every third frame
    * boundary a genuine cut, so the threshold separates real structure,
    * not noise. */
  def videoSceneCuts(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoSceneCuts(
        Multimodal.renderGif(Tables.documents(s, dir), "doc_id"))
      .orderBy(col("media_id"))

  /** Keyframe sampling round trip (q266): render → decode → keep every
    * 2nd frame → RE-ENCODE (delay doubled — the effective frame rate
    * survives in container metadata) → decode again → frame stats. Two
    * full container round trips; the order-weighted sum re-indexes over
    * the SAMPLED frame positions, pinning both the selection and the
    * output order. */
  def videoKeyframeStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameStats(
        Multimodal.sampleVideoFrames(
          Multimodal.renderGif(Tables.documents(s, dir), "doc_id"), 2))
      .orderBy(col("media_id"))

  /** The q262 candidate machinery, shared with the q263 dedup decision:
    * returns (bands, pairs) where `bands` is the pinned per-image
    * (media_id, h0, h1, bi, bv) band frame — the ONE materialization of
    * the render→decode→hash chain; per-image hashes are a bi=0 slice of
    * it, so no separate `ah` checkpoint job runs — and `pairs` the
    * DISTINCT symmetric (ida, idb, ham) rows from the stop-listed band
    * join. */
  private def aHashPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // both frames are session-pinned shared passes (d19 memo): the
    // render→decode→hash chain and the banded candidate join run once
    // and serve q262/q263/q267 — the family's bench owner is q262
    // (first in bench order)
    val bands = graft.etl.ChainCache.memo(s, dir, "mm_ahash_bands") {
      val ah = Multimodal.imageAHash(
        Multimodal.renderPng(Tables.documents(s, dir), "doc_id"))
      ah.select(col("media_id"), col("h0"), col("h1"),
          explode(array(
            struct(lit(0).as("bi"), expr("h0 % 65536").as("bv")),
            struct(lit(1).as("bi"), expr("h0 div 65536").as("bv")),
            struct(lit(2).as("bi"), expr("h1 % 65536").as("bv")),
            struct(lit(3).as("bi"), expr("h1 div 65536").as("bv")))).as("b"))
        .select(col("media_id"), col("h0"), col("h1"),
          col("b.bi").as("bi"), col("b.bv").as("bv"))
    }
    val pairs = graft.etl.ChainCache.memo(s, dir, "mm_ahash_pairs",
        s"cap=$BandCap") {
      val ok = bands.groupBy(col("bi"), col("bv"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") <= BandCap).select("bi", "bv")
      val kept = bands.join(ok, Seq("bi", "bv"))
      val a = kept.select(col("bi"), col("bv"), col("media_id").as("ida"),
        col("h0").as("a0"), col("h1").as("a1"))
      val b2 = kept.select(col("bi"), col("bv"), col("media_id").as("idb"),
        col("h0").as("b0"), col("h1").as("b1"))
      a.join(b2, Seq("bi", "bv"))
        .filter(col("ida") =!= col("idb"))
        .select(col("ida"), col("idb"),
          expr("bit_count(a0 ^ b0) + bit_count(a1 ^ b1)").as("ham"))
        .distinct()
    }
    (bands, pairs)
  }

  /** Image perceptual-hash near-dup audit (q262): render → REAL decode
    * → aHash (8×8 integer grayscale mean-threshold, packed as two
    * 32-bit halves) → banded candidate join (4 × 16-bit bands) →
    * per-image candidate/near-dup counts (near-dup = hamming ≤ 6 over
    * the 64 bits). The multimodal twin of the q37 simhash pipeline.
    *
    * Scale shape: hashing is one shuffle-free mapPartitions pass;
    * candidates come from an equi-join on (band, value) — never
    * all-pairs — with DEGENERATE buckets (> cap members) stop-listed
    * exactly like the df-capped inverted index (q194): a band value
    * shared by hundreds of images is boilerplate (blank frames, test
    * cards), not a near-dup signal, and skipping it bounds the
    * quadratic term at cap²·|buckets|. Rows shuffle as 3 longs. */
  def imageNearDup(s: SparkSession, dir: String): DataFrame = {
    val (bands, pairs) = aHashPairs(s, dir)
    // per-image hashes are any one band-slice of the pinned frame — a
    // filter on the checkpoint, not a second render→decode→hash job
    val ah = bands.filter(col("bi") === 0)
      .select(col("media_id"), col("h0"), col("h1"))
    val st = pairs.groupBy(col("ida"))
      .agg(count(lit(1)).as("n_band_cand"),
        sum(when(col("ham") <= 6, 1L).otherwise(0L)).as("n_neardup"))
    ah.join(st, ah("media_id") === st("ida"), "left_outer")
      .select(col("media_id"), col("h0"), col("h1"),
        coalesce(col("n_band_cand"), lit(0L)).as("n_band_cand"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
      .orderBy(col("media_id"))
  }

  /** Image dedup DECISION (q263) — q131's text pipeline completed for
    * the image modality: aHash near-dup edges (hamming ≤ 6 from the
    * stop-listed band join) → min-label connected components → per
    * image its cluster, cluster size, and the keep flag (keeper = min
    * id of the cluster). This is the row a curation pipeline filters
    * on to drop duplicate images from a 100-TB media corpus.
    *
    * Scale shape: candidates stay banded+capped (q262); the CC is the
    * pointer-jumping fixpoint over |pairs| edges with per-superstep
    * lineage truncation — edges are cluster-local, never corpus². */
  def imageDedupDecision(s: SparkSession, dir: String): DataFrame = {
    val comp = imageDedupComponents(s, dir)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("component"))
      .select(col("media_id"), col("component"), col("csize"),
        (col("media_id") === col("component")).cast("int").as("keep"))
      .orderBy(col("media_id"))
  }

  /** The q263 clustering WITHOUT the decision projection/sort — the
    * (media_id, component) frame the q267 pair-level decision joins. */
  private[graft] def imageDedupComponents(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "mm_img_components",
        s"cap=$BandCap,ham6") {
      val (_, pairs) = aHashPairs(s, dir)
      val edges = pairs.filter(col("ham") <= 6)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val ids = Tables.documents(s, dir).select(col("doc_id").as("id"))
      graft.text.Dedup.connectedComponents(edges, ids)
        .select(col("id").as("media_id"), col("component"))
    }

  /** Cross-modal PAIR dedup decision (q267) — the curation call a
    * (text, image) training-pair corpus actually needs: a pair
    * duplicates another only when BOTH modalities near-duplicate
    * (same caption on a different image, or same image under a
    * different caption, are DISTINCT training signal — pruning on
    * either modality alone over-deletes). Pair identity is the
    * (text cluster, image cluster) tuple: the q131 LSH→verify→CC text
    * clustering joined with the q263 aHash→band→CC image clustering,
    * keeper = min doc id of the tuple group.
    *
    * Scale shape: both arms are the bounded production pipelines
    * (banded candidates, df/size caps, pointer-jumping CC); the
    * composition adds one doc-keyed equi-join and one group-by over
    * cluster-id tuples — nothing quadratic, nothing driver-side. */
  def pairDedupDecision(s: SparkSession, dir: String): DataFrame = {
    // both arms run driver-looped CC fixpoints (jobs submitted during
    // construction); they are independent, so build them CONCURRENTLY —
    // the scheduler interleaves their stages and the idle gaps of one
    // arm's supersteps absorb the other's (measured ~35% off the
    // serial-arm wall time at sf0.1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val textF = Future(graft.text.TextQueries.textDedupComponents(s, dir)
      .select(col("doc_id"), col("component").as("text_comp")))
    val imgF = Future(imageDedupComponents(s, dir)
      .select(col("media_id").as("doc_id"), col("component").as("img_comp")))
    val text = Await.result(textF, scala.concurrent.duration.Duration.Inf)
    val img = Await.result(imgF, scala.concurrent.duration.Duration.Inf)
    val p = text.join(img, Seq("doc_id"))
    val g = p.groupBy(col("text_comp"), col("img_comp"))
      .agg(count(lit(1)).as("pair_group_size"), min(col("doc_id")).as("__keeper"))
    p.join(g, Seq("text_comp", "img_comp"))
      .select(col("doc_id"), col("text_comp"), col("img_comp"),
        col("pair_group_size"),
        (col("doc_id") === col("__keeper")).cast("int").as("keep_pair"))
      .orderBy(col("doc_id"))
  }

  /** The q263 image-modality clustering as i-prefixed DuckDB CTEs
    * (hash → stop-listed bands → symmetric hamming≤6 edges `ie`),
    * composable next to the q131 text CTEs without name collisions. */
  private def imageClusterCtes: String =
    s"""ig AS (SELECT t1.x AS x, t2.y AS y
      |       FROM unnest(range(0, 8)) t1(x), unnest(range(0, 8)) t2(y)),
      |igr AS (SELECT doc_id, y * 8 + x AS k,
      |               (((doc_id + 7 * (2 * x) + 13 * (2 * y)) % 256)
      |                + ((2 * doc_id + 5 * (2 * x) + 3 * (2 * y)) % 256)
      |                + ((3 * doc_id + 11 * (2 * x) + (2 * y)) % 256)) // 3
      |                 AS gray
      |        FROM documents, ig),
      |im AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM igr GROUP BY doc_id),
      |ih AS (SELECT igr.doc_id,
      |              SUM(CASE WHEN gray > mean AND k < 32
      |                  THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
      |                  ELSE 0 END) AS h0,
      |              SUM(CASE WHEN gray > mean AND k >= 32
      |                  THEN (CAST(1 AS BIGINT) << CAST(k - 32 AS INT))
      |                  ELSE 0 END) AS h1
      |       FROM igr JOIN im USING (doc_id) GROUP BY igr.doc_id),
      |ibands AS (SELECT doc_id, h0, h1, b.bi,
      |                  CASE b.bi WHEN 0 THEN h0 % 65536
      |                            WHEN 1 THEN h0 // 65536
      |                            WHEN 2 THEN h1 % 65536
      |                            ELSE h1 // 65536 END AS bv
      |           FROM ih, (VALUES (0), (1), (2), (3)) b(bi)),
      |iok AS (SELECT bi, bv FROM ibands GROUP BY bi, bv
      |        HAVING COUNT(*) <= $BandCap),
      |ikept AS (SELECT ibands.* FROM ibands JOIN iok USING (bi, bv)),
      |ie AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |       FROM ikept a JOIN ikept b
      |         ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id <> b.doc_id
      |       WHERE bit_count(xor(a.h0, b.h0))
      |               + bit_count(xor(a.h1, b.h1)) <= 6)""".stripMargin

  private def pairDedupOracle: String =
    s"""WITH RECURSIVE ${graft.text.TextQueries.verifiedEdgeCtes},
       |te AS (SELECT id1 AS src, id2 AS dst FROM e0
       |       UNION SELECT id2, id1 FROM e0),
       |tr AS (SELECT doc_id AS id, doc_id AS reach FROM documents
       |       UNION SELECT tr.id, te.dst FROM tr JOIN te ON tr.reach = te.src),
       |tcomp AS (SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS text_comp
       |          FROM tr GROUP BY id),
       |$imageClusterCtes,
       |ir AS (SELECT doc_id AS id, doc_id AS reach FROM documents
       |       UNION SELECT ir.id, ie.dst FROM ir JOIN ie ON ir.reach = ie.src),
       |icomp AS (SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS img_comp
       |          FROM ir GROUP BY id),
       |p AS (SELECT t.doc_id, t.text_comp, i.img_comp
       |      FROM tcomp t JOIN icomp i USING (doc_id)),
       |gsz AS (SELECT text_comp, img_comp,
       |               CAST(COUNT(*) AS BIGINT) AS pair_group_size,
       |               MIN(doc_id) AS keeper
       |        FROM p GROUP BY text_comp, img_comp)
       |SELECT p.doc_id, p.text_comp, p.img_comp, gsz.pair_group_size,
       |       CAST(CASE WHEN p.doc_id = gsz.keeper THEN 1 ELSE 0 END AS INT)
       |         AS keep_pair
       |FROM p JOIN gsz USING (text_comp, img_comp)
       |ORDER BY doc_id""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q267_pair_dedup_decision", (s, d) => pairDedupDecision(s, d),
      Some(pairDedupOracle)),
    Q("q263_image_dedup_decision", (s, d) => imageDedupDecision(s, d), Some(
      s"""WITH RECURSIVE
        |g AS (SELECT t1.x AS x, t2.y AS y
        |      FROM unnest(range(0, 8)) t1(x), unnest(range(0, 8)) t2(y)),
        |gr AS (SELECT doc_id, y * 8 + x AS k,
        |              (((doc_id + 7 * (2 * x) + 13 * (2 * y)) % 256)
        |               + ((2 * doc_id + 5 * (2 * x) + 3 * (2 * y)) % 256)
        |               + ((3 * doc_id + 11 * (2 * x) + (2 * y)) % 256)) // 3
        |                AS gray
        |       FROM documents, g),
        |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM gr GROUP BY doc_id),
        |h AS (SELECT gr.doc_id,
        |             SUM(CASE WHEN gray > mean AND k < 32
        |                 THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
        |                 ELSE 0 END) AS h0,
        |             SUM(CASE WHEN gray > mean AND k >= 32
        |                 THEN (CAST(1 AS BIGINT) << CAST(k - 32 AS INT))
        |                 ELSE 0 END) AS h1
        |      FROM gr JOIN m USING (doc_id) GROUP BY gr.doc_id),
        |bands AS (SELECT doc_id, h0, h1, b.bi,
        |                 CASE b.bi WHEN 0 THEN h0 % 65536
        |                           WHEN 1 THEN h0 // 65536
        |                           WHEN 2 THEN h1 % 65536
        |                           ELSE h1 // 65536 END AS bv
        |          FROM h, (VALUES (0), (1), (2), (3)) b(bi)),
        |ok AS (SELECT bi, bv FROM bands GROUP BY bi, bv
        |       HAVING COUNT(*) <= $BandCap),
        |kept AS (SELECT bands.* FROM bands JOIN ok USING (bi, bv)),
        |e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |      FROM kept a JOIN kept b
        |        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id <> b.doc_id
        |      WHERE bit_count(xor(a.h0, b.h0))
        |              + bit_count(xor(a.h1, b.h1)) <= 6),
        |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
        |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
        |comp AS (SELECT id AS media_id, CAST(MIN(reach) AS BIGINT)
        |           AS component
        |         FROM r GROUP BY id),
        |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
        |       FROM comp GROUP BY component)
        |SELECT c.media_id, c.component, cs.csize,
        |       CAST(CASE WHEN c.media_id = c.component THEN 1 ELSE 0 END
        |            AS INT) AS keep
        |FROM comp c JOIN cs USING (component)
        |ORDER BY c.media_id""".stripMargin)),
    Q("q264_video_frame_stats", (s, d) => videoFrameStats(s, d), Some(
      """WITH g AS (SELECT t1.x AS x, t2.y AS y
        |           FROM unnest(range(0, 16)) t1(x),
        |                unnest(range(0, 16)) t2(y)),
        |v AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
        |fr AS (SELECT v.doc_id, v.nf, ft.t
        |       FROM v, unnest(range(0, v.nf)) ft(t)),
        |px AS (SELECT fr.doc_id, fr.nf, fr.t,
        |              (fr.doc_id + 7 * x + 13 * y + 29 * t
        |               + 97 * (t // 3)) % 256 AS gray
        |       FROM fr, g)
        |SELECT doc_id AS media_id, CAST(nf AS INT) AS n_frames,
        |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |       CAST(10 AS INT) AS delay_cs,
        |       CAST(SUM(gray) AS BIGINT) AS g_sum,
        |       CAST(SUM((t + 1) * gray) AS BIGINT) AS g_wsum
        |FROM px GROUP BY doc_id, nf
        |ORDER BY media_id""".stripMargin)),
    Q("q265_video_scene_cuts", (s, d) => videoSceneCuts(s, d), Some(
      """WITH g AS (SELECT t1.x AS x, t2.y AS y
        |           FROM unnest(range(0, 16)) t1(x),
        |                unnest(range(0, 16)) t2(y)),
        |v AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
        |fr AS (SELECT v.doc_id, ft.t FROM v, unnest(range(1, v.nf)) ft(t)),
        |d AS (SELECT fr.doc_id, fr.t,
        |             CAST(SUM(ABS(
        |               ((fr.doc_id + 7 * x + 13 * y + 29 * t
        |                 + 97 * (t // 3)) % 256)
        |               - ((fr.doc_id + 7 * x + 13 * y + 29 * (t - 1)
        |                   + 97 * ((t - 1) // 3)) % 256))) AS BIGINT) AS diff
        |      FROM fr, g GROUP BY fr.doc_id, fr.t)
        |SELECT doc_id AS media_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(CASE WHEN diff >= 20000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_cuts,
        |       CAST(SUM(diff) AS BIGINT) AS diff_sum,
        |       CAST(MAX(diff) AS BIGINT) AS diff_max
        |FROM d GROUP BY doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q266_video_keyframe_stats", (s, d) => videoKeyframeStats(s, d), Some(
      """WITH g AS (SELECT t1.x AS x, t2.y AS y
        |           FROM unnest(range(0, 16)) t1(x),
        |                unnest(range(0, 16)) t2(y)),
        |v AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
        |fr AS (SELECT v.doc_id, (v.nf + 1) // 2 AS nf2, fj.j, 2 * fj.j AS t
        |       FROM v, unnest(range(0, (v.nf + 1) // 2)) fj(j)),
        |px AS (SELECT fr.doc_id, fr.nf2, fr.j,
        |              (fr.doc_id + 7 * x + 13 * y + 29 * t
        |               + 97 * (t // 3)) % 256 AS gray
        |       FROM fr, g)
        |SELECT doc_id AS media_id, CAST(nf2 AS INT) AS n_frames,
        |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |       CAST(20 AS INT) AS delay_cs,
        |       CAST(SUM(gray) AS BIGINT) AS g_sum,
        |       CAST(SUM((j + 1) * gray) AS BIGINT) AS g_wsum
        |FROM px GROUP BY doc_id, nf2
        |ORDER BY media_id""".stripMargin)),
    Q("q262_image_neardup", (s, d) => imageNearDup(s, d), Some(
      s"""WITH g AS (SELECT t1.x AS x, t2.y AS y
        |           FROM unnest(range(0, 8)) t1(x), unnest(range(0, 8)) t2(y)),
        |gr AS (SELECT doc_id, y * 8 + x AS k,
        |              (((doc_id + 7 * (2 * x) + 13 * (2 * y)) % 256)
        |               + ((2 * doc_id + 5 * (2 * x) + 3 * (2 * y)) % 256)
        |               + ((3 * doc_id + 11 * (2 * x) + (2 * y)) % 256)) // 3
        |                AS gray
        |       FROM documents, g),
        |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM gr GROUP BY doc_id),
        |h AS (SELECT gr.doc_id,
        |             SUM(CASE WHEN gray > mean AND k < 32
        |                 THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
        |                 ELSE 0 END) AS h0,
        |             SUM(CASE WHEN gray > mean AND k >= 32
        |                 THEN (CAST(1 AS BIGINT) << CAST(k - 32 AS INT))
        |                 ELSE 0 END) AS h1
        |      FROM gr JOIN m USING (doc_id) GROUP BY gr.doc_id),
        |bands AS (SELECT doc_id, h0, h1, b.bi,
        |                 CASE b.bi WHEN 0 THEN h0 % 65536
        |                           WHEN 1 THEN h0 // 65536
        |                           WHEN 2 THEN h1 % 65536
        |                           ELSE h1 // 65536 END AS bv
        |          FROM h, (VALUES (0), (1), (2), (3)) b(bi)),
        |ok AS (SELECT bi, bv FROM bands GROUP BY bi, bv
        |       HAVING COUNT(*) <= $BandCap),
        |kept AS (SELECT bands.* FROM bands JOIN ok USING (bi, bv)),
        |pairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
        |                 bit_count(xor(a.h0, b.h0))
        |                   + bit_count(xor(a.h1, b.h1)) AS ham
        |          FROM kept a JOIN kept b
        |            ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id <> b.doc_id),
        |st AS (SELECT ida, CAST(COUNT(*) AS BIGINT) AS n_band_cand,
        |              CAST(SUM(CASE WHEN ham <= 6 THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS n_neardup
        |       FROM pairs GROUP BY ida)
        |SELECT h.doc_id AS media_id, CAST(h.h0 AS BIGINT) AS h0,
        |       CAST(h.h1 AS BIGINT) AS h1,
        |       CAST(COALESCE(st.n_band_cand, 0) AS BIGINT) AS n_band_cand,
        |       CAST(COALESCE(st.n_neardup, 0) AS BIGINT) AS n_neardup
        |FROM h LEFT JOIN st ON st.ida = h.doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q261_audio_frame_energy", (s, d) => audioFrameEnergy(s, d), Some(
      """WITH s AS (SELECT doc_id, i // 64 AS f,
        |                  ((131 * doc_id + 17 * i) % 65536 - 32768) AS v
        |           FROM documents,
        |                unnest(range(0, 300 + doc_id % 100)) t(i)),
        |fe AS (SELECT doc_id, f, SUM(v * v) AS e FROM s GROUP BY doc_id, f)
        |SELECT doc_id AS media_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(e) AS BIGINT) AS energy_sum,
        |       CAST(MAX(e) AS BIGINT) AS energy_max,
        |       CAST(SUM(CASE WHEN e < 1000000000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_silent
        |FROM fe GROUP BY doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q258_audio_pcm_stats", (s, d) => audioPcmStats(s, d), Some(
      """WITH s AS (SELECT doc_id, i,
        |                  (131 * doc_id + 17 * i) % 65536 - 32768 AS v
        |           FROM documents,
        |                unnest(range(0, 300 + doc_id % 100)) t(i))
        |SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS BIGINT) AS s_sum,
        |       CAST(MIN(v) AS BIGINT) AS s_min,
        |       CAST(MAX(v) AS BIGINT) AS s_max,
        |       CAST(SUM(((i % 7) + 1) * v) AS BIGINT) AS s_wsum
        |FROM s GROUP BY doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q259_audio_decimate_stats", (s, d) => audioDecimateStats(s, d), Some(
      """WITH s AS (SELECT doc_id, j,
        |                  (131 * doc_id + 17 * (3 * j)) % 65536 - 32768 AS v
        |           FROM documents,
        |                unnest(range(0, (300 + doc_id % 100 + 2) // 3)) t(j))
        |SELECT doc_id AS media_id, CAST(2666 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS BIGINT) AS s_sum,
        |       CAST(MIN(v) AS BIGINT) AS s_min,
        |       CAST(MAX(v) AS BIGINT) AS s_max,
        |       CAST(SUM(((j % 7) + 1) * v) AS BIGINT) AS s_wsum
        |FROM s GROUP BY doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q163_frame_dedup", (s, d) => frameDedup(s, d), Some(
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |f AS (SELECT doc_id AS media_id,
        |             md5(substr(hx, CAST(i * 512 + 1 AS INT), 512)) AS fh
        |      FROM b, unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT), 1)) AS t(i)),
        |df AS (SELECT fh, COUNT(*) AS nm
        |       FROM (SELECT DISTINCT fh, media_id FROM f) GROUP BY fh)
        |SELECT media_id, COUNT(*) AS n_frames,
        |       CAST(SUM(CASE WHEN nm >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_frames,
        |       round(SUM(CASE WHEN nm >= 2 THEN 1 ELSE 0 END)
        |             / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
        |FROM f JOIN df USING (fh)
        |GROUP BY media_id
        |ORDER BY media_id""".stripMargin)),
    Q("q76_frame_sample", (s, d) => frameSamples(s, d), Some(
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents),
        |f AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |             CAST(least(256, n - i * 256) AS INT) AS frame_bytes,
        |             substr(hx, CAST(i * 512 + 1 AS INT), 16) AS frame_hex16
        |      FROM b, unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT), 2)) AS t(i))
        |SELECT doc_id AS media_id, frame_idx, frame_bytes, frame_hex16
        |FROM f
        |ORDER BY media_id, frame_idx""".stripMargin)),
    Q("q43_media_meta", (s, d) => mediaMeta(s, d), Some(
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS digest
        |FROM documents
        |ORDER BY media_id""".stripMargin)),
    Q("q238_image_pixel_stats", (s, d) => imagePixelStats(s, d), Some(
      """WITH g AS (SELECT t1.x AS x, t2.y AS y
        |           FROM unnest(range(0, 16)) t1(x),
        |                unnest(range(0, 16)) t2(y))
        |SELECT doc_id AS media_id, CAST(16 AS INT) AS width,
        |       CAST(16 AS INT) AS height,
        |       CAST(SUM((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
        |       CAST(SUM((2 * doc_id + 5 * x + 3 * y) % 256) AS BIGINT) AS g_sum,
        |       CAST(SUM((3 * doc_id + 11 * x + y) % 256) AS BIGINT) AS b_sum
        |FROM documents, g
        |GROUP BY doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q239_image_resize_stats", (s, d) => imageResizeStats(s, d), Some(
      """WITH g AS (SELECT t1.x AS x, t2.y AS y
        |           FROM unnest(range(0, 8)) t1(x),
        |                unnest(range(0, 8)) t2(y))
        |SELECT doc_id AS media_id, CAST(8 AS INT) AS width,
        |       CAST(8 AS INT) AS height,
        |       CAST(SUM((doc_id + 7 * (2 * x) + 13 * (2 * y)) % 256) AS BIGINT)
        |         AS r_sum,
        |       CAST(SUM((2 * doc_id + 5 * (2 * x) + 3 * (2 * y)) % 256) AS BIGINT)
        |         AS g_sum,
        |       CAST(SUM((3 * doc_id + 11 * (2 * x) + (2 * y)) % 256) AS BIGINT)
        |         AS b_sum
        |FROM documents, g
        |GROUP BY doc_id
        |ORDER BY media_id""".stripMargin)),
    Q("q44_media_features", (s, d) => mediaFeatures(s, d), Some(
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  octet_length(encode(text)) AS n
        |           FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(COALESCE(list_sum(list_transform(range(n), i ->
        |         ((i % 8) + 1) *
        |         (16 * (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
        |              + strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1)
        |       )), 0) AS BIGINT) AS feature_checksum
        |FROM b
        |ORDER BY media_id""".stripMargin))
  )
}
