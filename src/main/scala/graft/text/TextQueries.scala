package graft.text
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis / dedup queries over the documents table. The DuckDB
  * oracles restate the identical deterministic logic (same normalization,
  * same marker sets, same rounding), so these are value-level checked; the
  * hash-based operators (minhash/simhash) have no SQL-expressible oracle
  * and are covered by unit tests + rows-only checks.
  */
object TextQueries {

  private val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  // empty-text parity with TextFunctions.tokensOf: DuckDB string_split('')
  // returns [''] (len 1) where Spark returns [] — without the CASE, empty
  // or whitespace-only documents tokenize differently in the oracle than
  // in the engine (phantom '' tokens join in the jaccard oracles, ratios
  // divide by 1 instead of nulling)
  private[text] val toksSql =
    s"(CASE WHEN length($norm) = 0 THEN CAST([] AS VARCHAR[]) ELSE string_split($norm, ' ') END)"

  /** Exact-dedup groups (hash group-by). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("text_hash"))

  /** Token counting (whitespace tokenizer). */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .orderBy(col("doc_id"))

  /** The context-window chunk geometry (q70, q245, q248, q251): chunks of
    * this many tokens, one starting every `ChunkStride` tokens. */
  private final val ChunkTok = 64
  private final val ChunkStride = 48

  /** RAG-style document chunking (q245): fixed-size token windows with
    * overlap — chunk k covers tokens [k·stride, k·stride + size), the
    * retrieval-index unit every RAG pipeline derives from its corpus.
    * Stable (doc_id, chunk_idx) identity plus the exact md5 of the
    * space-joined chunk text, so the oracle value-checks every window
    * boundary (off-by-one in the stride arithmetic flips the hash).
    * Empty documents emit no chunks.
    *
    * Scale shape: one map-side pass — tokenize, `sequence` explode,
    * `slice` — rows out bounded by ⌈tokens/stride⌉ per doc; the only
    * exchange is the output sort. */
  def docChunks(s: SparkSession, dir: String): DataFrame =
    chunkFrame(s, dir)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ctoks")).as("n_tokens"),
        md5(array_join(col("ctoks"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The (doc_id, chunk_idx, ctoks) chunk frame q245 hashes and q248
    * retrieves over. */
  private[text] def chunkFrame(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0, cast((n + $ChunkStride - 1) div $ChunkStride as int) - 1)")))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(toks, chunk_idx * $ChunkStride + 1, $ChunkTok)").as("ctoks"))

  private def docChunksOracle: String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |t AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
       |c AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx,
       |             toks[CAST(k * $ChunkStride + 1 AS INT) :
       |                  CAST(k * $ChunkStride + $ChunkTok AS INT)] AS ctoks
       |      FROM t, unnest(range(0, (n + $ChunkStride - 1) // $ChunkStride))
       |        u(k))
       |SELECT doc_id, chunk_idx, CAST(len(ctoks) AS INT) AS n_tokens,
       |       md5(array_to_string(ctoks, ' ')) AS chunk_md5
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Cross-document boilerplate chunks (q251): a q245 chunk whose hash
    * appears in ≥2 DISTINCT documents is boilerplate (headers, footers,
    * license blocks, navigation chrome re-crawled across pages) — the
    * chunk-grain twin of q151's line-level rule, at the same granularity
    * a RAG index would serve (so this is also the "don't index the same
    * passage 500×" audit for q248). Per document: chunk count,
    * boilerplate-chunk count, share in basis points.
    *
    * Scale shape: chunks shuffle as md5 hashes, never token arrays; the
    * (hash, doc) pre-distinct rides the hash-keyed shuffle and the mark
    * join is hash-keyed too — frequency-keyed, never pairwise. */
  def boilerplateChunks(s: SparkSession, dir: String): DataFrame = {
    val ch = chunkFrame(s, dir)
      .select(col("doc_id"), md5(array_join(col("ctoks"), " ")).as("h"))
      .ckpt // consumers: the frequency aggregate + the mark join
    val freq = ch.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    ch.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
        expr("n_boiler * 10000 div n_chunks").as("boiler_bp"))
      .orderBy(col("doc_id"))
  }

  private def boilerplateChunksOracle: String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |t0 AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
       |ch AS (SELECT doc_id,
       |              md5(array_to_string(
       |                toks[CAST(k * 48 + 1 AS INT) :
       |                     CAST(k * 48 + 64 AS INT)], ' ')) AS h
       |       FROM t0, unnest(range(0, (n + 47) // 48)) u(k)),
       |freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS ndocs
       |         FROM (SELECT DISTINCT h, doc_id FROM ch) x GROUP BY h)
       |SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |       CAST(SUM(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_boiler,
       |       CAST(SUM(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)
       |            * 10000 // COUNT(*) AS BIGINT) AS boiler_bp
       |FROM ch JOIN freq USING (h)
       |GROUP BY ch.doc_id
       |ORDER BY ch.doc_id""".stripMargin

  /** Quality scoring: length/punctuation/stopword/token-shape signals.
    * Normalization + tokenization are materialized ONCE per row in their
    * own projection; the measures reference the attributes (the inlined
    * form re-ran the regex tokenizer ~12× per row — dominant cost). */
  def qualityScores(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("nt", TextFunctions.normalize(col("text")))
      .withColumn("toks", TextFunctions.tokensOf(col("nt")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatioOf(col("toks")).as("stopword_ratio"),
        TextFunctions.avgTokenLenOf(col("nt"), col("toks")).as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** Gopher quality-rule battery (q158) — the document-level filters of
    * Gopher/MassiveText (Rae et al., arXiv 2112.11446, Table A1) as one
    * declarative map-only pass: token-count bounds, mean-word-length
    * bounds, minimum stopword evidence, and the alphabetic-word
    * fraction. (The line-shaped rules — bullet/ellipsis line fractions —
    * need newline structure this corpus lacks; they slot in beside the
    * others as further conditional sums when the segmenter is line-based,
    * cf. q151.)
    *
    * Every rule is evaluated in INTEGER space (3·n ≤ Σlen ≤ 10·n instead
    * of 3 ≤ Σlen/n ≤ 10; 5·n_alpha ≥ 4·n), so verdicts cannot drift on a
    * division boundary between engines. The alphabetic count is the one
    * HOF (per-token regex) — a rule that genuinely needs per-element
    * matching; everything else stays inside whole-stage codegen via the
    * array_remove occurrence trick. No shuffle anywhere: the battery is
    * a projection, exactly what a 100-TB curation scan wants. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherM(s, dir).orderBy(col("doc_id"))

  /** The gopher battery over the corpus, pinned once per session — the
    * q167 ensemble consumes it beside q158's register. */
  private def gopherM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_gopher") {
      gopherVerdictsOf(Tables.documents(s, dir))
    }

  /** The battery over ANY (doc_id, text) frame — a stateless projection,
    * so it runs unchanged under Structured Streaming (DocStreamSpec
    * asserts stream == batch row for row). */
  def gopherVerdictsOf(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("nt", TextFunctions.normalize(col("text")))
      .withColumn("toks", TextFunctions.tokensOf(col("nt")))
    val n = size(col("toks"))
    val sumLen = when(n > 0, length(col("nt")) - (n - lit(1))).otherwise(lit(0))
    val nStop = TextFunctions.stopwordCountOf(col("toks"))
    val nAlpha = size(filter(col("toks"), t => t.rlike("[a-z]")))
    d.select(col("doc_id"), n.as("n_tokens"), sumLen.as("sum_len"),
        nStop.as("n_stop"), nAlpha.as("n_alpha"))
      .withColumn("r_count",
        (col("n_tokens") >= 30 && col("n_tokens") <= 100000).cast("int"))
      .withColumn("r_wordlen",
        (col("sum_len") >= col("n_tokens") * 3 &&
          col("sum_len") <= col("n_tokens") * 10).cast("int"))
      .withColumn("r_stop", (col("n_stop") >= 2).cast("int"))
      .withColumn("r_alpha", (col("n_alpha") * 5 >= col("n_tokens") * 4).cast("int"))
      .withColumn("keep",
        (col("r_count") === 1 && col("r_wordlen") === 1 &&
          col("r_stop") === 1 && col("r_alpha") === 1).cast("int"))
  }

  private def gopherOracle: String = {
    val stops = TextFunctions.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, $toksSql AS toks, length($norm) AS nchars
       |  FROM documents),
       |m AS (SELECT doc_id,
       |             CAST(len(toks) AS INT) AS n_tokens,
       |             CAST(CASE WHEN len(toks) > 0
       |                  THEN nchars - (len(toks) - 1) ELSE 0 END AS INT)
       |               AS sum_len,
       |             CAST(len(list_filter(toks, t -> t IN ($stops))) AS INT)
       |               AS n_stop,
       |             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
       |                  AS INT) AS n_alpha
       |      FROM d)
       |SELECT doc_id, n_tokens, sum_len, n_stop, n_alpha,
       |       CAST(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000
       |            THEN 1 ELSE 0 END AS INT) AS r_count,
       |       CAST(CASE WHEN sum_len >= n_tokens * 3
       |                  AND sum_len <= n_tokens * 10
       |            THEN 1 ELSE 0 END AS INT) AS r_wordlen,
       |       CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS r_stop,
       |       CAST(CASE WHEN n_alpha * 5 >= n_tokens * 4
       |            THEN 1 ELSE 0 END AS INT) AS r_alpha,
       |       CAST(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000
       |                  AND sum_len >= n_tokens * 3
       |                  AND sum_len <= n_tokens * 10
       |                  AND n_stop >= 2
       |                  AND n_alpha * 5 >= n_tokens * 4
       |            THEN 1 ELSE 0 END AS INT) AS keep
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  /** n-gram novelty scoring (q159) — per document, the fraction of its
    * DISTINCT n-grams that occur in no other document: the corpus-side
    * memorization/freshness audit (a near-zero-novelty doc is
    * assembled from corpus-common text; a near-1.0 doc is genuinely
    * new material — the complement of q94's duplicated-span view,
    * gram-set-based instead of coverage-interval-based).
    *
    * Plan shape: the distinct (doc, gram) frame (bounded by doc length)
    * feeds the gram document-frequency aggregate AND the score join →
    * localCheckpoint; df counts are plain COUNT over the pre-distinct
    * frame (gram-keyed shuffle, map-side partials), and the per-doc
    * rollup is the one doc-keyed aggregate. At 100 TB grams shuffle as
    * 16-byte digests exactly like q94 (string keys here keep the
    * oracle value-checkable). */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    // the distinct shingle set is the pinned shared frame (memo)
    val dg = gram3M(s, dir)
    val df = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
    dg.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_grams").cast("double"), 4)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  private def ngramNoveltyOracle: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |      FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |      WHERE len(t) >= 3),
       |df AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_unique,
       |       round(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
       |             / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
       |FROM g JOIN df USING (g)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic vs the labeled lang column. */
  def langIdPredictions(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("predicted"))
      .orderBy(col("doc_id"))

  /** Language-ID confusion matrix (q173) — the evaluation rollup of the
    * q33 heuristic against the labeled lang column: one (label,
    * predicted) cell per combination with count and per-label recall in
    * integer basis points ((hits·10⁴) div label-total — floor-div,
    * engine-exact). The model-evaluation query every classifier in the
    * curation stack needs; one corpus scan, one tiny aggregate. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pred = Tables.documents(s, dir)
      .select(col("lang"), TextFunctions.langId(col("text")).as("predicted"))
    val cells = pred.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("predicted"), col("n"),
        expr("CASE WHEN lang = predicted THEN n * 10000 div tot " +
          "ELSE 0 END").as("recall_bp"))
      .orderBy(col("lang"), col("predicted"))
  }

  private def langIdConfusionOracle: String = {
    s"""WITH p AS (SELECT lang, $langCaseSql AS predicted FROM documents),
       |c AS (SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2),
       |t AS (SELECT lang, predicted, n,
       |             SUM(n) OVER (PARTITION BY lang) AS tot
       |      FROM c)
       |SELECT lang, predicted, n,
       |       CAST(CASE WHEN lang = predicted THEN n * 10000 // tot
       |            ELSE 0 END AS BIGINT) AS recall_bp
       |FROM t
       |ORDER BY lang, predicted""".stripMargin
  }

  /** Document fingerprinting (md5 of normalized text). */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Deterministic COUNT-CAPPED audit sample: the first `n` documents by
    * (md5(doc_id), doc_id) — a uniform engine-reproducible order with no
    * RNG state. The cap is the point: the quadratic audits below (exact
    * Jaccard pairs, minhash calibration) run over THIS sample, so their
    * pair count is O(n²) for a FIXED n no matter how the corpus grows —
    * a `doc_id % k` modulus is a rate, not a bound, and turns the same
    * audits into corpus-scale cross products at 100×. Spark plans the
    * sort+limit as a distributed partial top-n (TakeOrderedAndProject);
    * the repartition spreads the n docs back across the cluster for the
    * downstream shingle explosion. */
  private def auditSample(docs: DataFrame, n: Int = 200): DataFrame =
    docs.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(n)
      .repartition(col("doc_id"))

  /** The quadratic-audit family's base Jaccard threshold: the pinned
    * pair and component frames are scored at it, and q35/q69/q275/q277
    * report at it (q84 filters the pinned pairs tighter). */
  private final val AuditMinJaccard = 0.3

  /** The matching DuckDB table expression (same order, same cap). */
  private val auditSampleSql =
    "SELECT * FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 200"

  /** Shared CTE chain for the near-dup component closure over the audit
    * sample (q69's oracle body): exact-jaccard edges ≥ [[AuditMinJaccard]] →
    * recursive-CTE reachability; `r(id, reach)` is the closure frame
    * consumers aggregate (component = MIN(reach)). */
  private lazy val nearDupComponentsCtes: String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, $norm AS nt FROM ($auditSampleSql) s0),
       |t AS (SELECT DISTINCT doc_id AS id, tok
       |      FROM (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM d) u),
       |sz AS (SELECT id, COUNT(*) AS n FROM t GROUP BY id),
       |inter AS (SELECT a.id AS id1, b.id AS id2, COUNT(*) AS i
       |          FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
       |          GROUP BY a.id, b.id),
       |e0 AS (SELECT id1, id2 FROM inter
       |       JOIN sz s1 ON id1 = s1.id JOIN sz s2 ON id2 = s2.id
       |       WHERE round(i / CAST(s1.n + s2.n - i AS DOUBLE), 4)
       |             >= $AuditMinJaccard),
       |e AS (SELECT id1 AS src, id2 AS dst FROM e0
       |      UNION SELECT id2, id1 FROM e0),
       |r AS (SELECT doc_id AS id, doc_id AS reach FROM d
       |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src)""".stripMargin

  /** Exact n-gram (token) Jaccard pairs over the capped audit sample —
    * the verifier path; LSH (q36) is the scale path. */
  def jaccardSubset(s: SparkSession, dir: String): DataFrame =
    auditJaccardM(s, dir)
      .orderBy(col("id1"), col("id2"))

  /** Exact linear-interpolation percentiles of document length per
    * language (corpus length-distribution profiling; Spark `percentile`
    * and DuckDB `quantile_cont` share the interpolation rule). Exact
    * percentile needs a per-group sort — at 100 TB switch to
    * `approx_percentile` (t-digest) unless the gate demands exactness. */
  def lengthPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("med_chars"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
        count(lit(1)).as("cnt"))
      .orderBy(col("lang"))

  /** Near-dup clustering: exact-jaccard edges over the capped audit
    * sample → connected components; the component label is the keeper id
    * (min doc in the cluster). Oracle: DuckDB recursive-CTE reachability
    * closure over the same edges. (The PRODUCTION composition at corpus
    * scale is LSH candidates → verify → cluster, q36/q84; this registry
    * form keeps the exact-edge variant oracle-checked on a bounded
    * sample.) */
  def nearDupClusters(s: SparkSession, dir: String,
      minJaccard: Double = AuditMinJaccard): DataFrame = {
    // at the family-wide base threshold the clustering is the pinned
    // shared frame; tighter thresholds (q84's 0.8) filter the pinned
    // PAIR frame on its rounded jaccard — identical values to scoring
    // at the tighter threshold directly — and cluster the (smaller)
    // edge set themselves. Thresholds BELOW the pinned base would
    // silently under-report (the pinned pair frame has no edges under
    // it) — fail loudly instead (ADVICE r19).
    require(minJaccard >= AuditMinJaccard,
      s"nearDupClusters thresholds below the pinned $AuditMinJaccard base " +
        "would drop pairs under it; compute Dedup.jaccardPairs directly " +
        "for looser thresholds")
    val comp =
      if (minJaccard == AuditMinJaccard) auditComponentsM(s, dir)
      else Dedup.connectedComponents(
        auditJaccardM(s, dir).filter(col("jaccard") >= minJaccard)
          .select(col("id1").as("src"), col("id2").as("dst")),
        auditSampleM(s, dir).select(col("doc_id").as("id")))
    comp
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Dup-cluster canonicalization (q275): the KEEP-BEST policy every
    * production dedup actually ships — q69's near-dup components, then
    * one survivor per cluster (longest doc, tie → lowest id) and a
    * redirect map (every member → its canonical id). Downstream
    * consumers filter `is_kept = 1` for the deduped corpus and join the
    * redirect map to re-point references.
    *
    * Scale shape: the clustering is q69's (banded/capped candidates at
    * corpus scale); on top of it this adds ONE component-keyed max_by
    * aggregate (map-side partial argmax — clusters never materialize as
    * lists) and one equi-join of the |clusters|-sized canonical frame
    * back onto members. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    // sample, pairs and clustering are the pinned shared frames (memo;
    // this query is the family's bench owner — its cold time carries
    // their materialization)
    val subset = auditSampleM(s, dir)
    val comps = auditComponentsM(s, dir)
      .select(col("id").as("doc_id"), col("component"))
    val scored = comps.join(subset.select("doc_id", "n_chars"), Seq("doc_id"))
    val canon = scored.groupBy(col("component"))
      .agg(
        max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("canonical_id"),
        count(lit(1)).as("cluster_size"))
    scored.join(canon, Seq("component"))
      .select(col("doc_id"), col("component"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("int").as("is_kept"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source duplication matrix (q277): near-dup pair counts by
    * UNORDERED source pair — the curation dashboard that answers "which
    * feeds are copying which" (within-source pairs sit on the diagonal).
    * Composes the q69 edge set with the doc→source map; pair symmetry
    * canonicalizes via least/greatest on the source names so (a,b) and
    * (b,a) aggregate together.
    *
    * Scale shape: q69's candidate discipline bounds the edge set; on top
    * are two broadcast-able id→source equi-joins and one tiny
    * (|sources|²-grid) aggregate. */
  def crossSourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val subset = auditSampleM(s, dir)
    val edges = auditJaccardM(s, dir)
    val src = subset.select(col("doc_id"), col("source"))
    edges
      .join(src.select(col("doc_id").as("id1"), col("source").as("__s1")),
        Seq("id1"))
      .join(src.select(col("doc_id").as("id2"), col("source").as("__s2")),
        Seq("id2"))
      .groupBy(
        least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        // Σ jaccard as exact 10⁻⁴ integer units (floor(x·10⁴+0.5) on the
        // already-4dp-rounded score): engine-identical, no float-avg
        // rounding boundary between Spark and DuckDB
        sum(floor(col("jaccard") * 10000d + 0.5d).cast("long"))
          .as("jac_mass_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Context-window chunking: overlapping token windows (size 64, stride
    * 48) exploded to one row per chunk — the length-bounding pass before
    * tokenizer/packing in a training pipeline. Pure narrow ops (tokenize →
    * sequence → posexplode → slice): no shuffle until the output sort. */
  def chunkDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(ChunkStride))))
      .select(col("doc_id"),
        col("pos").as("chunk_idx"),
        size(slice(col("toks"), col("col") + 1, lit(ChunkTok))).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("col") + 1, lit(ChunkTok))).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Posting-mass stats for q159's gram family — one arm of the d17
    * pair/posting-mass envelope audit (q295): n_units = docs
    * contributing grams, n_keys = distinct grams, mass = Σ df (the
    * posting mass the gram-keyed shuffle carries), kept = the df = 1
    * grams q159's novelty signal extracts. Shares [[shingleRows]] with
    * the registered query so the audited mass IS the query's mass. */
  private[graft] def ngramPostingStats(s: SparkSession, dir: String): DataFrame = {
    // trigrams, fixed: the oracle twin below hardcodes t[i:i+2]/len>=3 —
    // a parameter here would silently diverge from the SQL. The pinned
    // frame is the one q159 reads, so the q295 rows share its build.
    val dg = gram3M(s, dir)
    val units = dg.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_units"))
    dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_keys"), sum(col("df")).as("mass"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("kept"))
      .crossJoin(broadcast(units))
      .select(lit("q159_ngram_novelty").as("query"), col("n_units"),
        col("n_keys"), col("mass"), lit(null).cast("long").as("cap"),
        col("kept"))
  }

  /** Posting-family envelope rows (d18, verdict r17 task 4): the OTHER
    * superlinear families — q171 sparse-cosine and q194 containment
    * (both bounded by the df-capped gram postings) and q174 winnow
    * fingerprints — get standing audit rows beside q159's. For these
    * pair families `mass` is the GENERATED CANDIDATE-PAIR volume
    * Σ_{df ≤ cap} df·(df−1)/2 through the capped postings (the exact
    * row count each query's self-join materializes — the quantity whose
    * growth the envelope watches), `n_keys` the full pre-cap key space,
    * `kept` the keys surviving the df cap. q171 and q194 share one df
    * frame (tf-per-doc and distinct-per-doc document frequencies are
    * the same count) and one cap ([[GramMaxDf]]), so their rows differ
    * only in name — one row per audited query. */
  private[graft] def postingMassStats(s: SparkSession, dir: String)
      : DataFrame = {
    // gram space (q171/q194): distinct-doc df per trigram
    val dg = gram3M(s, dir)
    val gUnits = dg.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_units"))
    val gStats = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("df") <= GramMaxDf,
          expr("df * (df - 1) div 2")).otherwise(0L)).as("mass"),
        sum(when(col("df") <= GramMaxDf, 1L).otherwise(0L)).as("kept"))
      .crossJoin(broadcast(gUnits))
    def gRow(q: String) = gStats.select(lit(q).as("query"), col("n_units"),
      col("n_keys"), col("mass"), lit(GramMaxDf.toLong).as("cap"), col("kept"))
    // winnow fingerprint space (q174): the SAME pinned frame winnowPairs
    // builds (d19 memo — the audit literally audits the audited frame)
    val fps = winnowFpsM(s, dir)
    val wUnits = fps.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_units"))
    val wRow = fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("df") <= WinnowDfCap,
          expr("df * (df - 1) div 2")).otherwise(0L)).as("mass"),
        sum(when(col("df") <= WinnowDfCap, 1L).otherwise(0L)).as("kept"))
      .crossJoin(broadcast(wUnits))
      .select(lit("q174_winnow_candidates").as("query"), col("n_units"),
        col("n_keys"), col("mass"), lit(WinnowDfCap.toLong).as("cap"),
        col("kept"))
    gRow("q171_sparse_cosine")
      .unionByName(gRow("q194_containment_pairs"))
      .unionByName(wRow)
  }

  /** Oracle twin of [[postingMassStats]] (embed parenthesized). */
  private[graft] val postingMassStatsSql: String = {
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |gg AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |       WHERE len(t) >= 3),
       |gdf AS (SELECT g, COUNT(*) AS df FROM gg GROUP BY g),
       |gs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |              CAST(SUM(CASE WHEN df <= $GramMaxDf
       |                   THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
       |                AS mass,
       |              CAST(SUM(CASE WHEN df <= $GramMaxDf THEN 1 ELSE 0 END)
       |                   AS BIGINT) AS kept,
       |              (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM gg)
       |                AS n_units
       |       FROM gdf),
       |wn AS (SELECT doc_id, $norm AS t FROM documents),
       |wg AS (SELECT doc_id, i AS pos,
       |              substring(md5(substring(t, i, $WinnowK)), 1, 8) AS h
       |       FROM wn, LATERAL unnest(generate_series(1, length(t) - ${WinnowK - 1}))
       |         AS u(i)
       |       WHERE length(t) >= $WinnowK),
       |wgc AS (SELECT doc_id, COUNT(*) AS gcnt FROM wg GROUP BY doc_id),
       |wwins AS (SELECT wg.doc_id, wg.pos - o.off AS win, wg.pos, wg.h
       |          FROM wg JOIN wgc USING (doc_id),
       |               LATERAL unnest(generate_series(0, ${WinnowW - 1})) AS o(off)
       |          WHERE wg.pos - o.off >= 1
       |            AND wg.pos - o.off <= greatest(1, wgc.gcnt - ${WinnowW - 1})),
       |wsel AS (SELECT doc_id, win, pos, h,
       |                ROW_NUMBER() OVER (PARTITION BY doc_id, win
       |                  ORDER BY h, pos DESC) AS rn
       |         FROM wwins),
       |wfpd AS (SELECT DISTINCT doc_id, h FROM wsel WHERE rn = 1),
       |wdf AS (SELECT h, COUNT(*) AS df FROM wfpd GROUP BY h),
       |ws AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |              CAST(SUM(CASE WHEN df <= $WinnowDfCap
       |                   THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
       |                AS mass,
       |              CAST(SUM(CASE WHEN df <= $WinnowDfCap THEN 1 ELSE 0 END)
       |                   AS BIGINT) AS kept,
       |              (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM wfpd)
       |                AS n_units
       |       FROM wdf)
       |SELECT 'q171_sparse_cosine' AS query, n_units, n_keys, mass,
       |       CAST($GramMaxDf AS BIGINT) AS cap, kept FROM gs
       |UNION ALL
       |SELECT 'q194_containment_pairs', n_units, n_keys, mass,
       |       CAST($GramMaxDf AS BIGINT), kept FROM gs
       |UNION ALL
       |SELECT 'q174_winnow_candidates', n_units, n_keys, mass,
       |       CAST($WinnowDfCap AS BIGINT), kept FROM ws""".stripMargin
  }

  /** Oracle twin of [[ngramPostingStats]] (self-contained WITH…SELECT —
    * embed as a parenthesized subquery). */
  private[graft] val ngramPostingStatsSql: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |      FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |      WHERE len(t) >= 3),
       |df AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
       |SELECT 'q159_ngram_novelty' AS query,
       |       (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM g)
       |         AS n_units,
       |       CAST(COUNT(*) AS BIGINT) AS n_keys,
       |       CAST(SUM(df) AS BIGINT) AS mass,
       |       CAST(NULL AS BIGINT) AS cap,
       |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept
       |FROM df""".stripMargin

  /** One row per n-token shingle (doc_id, g): tokenize → explode start
    * indices → slice+join. All narrow codegen'd ops (sequence/slice/
    * concat_ws — no interpreted HOF lambdas); the explosion is bounded by
    * tokens-per-doc, not corpus size. */
  private def shingleRows(docs: DataFrame, n: Int,
      minTokens: Option[Int] = None): DataFrame =
    shingleRowsOf(
      docs.withColumn("toks", TextFunctions.tokens(col("text"))),
      n, minTokens)

  // ---------------------------------------------------------------------
  // d19 OPTIMIZATION ROUND: session-memoized shared frames (guide §1.2
  // step 1 — don't recompute work another query in the same session
  // already did; the verdict-r18 item-2 "train once, serve many"
  // treatment extended to the text-dedup infrastructure). Each pass is
  // deterministic per (session, canonical dir); ChainCache pins it via
  // Ckpt and Bench reports the OWNING query's cold first-in-session time
  // (consumers are disclosed in the bench artifact's memo_consumers).
  // Oracles are NOT weakened: every consumer still hash-gates its own
  // output against DuckDB, which recomputes everything from scratch.
  // ---------------------------------------------------------------------

  /** Distinct 3-gram shingles WITH term frequency — the (doc_id, g, tf)
    * frame that is the root of the whole near-dup family. `tf` rides
    * along because q171 needs multiplicities; the distinct shingle set
    * every other consumer wants is the (doc_id, g) projection. */
  private def gram3TfM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_gram3_tf", "n=3") {
      shingleRows(Tables.documents(s, dir), 3)
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    }

  /** The distinct (doc_id, g) 3-shingle set — a projection of the pinned
    * tf frame (no extra shuffle: (doc_id, g) is the aggregate key). */
  private[graft] def gram3M(s: SparkSession, dir: String): DataFrame =
    gram3TfM(s, dir).select(col("doc_id"), col("g"))

  /** The per-doc 8-slice minhash signature frame — the persistable LSH
    * index core (q249's docstring). Built from the DISTINCT shingle set;
    * per-doc minima are duplicate-insensitive, so consumers that used to
    * hash the multiset get identical values. */
  private def minhashMinsM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_minhash_mins", "k8,md5x4") {
      minhashMinsOf(gram3M(s, dir))
    }

  /** Verified near-dup edge set (id1 < id2) at the production minJ=0.5 —
    * LSH candidates from the pinned signature frame, exact shingle-
    * Jaccard confirmed against the pinned shingle frame. */
  private def verifiedEdgesM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_verified_edges", s"minJ=$VerifiedMinJ") {
      verifiedNearDupEdges(s, dir)
    }

  /** The (doc_id, component) near-dup clustering over the verified
    * edges — q131's output frame, shared verbatim by q164/q172/q267. */
  private[graft] def dedupComponentsM(s: SparkSession,
      dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_dedup_components",
        s"minJ=$VerifiedMinJ") {
      Dedup.connectedComponents(
        verifiedEdgesM(s, dir)
          .select(col("id1").as("src"), col("id2").as("dst")),
        Tables.documents(s, dir).select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("component"))
    }

  /** Count-capped audit sample, pinned once per session — feeds the
    * whole quadratic-audit family (q35/q69/q84/q275/q277/q279). */
  private def auditSampleM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_audit_sample", "n=200") {
      auditSample(Tables.documents(s, dir))
    }

  /** Exact token-Jaccard pairs (with the jaccard column) over the audit
    * sample at the family-wide base threshold; tighter thresholds
    * (q84's 0.8) are filters on the rounded score — identical values to
    * running jaccardPairs at the tighter threshold directly. */
  private def auditJaccardM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_audit_jaccard",
        s"minJ=$AuditMinJaccard") {
      Dedup.jaccardPairs(auditSampleM(s, dir), "doc_id", "text",
        minJaccard = AuditMinJaccard)
    }

  /** q174's winnowing parameters: gram length in normalized chars and
    * window width in grams. */
  private final val WinnowK = 16
  private final val WinnowW = 6

  /** q174's pairing rules: the fingerprint document-frequency cap (also
    * the cap q295's winnow audit row reports), the minimum shared
    * fingerprints and the minimum overlap against the smaller sketch. */
  private final val WinnowDfCap = 20
  private final val WinnowMinShared = 3
  private final val WinnowMinOverlap = 0.2

  /** The distinct (doc_id, winnow-hash) fingerprint frame. Shared by
    * q174's pairing and q295's winnow audit arm. */
  private def winnowFpsM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_winnow_fps",
        s"k=$WinnowK,w=$WinnowW") {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.WinnowExpr.winnowOf(
            TextFunctions.normalize(col("text")), WinnowK, WinnowW)).as("f"))
        .select(col("doc_id"), col("f.h").as("h"))
        .distinct()
    }

  /** Connected components over the base-threshold audit edges — the
    * (id, component) frame q69 and q275 both derive. */
  private def auditComponentsM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_audit_components",
        s"minJ=$AuditMinJaccard") {
      Dedup.connectedComponents(
        auditJaccardM(s, dir)
          .select(col("id1").as("src"), col("id2").as("dst")),
        auditSampleM(s, dir).select(col("doc_id").as("id")))
    }

  /** Shingles over an ALREADY-TOKENIZED (doc_id, toks) frame — the ONE
    * shingle expression tree; `shingleRows` and the curation pipeline
    * both delegate here so their shingling can never diverge. */
  private def shingleRowsOf(toks: DataFrame, n: Int,
      minTokens: Option[Int] = None): DataFrame =
    toks
      .filter(size(col("toks")) >= minTokens.getOrElse(n))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1), lit(1))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(n))).as("g"))

  /** The shingle length q86 and q108 match against the benchmark set. */
  private final val ContaminationN = 4

  /** Benchmark decontamination: flag corpus documents sharing any n-token
    * shingle with the benchmark set (here: doc_id < 5, standing in for an
    * eval set), with the count of distinct overlapping shingles. The
    * benchmark side is tiny by definition → its distinct shingles
    * broadcast, so the corpus side is ONE narrow scan + explode with no
    * shuffle before the per-doc count. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleRows(Tables.documents(s, dir), ContaminationN)
    val bench = sh.filter(col("doc_id") < 5).select(col("g")).distinct()
    sh.filter(col("doc_id") >= 5)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination with BLOOM-FILTER scan pruning — q86's semantics
    * through the runtime-filter shape Spark itself uses for big joins
    * (`functions.BloomFns`). The benchmark shingle set is aggregated into
    * a ~10-bits/key sketch; the corpus side probes the sketch INSIDE the
    * scan stage (codegen'd `might_contain`, no shuffle), so only rows
    * that probably match reach the exact join. False positives are
    * eliminated by that exact join — results are IDENTICAL to q86's
    * unpruned plan (same oracle), only the row volume entering the
    * shuffle changes.
    *
    * At 100 TB this is the decontamination shape that survives a
    * benchmark set too large to broadcast as a hash relation: GBs of
    * eval-set shingle strings compress to an O(MB) bloom that ships to
    * every executor as a literal, exactly like `InjectRuntimeFilter`'s
    * scalar-subquery bloom. The two driver actions (count + sketch
    * collect) move kilobytes — the sketch, never data rows. */
  def contaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleRows(Tables.documents(s, dir), ContaminationN)
    // the bench shingle set is read three times (count, sketch build,
    // exact-join side) — materialize it ONCE; it is eval-set-sized by
    // definition. The doc_id < 5 filter pushes to the scan, so this pass
    // shingles 5 documents, not the corpus.
    val bench = sh.filter(col("doc_id") < 5).select(col("g")).distinct()
      .ckpt
    val nKeys = math.max(bench.count(), 1L)
    val probe = graft.functions.BloomFns.buildProbe(bench, "g", nKeys)
    sh.filter(col("doc_id") >= 5)
      .filter(probe(col("g")))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition filters: per-document top-bigram fraction and
    * duplicate-trigram fraction, plus the keep flag (top-bigram ≤ 0.2 AND
    * dup-trigram ≤ 0.1 — the published rule-of-thumb thresholds). Two
    * shuffles keyed on doc_id(+gram); partial aggregation keeps the
    * per-gram counts map-side. */
  def repetitionScores(s: SparkSession, dir: String): DataFrame = {
    // one shingle pipeline for the whole file (contamination, minhash,
    // and these filters shingle identically); minTokens = 3 keeps the
    // bigram and trigram paths over the SAME document set
    def grams(n: Int) = shingleRows(Tables.documents(s, dir), n, minTokens = Some(3))
    val bi = grams(2)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
    // NOT count_distinct(g) + count(*): mixing distinct and plain
    // aggregates plans an Expand (doubles every gram row through the
    // shuffle). Two chained plain aggregates get both measures from the
    // per-(doc, gram) counts with map-side partials and no expansion.
    val tri = grams(3)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("d"), sum(col("c3")).as("tot3"))
    val top = round(col("mx") / col("tot").cast("double"), 4)
    val dup = round(lit(1.0) - col("d") / col("tot3").cast("double"), 4)
    bi.join(tri, "doc_id")
      .select(col("doc_id"), top.as("top_bigram_frac"), dup.as("dup_trigram_frac"),
        (top <= 0.2 && dup <= 0.1).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The END-TO-END corpus-curation pipeline — every per-document gate of
    * a C4/Gopher-style training-data filter composed into ONE query:
    * language-ID (target 'en'), quality (stopword ratio + length),
    * repetition (top-bigram / duplicate-trigram), benchmark
    * decontamination (4-gram overlap with the eval set = docs 0-4, which
    * are themselves excluded), and exact-dup keeper selection. Output is
    * one row per document with each gate's verdict and the final keep
    * flag — the lineage a curation run must log per document.
    *
    * Every signal reuses the already-oracle-checked building block
    * (q33/q32/q87/q86/q30), so the composition itself is value-checked.
    * Scale shape: the flat signals are ONE narrow scan; bigram/trigram/
    * shingle measures shuffle on doc_id(+gram) with map-side partials;
    * the bench side broadcasts; keeper selection is one fingerprint
    * aggregate. All thresholds compare 4dp-ROUNDED ratios computed
    * identically in both engines. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame =
    // shared verbatim by q109 (the register) and q143 (the capstone
    // composes it) — pinned once per session (memo)
    graft.etl.ChainCache.memo(s, dir, "txt_curation_pipeline") {
      curationPipelineImpl(s, dir)
    }

  private def curationPipelineImpl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // tokenize ONCE: the (doc_id, toks) frame feeds the flat signals and
    // all three n-gram measures (bigram, trigram, 4-gram shingles) —
    // without it each measure re-runs normalize+split over the corpus.
    // (Cluster pipeline: persist the tokenized frame between stages.)
    val toks = docs
      .withColumn("nt", TextFunctions.normalize(col("text")))
      .select(col("doc_id"), col("nt"), TextFunctions.tokensOf(col("nt")).as("toks"))
      .ckpt
    val base = toks.select(col("doc_id"),
      size(col("toks")).as("n_tokens"),
      TextFunctions.stopwordRatioOf(col("toks")).as("sw"),
      graft.functions.LangIdExpr.langIdOfTokens(col("toks"),
        TextFunctions.LangMarkers).as("pred"),
      md5(col("nt")).as("fp"))
    def grams(m: Int, minTokens: Int) =
      shingleRowsOf(toks, m, Some(minTokens))
    val bi = grams(2, 3)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
    val tri = grams(3, 3)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c3"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("d"), sum(col("c3")).as("tot3"))
    val sh = grams(4, 4)
    val bench = sh.filter(col("doc_id") < 5).select(col("g")).distinct()
    val contaminated = sh.filter(col("doc_id") >= 5)
      .join(broadcast(bench), Seq("g"))
      .select(col("doc_id")).distinct()
      .withColumn("__cont", lit(1))
    val keepers = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    val top = round(col("mx") / col("tot").cast("double"), 4)
    val dup = round(lit(1.0) - col("d") / col("tot3").cast("double"), 4)
    base
      .join(bi, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(keepers, Seq("fp"))
      .select(col("doc_id"),
        (col("pred") === "en").cast("int").as("lang_ok"),
        (coalesce(col("sw"), lit(0.0)) >= 0.05 && col("n_tokens") >= 20)
          .cast("int").as("quality_ok"),
        // docs too short to measure (no trigram rows) pass the repetition
        // gate — the length gate already rejects them
        (coalesce(top, lit(0.0)) <= 0.2 && coalesce(dup, lit(0.0)) <= 0.1)
          .cast("int").as("repetition_ok"),
        (col("doc_id") >= 5 && col("__cont").isNull).cast("int").as("not_contaminated"),
        (col("doc_id") === col("keeper")).cast("int").as("is_keeper"))
      .withColumn("keep",
        (col("lang_ok") === 1 && col("quality_ok") === 1 &&
          col("repetition_ok") === 1 && col("not_contaminated") === 1 &&
          col("is_keeper") === 1).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** MinHash + LSH banding with an ENGINE-NEUTRAL hash (md5 over
    * "perm|shingle", lexicographic string minima): structurally identical
    * to the xxhash64-based `Dedup.minhashCandidates` scale path (q36 —
    * whose hash no SQL engine reproduces, hence its rows-only check), but
    * every stage here restates in DuckDB SQL, so the banding logic itself
    * is value-level oracle-checked end to end. 8 permutations × 2 bands
    * of 4 rows; candidates = distinct same-bucket pairs. ONE md5 per
    * shingle covers all 8 permutations (16-bit digest slices), so the
    * portable hash costs a single digest pass — still ~2× a custom
    * one-pass signature; use the custom expression in production and
    * THIS query as its cross-engine verification harness. */
  def minhashBandingPortable(s: SparkSession, dir: String): DataFrame =
    // the signature frame is the pinned shared minhash index (memo) —
    // built from DISTINCT shingles, identical minima to the multiset
    bandedCandidatesOfMins(minhashMinsM(s, dir))
      .orderBy(col("id1"), col("id2"))

  /** The banded candidate generator over an arbitrary document frame —
    * shared by q90 (whole corpus) and the q279 banding audit (the
    * bounded sample), so the audited pipeline IS the gated one. */
  private def portableBandedCandidates(docs: DataFrame): DataFrame = {
    // no shingle-dedup pass: MIN is duplicate-insensitive, so the oracle's
    // DISTINCT shingles and this multiset agree — one shuffle saved.
    // The 8 permutation hashes are COLUMNS of one projection (not an
    // exploded ×8 row blowup), so the single doc_id shuffle carries
    // shingle-count rows and the minima combine map-side.
    // ONE md5 call per shingle, sliced into eight 4-hex (16-bit)
    // permutation columns — the one-permutation-hashing trick:
    // fixed-width hex substrings compare lexicographically like the
    // numbers they encode, so each slice's min is a valid minhash.
    // (16-bit slices collide more than 32-bit ones — harmless here: more
    // shared minima only make the banding slightly more permissive, and
    // the oracle restates the identical slices.)
    bandedCandidatesOfMins(minhashMinsOf(shingleRows(docs, 3)))
  }

  /** The 2-band × 4-slice candidate join over any 8-slice signature
    * frame (q90 passes the pinned corpus index; q279 its sample). */
  private def bandedCandidatesOfMins(mins: DataFrame): DataFrame = {
    def bucketOf(js: Range) = md5(concat_ws(",", js.map(j => col(s"m$j")): _*))
    val buckets = mins.select(col("doc_id"), explode(array(
        struct(lit(0).as("band"), bucketOf(0 to 3).as("bucket")),
        struct(lit(1).as("band"), bucketOf(4 to 7).as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val a = buckets.select(col("doc_id").as("id1"), col("band"), col("bucket"))
    val b = buckets.select(col("doc_id").as("id2"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** LSH banding audit (q279): the MEASURED recall curve of the banded
    * minhash candidate generator against EXACT shingle Jaccard — all
    * 19,900 pairs of the 200-doc audit sample, bucketed by jaccard
    * decile × candidate flag. Banding theory says P(candidate) =
    * 1−(1−j^r)^b for b bands of r rows; this prints the S-curve the
    * PRODUCTION banding (q90's generator, same code path) actually
    * realizes — including what theory ignores: the 16-bit slice
    * collisions that make low-jaccard pairs candidates, and the
    * high-jaccard pairs the two-band split misses. The "measure, don't
    * guess" harness for choosing (bands, rows) before a 100-TB dedup
    * run: re-run it per corpus, read the bin-9 miss count.
    *
    * Scale shape: pair mass is |sample|² — corpus-size-independent by
    * the audit cap (the q69/q99 discipline); exact jaccard and
    * candidates both derive from the ONE pinned sample frame, and the
    * pair grid is a bounded broadcast (≤200-row build, PlanAudit-
    * provable via the post-ckpt limit annotation). */
  def lshBandingAudit(s: SparkSession, dir: String): DataFrame = {
    // the sample feeds three arms (grid, exact jaccard, candidates) —
    // it is the pinned shared frame (memo); the limit(200) restores the
    // maxRows bound the checkpoint erases
    val sample = auditSampleM(s, dir)
    val ids = sample.select(col("doc_id")).limit(200)
    val grid = ids.select(col("doc_id").as("id1"))
      .crossJoin(broadcast(ids.select(col("doc_id").as("id2"))))
      .filter(col("id1") < col("id2"))
    // exact jaccard over DISTINCT 3-shingles (what the minhash estimates)
    val t = shingleRows(sample, 3).select(col("doc_id"), col("g")).distinct()
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = t.select(col("doc_id").as("id1"), col("g"))
      .join(t.select(col("doc_id").as("id2"), col("g")), Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
    val cands = portableBandedCandidates(sample).withColumn("is_cand", lit(1))
    grid
      .join(inter, Seq("id1", "id2"), "left")
      .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"), "left")
      .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"), "left")
      .join(cands, Seq("id1", "id2"), "left")
      .withColumn("i0", coalesce(col("i"), lit(0L)))
      .withColumn("u",
        coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)) - col("i0"))
      // docs too short to shingle have an empty set: jaccard 0 by
      // convention (they are equally invisible to the minhash side)
      .withColumn("j", when(col("u") <= 0, lit(0.0))
        .otherwise(round(col("i0").cast("double") / col("u"), 4)))
      .withColumn("bin", least(floor(col("j") * 10), lit(9)).cast("int"))
      .withColumn("cand", coalesce(col("is_cand"), lit(0)))
      .groupBy(col("bin"), col("cand"))
      .agg(count(lit(1)).as("n_pairs"),
        // Σ jaccard as exact 10⁻⁴ integer units (the q277 discipline)
        sum(floor(col("j") * 10000d + 0.5d).cast("long")).as("j_mass"))
      .orderBy(col("bin"), col("cand"))
  }

  /** SimHash with an ENGINE-NEUTRAL hash (md5 hex digits as the per-token
    * bit source): the cross-engine verification twin of q37's
    * `SimHashExpr` custom expression — same bit-majority logic (per bit:
    * Σ over the token MULTISET of ±1 by the token-hash bit; sign of the
    * sum is the signature bit), but every stage restates in DuckDB SQL,
    * so the simhash algorithm itself is value-level oracle-checked.
    *
    * The 32 bits come from the first 8 hex digits of md5(token): digit j,
    * bit k = floor(digit_j / 2^k) % 2 — pure strpos/ascii/floor
    * arithmetic both engines share. Plan shape: one narrow explode pass
    * (token rows), ONE doc_id hash aggregate carrying 32 long counters
    * with map-side partials, then a projection to the bit string. The
    * production path stays q37 (one JIT-compiled pass per row, no
    * explode); use THIS query to cross-check its logic. */
  def simhashPortable(s: SparkSession, dir: String): DataFrame =
    simhashPortableSigs(s, dir).orderBy(col("doc_id"))

  /** The portable signature frame (doc_id, simhash bit string) — shared
    * by q106 (signatures) and q37 (banded near-dup candidates). */
  private def simhashPortableSigs(s: SparkSession, dir: String): DataFrame = {
    val tokRows = Tables.documents(s, dir)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("hex", md5(col("tok")))
    // digit value of hex char j (0-indexed): ascii-based, no conv()
    def digit(j: Int) = {
      val a = ascii(substring(col("hex"), j + 1, 1))
      when(a <= 57, a - 48).otherwise(a - 87)
    }
    val sums = (0 to 7).flatMap { j =>
      (0 to 3).map { k =>
        val bit = floor(digit(j) / lit(math.pow(2, k))) % 2
        sum(when(bit === 1, 1).otherwise(-1)).as(s"b${j * 4 + k}")
      }
    }
    val agg = tokRows.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    val sig = concat((0 to 31).map(i =>
      when(col(s"b$i") > 0, "1").otherwise("0")): _*)
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SQL fragments of the portable simhash — shared by the q106 and q37
    * oracles so the two restatements can never drift apart. */
  private def simhashSumsSql: String = {
    val digitSql = (j: Int) =>
      s"(CASE WHEN ascii(substr(hex, ${j + 1}, 1)) <= 57 " +
        s"THEN ascii(substr(hex, ${j + 1}, 1)) - 48 " +
        s"ELSE ascii(substr(hex, ${j + 1}, 1)) - 87 END)"
    (0 to 7).flatMap { j =>
      (0 to 3).map { k =>
        val p = math.pow(2, k).toInt
        s"SUM(CASE WHEN floor(${digitSql(j)} / $p.0) % 2 = 1 THEN 1 ELSE -1 END) AS b${j * 4 + k}"
      }
    }.mkString(",\n    ")
  }

  private def simhashSigSql: String =
    (0 to 31).map(i => s"CASE WHEN b$i > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")

  private def simhashPortableOracle: String = {
    val sums = simhashSumsSql
    val sig = simhashSigSql
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id, md5(tok) AS hex FROM toks
       |), sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM hashed GROUP BY doc_id
       |)
       |SELECT doc_id, $sig AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  private final val PackBudget = 512
  private final val PackShardSize = 1000L
  /** Sequence-packing index: assign each document a (bin, offset) position
    * in the concatenation of all token streams in doc_id order, bins of
    * `PackBudget` tokens — the index a packed-pretraining dataset uses to
    * slice batches out of the corpus.
    *
    * The global running sum is computed WITHOUT a global sort/single
    * partition (the naive `Window.orderBy(doc_id)` collapses the corpus
    * to one task): two-pass sharded prefix sum — (1) per-shard cumulative
    * sums under a shard-partitioned window, (2) shard totals (one tiny
    * row per shard) get their own exclusive prefix and broadcast back as
    * each shard's base offset. Arithmetic is all-integer, so the result
    * is bit-identical to the single-window form and to the SQL oracle. */
  def packTokens(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        (col("doc_id") / PackShardSize).cast("long").as("shard"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wShard = org.apache.spark.sql.expressions.Window
      .orderBy(col("shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // shard totals: |shards| rows — the only single-partition window input
    val offsets = t.groupBy(col("shard")).agg(sum(col("n_tokens")).as("tot"))
      .select(col("shard").as("shard_o"),
        coalesce(sum(col("tot")).over(wShard), lit(0L)).as("base"))
    val pre = coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("base")
    t.join(broadcast(offsets), col("shard") === col("shard_o"))
      .withColumn("__pre", pre)
      // `div`, not `/`: Column `/` divides in DOUBLE and truncates back,
      // exact only below 2^53 — integer division holds at any prefix sum
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__pre div $PackBudget").as("bin"),
        (col("__pre") % PackBudget).as("off"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified sampling: per-language keep rates applied by
    * thresholding a uniform hash of the doc id (md5 — identical bytes in
    * any engine, so the sample is reproducible across runs, engines and
    * cluster sizes; no RNG state). The dataset-mixture curation op. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int")
    val threshold = typedLit(Map(
      "en" -> 32768, "de" -> 65536, "fr" -> 16384, "es" -> 6554))
    Tables.documents(s, dir)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < coalesce(
        element_at(threshold, col("lang")), lit(3277)))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split (q126): every dataset release
    * assigns each document to exactly one split by thresholding a
    * uniform content-independent hash of its id — reproducible across
    * runs, engines and cluster sizes, stable under re-partitioning, and
    * immune to the classic leakage bug of RNG-based splits re-rolled per
    * job. 90/5/5 on the 16-bit md5 bucket (the q71 idiom); output is the
    * per-source × split doc and token accounting a release manifest
    * records. One scan + one small aggregate. */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split", splitOf(col("doc_id")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy(col("source"), col("split"))

  /** The q126 split rule as a column: 90/5/5 thresholds on the 16-bit
    * md5 bucket of the id (shared by q126 and the q145 leakage audit —
    * the audit MUST use the release's own assignment rule). */
  private def splitOf(id: Column): Column = {
    val bucket =
      conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int")
    when(bucket < (65536 * 90 / 100), "train")
      .when(bucket < (65536 * 95 / 100), "val")
      .otherwise("test")
  }

  /** DuckDB restatement of `splitOf` over a doc_id column. */
  private val splitCaseSql: String =
    s"""CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
       |          < ${65536 * 90 / 100} THEN 'train'
       |     WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
       |          < ${65536 * 95 / 100} THEN 'val'
       |     ELSE 'test' END""".stripMargin

  private def splitAssignOracle: String =
    s"""WITH d AS (
       |  SELECT source,
       |         $splitCaseSql AS split,
       |         CAST(CASE WHEN length($norm) = 0 THEN 0
       |                   ELSE len($toksSql) END AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT source, split, COUNT(*) AS docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS tokens
       |FROM d
       |GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  /** Token-budget data mixing — the pretraining-mix pass: given per-source
    * target WEIGHTS and a global token budget (a fraction of the corpus),
    * sample each source at rate min(1, budget·share / available) with the
    * deterministic md5-threshold rule (q71), so over-represented sources
    * downsample toward their target share and under-represented ones keep
    * everything (the clamp). Weights derive from the source name (src<i>
    * ⇒ i+1), normalized over the sources actually present — no hardcoded
    * source census.
    *
    * Scale shape: per-source token mass is one aggregate (map-side
    * partials); the rate table is |sources| rows and broadcasts; the
    * sampling pass is a narrow scan filter. All rate arithmetic is the
    * same IEEE expression tree in both engines, floored to an integer
    * threshold before the comparison. */
  def tokenMix(s: SparkSession, dir: String): DataFrame =
    budgetMix(s, dir, expr("cast(substring(source, 4) as int)") + 1)

  private final val MixBudgetFrac = 0.5
  /** The budget-mix pass q113 and q180 share: per-doc token counts (pinned
    * — they feed both the rate subtree and the sampling join), per-source
    * totals `toks_s` with the source weight `w` (a column over `source`
    * and `toks_s`), keep rate min(1, MixBudgetFrac·total·(w/Σw) / toks_s)
    * per source, and the md5-bucket keep rule. */
  private def budgetMix(s: SparkSession, dir: String, weight: Column): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
      .ckpt
    val bySrc = d.groupBy(col("source")).agg(sum(col("nt")).as("toks_s"))
      .withColumn("w", weight)
    val tot = bySrc.agg(sum(col("toks_s")).as("total"), sum(col("w")).as("sumw"))
    val rate = least(lit(1.0),
      (lit(MixBudgetFrac) * col("total") *
        (col("w").cast("double") / col("sumw").cast("double"))) /
        col("toks_s").cast("double"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("thr", floor(rate * 65536).cast("int"))
      .select(col("source"), col("thr"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int")
    d.join(broadcast(rates), Seq("source"))
      .filter(bucket < col("thr"))
      .groupBy(col("source"), col("thr"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("nt")).as("tokens_kept"))
      .orderBy(col("source"))
  }

  /** Whitespace vs BPE-ish subword token counts per document (the
    * pre-tokenizer comparison a vocab-budget analysis runs). */
  def subwordCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        size(TextFunctions.subwordTokens(col("text"))).as("n_subtokens"))
      .withColumn("ratio", round(col("n_subtokens").cast("double") /
        nullif(col("n_tokens"), lit(0)).cast("double"), 4))
      .orderBy(col("doc_id"))

  private final val VocabTopK = 100
  /** Vocabulary building: global token frequencies, top-100 (the vocab /
    * BPE-prep pass). Explode + hash aggregate with map-side partial
    * counts; top-k is a k-row merge, not a global sort. */
  def vocabTopK(s: SparkSession, dir: String, k: Int = VocabTopK): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  /** Near-dup dedup APPLIED: keep only the keeper document per cluster
    * (component label == own id) — the detect → cluster → drop pipeline
    * end-to-end. Threshold 0.8: this corpus shares a tiny vocabulary, so
    * lower cut-offs connect the whole subset into one component. */
  def nearDupKeepers(s: SparkSession, dir: String): DataFrame =
    nearDupClusters(s, dir, minJaccard = 0.8)
      .filter(col("doc_id") === col("component"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  private final val SpanDedupN = 5
  /** Cross-document duplicated-SPAN dedup stats — the line-level dedup pass
    * of web-corpus curation (RefinedWeb drops duplicated lines; C4 drops
    * repeated three-sentence spans). This corpus has no newlines, so
    * fixed-width n-token spans stand in for lines; the pipeline shape is
    * identical. A span is "duplicated" when it appears verbatim in ≥2
    * documents; a document's dup-token count is the number of token
    * POSITIONS covered by at least one duplicated span.
    *
    * Scale shape: spans are a bounded per-doc explosion (~1 row per
    * token); the duplicated-gram set needs ONE hash aggregation keyed by
    * gram (min≠max of doc_id — no distinct expansion), covered tokens are
    * an interval-union window per doc — every shuffle is keyed by gram or
    * doc_id, no global sort, no
    * driver state. At 100 TB the gram→min/max aggregate is the big shuffle;
    * grams shuffle as a 16-byte md5 digest (unhex(md5) binary — not the
    * ~40-byte gram string, which is dropped before any exchange, and not
    * a 64-bit hash: at design scale ~1e13 distinct 5-grams put the
    * 64-bit birthday bound at n²/2⁶⁵ ≈ 2.7M colliding gram PAIRS, each
    * able to falsely mark its spans as cross-doc duplicates. That error
    * was only ~1e-7 of the corpus, but doubling the key width makes the
    * bound n²/2¹²⁹ ≈ 1e-13 expected collisions — exact parity at ANY
    * feasible corpus size for one extra 8-byte word per shuffle row
    * (xxhash64 remains the right trade when an approximate dup_frac is
    * acceptable). The final join prunes to dup grams only (a small
    * fraction of all grams in real corpora). */
  def spanDedupStats(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    // spans feeds BOTH the dup-gram aggregate and the coverage join —
    // materialize it once (localCheckpoint) or the tokenize+explode+hash
    // pass runs twice. Rows are (doc_id, i, gh): ~24 bytes per token
    // position, the frame a cluster pipeline would persist to storage
    // between the two stages.
    val spans = toks
      .filter(size(col("toks")) >= SpanDedupN)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (SpanDedupN - 1), lit(1))).as("i"))
      .select(col("doc_id"), col("i"),
        unhex(md5(concat_ws(" ", slice(col("toks"), col("i"), lit(SpanDedupN))))).as("gh"))
      .ckpt
    // "in ≥2 docs" as min(doc)≠max(doc): ONE plain aggregate with map-side
    // partials, instead of count_distinct's two-round expansion (measured
    // ~0.3s cheaper at sf0.1, and one less shuffle at any scale)
    val dupGrams = spans
      .groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"))
    // covered tokens = union length of the duplicated spans' [i, i+n-1]
    // intervals, per doc: sort spans by start within each doc and sum each
    // span's extension past the running max end (gaps-and-islands).
    // Replaces explode(n positions per span) + global (doc,pos) distinct +
    // count — three corpus-×n-sized shuffles — with ONE doc_id shuffle and
    // a per-doc sort; spans per doc are bounded by doc length, so no
    // partition outgrows a document
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = spans.join(dupGrams, Seq("gh"))
      .select(col("doc_id"), col("i"), (col("i") + (SpanDedupN - 1)).as("e"))
      .withColumn("pmax", max(col("e")).over(wPrev))
      .select(col("doc_id"), greatest(lit(0L),
        col("e") - greatest(coalesce(col("pmax"), col("i") - 1), col("i") - 1)).as("cov"))
      .groupBy(col("doc_id")).agg(sum(col("cov")).as("n_dup_tokens"))
    toks.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
          nullif(col("n_tokens"), lit(0)).cast("double"), 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  private final val BoilerplateW = 3
  private final val BoilerplateMinDf = 3
  /** Boilerplate-segment removal (q151) — the C4/CCNet "line appears in
    * ≥N documents" cleaning rule (C4 drops any line occurring ≥3 times in
    * the corpus) re-expressed over fixed-width token segments, since this
    * corpus has no newline structure; on real web text the segmenter
    * swaps to split-on-'\n' and everything downstream is unchanged.
    *
    * Distinct from q94 span dedup: spans find PAIRWISE duplicated grams
    * (overlapping windows, any 2 docs); boilerplate is a CORPUS-FREQUENCY
    * verdict on non-overlapping segments — the "© 2024 · all rights
    * reserved · cookie notice" filter, applied before dedup in a curation
    * stack.
    *
    * Plan shape (corpus-bounded shuffles only, never all-pairs):
    * segment rows → (1) distinct (seg, doc) pre-aggregate then a plain
    * per-seg count — exact distinct-DOC frequency (a doc can repeat a
    * segment) without count_distinct's two-round Expand, both rounds
    * riding the same seg-keyed shuffle → (2) seg-keyed left join marking
    * each occurrence against the ≥minDf survivors → (3) per-doc aggregate
    * reassembling the kept text in seg_idx order (sort_array over
    * collect_list — bounded by doc length). The segment frame feeds the
    * df aggregate AND the mark join, so it materializes once
    * (localCheckpoint — the q36/q94 multi-consumer pattern). At 100 TB
    * the df aggregate would key on a 16-byte digest like q94 and persist
    * the boilerplate set as a table; the string key here keeps the oracle
    * value-checkable. */
  def boilerplateStats(s: SparkSession, dir: String): DataFrame =
    boilerplateOf(Tables.documents(s, dir), BoilerplateW, BoilerplateMinDf)

  /** The boilerplate pass over ANY (doc_id, text) frame (EdgeCaseSpec
    * drives the all-boiler and no-boiler corners through this). */
  private[graft] def boilerplateOf(docs: DataFrame, w: Int,
      minDf: Int): DataFrame = {
    val segs = docs
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(w))))
      .select(col("doc_id"), col("pos").cast("int").as("seg_idx"),
        concat_ws(" ", slice(col("toks"), col("col") + 1, lit(w))).as("seg"),
        size(slice(col("toks"), col("col") + 1, lit(w))).as("seg_len"))
      .ckpt
    val boiler = segs
      .select(col("seg"), col("doc_id")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("seg"), lit(true).as("is_boiler"))
    val marked = segs.join(boiler, Seq("seg"), "left")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
    marked.groupBy(col("doc_id")).agg(
        count(lit(1)).cast("int").as("n_segs"),
        sum(when(col("is_boiler"), 1).otherwise(0)).cast("int").as("n_boiler"),
        sum(when(col("is_boiler"), 0).otherwise(col("seg_len")))
          .cast("int").as("n_tokens_kept"),
        md5(concat_ws(" ", transform(
          sort_array(collect_list(
            when(!col("is_boiler"), struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")))).as("clean_hash"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic per-source quota balancing ("domain mix"): every source
    * contributes exactly min-source-count documents, chosen by ranking each
    * source's docs on md5(id) — a reproducible uniform order with no RNG
    * state, so the mix is identical across engines, runs and cluster
    * sizes.
    *
    * The exact quota costs a per-source ROW_NUMBER (shuffle by source +
    * per-group sort). At 100 TB with few giant sources that sort is the
    * bottleneck AND the partition-per-source skews — the approximate scale
    * path is q71's md5-THRESHOLD sampling at rate quota/count (pure scan,
    * no sort), accepting ±√n quota jitter. */
  def sourceMixSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val quota = d.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("quota"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(quota))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("doc_id"))
  }

  private final val TfidfK = 5
  /** TF-IDF top-k terms per document (tf × ln((N+1)/(df+1)), the
    * +1-smoothed idf): the keyword-extraction / relevance-weighting pass.
    * Ranking compares the 4dp-ROUNDED score (then token) so the rank is
    * identical across engines regardless of last-ulp ln() differences.
    * Two hash aggregations (doc×token, then token) + a broadcast of the
    * vocabulary-sized df table back onto the tf rows — at 100 TB the df
    * table is vocab-sized (≪ corpus), so the broadcast holds; the top-k
    * is the bounded-heap aggregate (`TopKAgg.topK`, backed by
    * `functions.TopKStructs`): map-side
    * partial heaps shuffle ≤k rows per (task × doc) instead of the window
    * form sorting every doc's full term list after a full shuffle. Struct
    * order (-score, token) = ORDER BY score DESC, token — total because
    * token is unique within a doc, so the ranking is deterministic (score
    * ≥ 0, so the negation never produces a mixed ±0.0). */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // tf feeds BOTH the df aggregate and the scoring join — materialize
    // it once (localCheckpoint) or the tokenize+explode+count pass runs
    // twice. (A cluster pipeline persists the doc×term frame to storage
    // here; same structure.)
    val tf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .ckpt
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") *
        log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")), 4))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("score")).as("neg"), col("token").as("token"),
          col("tf").as("tf"), col("score").as("score")), TfidfK).as("tk"))
      .select(col("doc_id"), posexplode(col("tk")))
      .select(col("doc_id"), col("col.token").as("token"), col("col.tf").as("tf"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  private final val MinhashEstN = 3
  /** MinHash accuracy harness: for every pair in the q35/q69 subset, the
    * 8-permutation md5-minhash AGREEMENT estimate of 3-gram-shingle
    * Jaccard next to the EXACT shingle Jaccard — the calibration query a
    * dedup-threshold choice runs before committing to a signature width.
    * Engine-neutral hashing (q90's one-permutation md5 slices), so the
    * estimate itself is value-checked against SQL; zero-overlap pairs are
    * kept (left join) because false-positive estimates on them are exactly
    * what the calibration must surface. The all-pairs cross product runs
    * over the COUNT-CAPPED `auditSample` (never a rate-based subset), so
    * the pair count stays O(n²) for fixed n at any corpus size. */
  def minhashEstVsExact(s: SparkSession, dir: String): DataFrame = {
    val subset = auditSample(Tables.documents(s, dir))
    val sh = shingleRows(subset, MinhashEstN).distinct()
    val hashed = sh.select(
      col("doc_id") +: (0 to 7).map { j =>
        val seedHash = md5(concat(lit((j / 4).toString), lit("|"), col("g")))
        substring(seedHash, (j % 4) * 8 + 1, 8).as(s"h$j")
      }: _*)
    val aggs = (0 to 7).map(j => min(col(s"h$j")).as(s"m$j"))
    val mins = hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val a = mins.select(
      col("doc_id").as("id1") +: (0 to 7).map(j => col(s"m$j").as(s"a$j")): _*)
    // .limit re-annotates the audit-sample bound (≤200 docs → ≤200
    // signature rows) that the groupBy erased from maxRows; b feeds the
    // broadcast side of the all-pairs cross join below
    val b = mins.select(
      col("doc_id").as("id2") +: (0 to 7).map(j => col(s"m$j").as(s"b$j")): _*)
      .limit(200)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = sh.select(col("doc_id").as("id1"), col("g"))
      .join(sh.select(col("doc_id").as("id2"), col("g")), Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
    val matches = (0 to 7)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val iC = coalesce(col("i"), lit(0L))
    a.crossJoin(broadcast(b)).filter(col("id1") < col("id2"))
      .join(inter, Seq("id1", "id2"), "left")
      .join(sz.select(col("doc_id").as("id1"), col("nsh").as("n1")), Seq("id1"))
      .join(sz.select(col("doc_id").as("id2"), col("nsh").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(matches.cast("double") / lit(8), 4).as("jac_est"),
        round(iC.cast("double") / (col("n1") + col("n2") - iC).cast("double"), 4)
          .as("jac_exact"))
      .orderBy(col("id1"), col("id2"))
  }

  /** MinHash+LSH near-dup candidates, BENCH fast path (xxhash64 custom
    * expression — no SQL engine reproduces the hash, so this form is
    * spec- and bench-covered while `minhashCandidatesPortable` carries
    * the oracle gate; see Registry.benchExtras). */
  def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(Tables.documents(s, dir), "doc_id", "text",
        minEstJaccard = 0.25)
      .orderBy(col("id1"), col("id2"))

  /** SimHash fingerprints, BENCH fast path (xxhash-based custom
    * expression; the oracle-gated forms are q37/q106). */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  /** The REGISTERED, fully oracle-checked form of the minhash-candidate
    * operator (q36): the complete `Dedup.minhashCandidates` pipeline —
    * signature → band buckets → bucket self-join → signature-agreement
    * estimate filter — with the ENGINE-NEUTRAL md5 hash so every stage
    * restates in DuckDB SQL. 8 one-permutation 16-bit md5 slices banded
    * as 4 bands × 2 rows (q90 keeps the complementary 2 × 4 banding with
    * no estimate filter, so the two queries value-check different
    * band/row trade-offs), estimate = slice agreement / 8, kept at
    * ≥ 0.5 (with 2-row bands a single band match only guarantees 2/8 —
    * the filter must prune, exactly like the production path's
    * minEstJaccard). Plan shape matches the production operator: one
    * shingle pass, one doc_id aggregate, one (band, bucket) self-join —
    * no cross product. */
  def minhashCandidatesPortable(s: SparkSession, dir: String): DataFrame =
    minhashCandidatePairs(s, dir)
      .orderBy(col("id1"), col("id2"))

  /** The candidate stage without the final sort — shared by q36 and the
    * q131 end-to-end pipeline, which passes its already-materialized
    * DISTINCT shingle frame (per-doc minima are duplicate-insensitive,
    * so both inputs hash identically). */
  /** The banded bucket table (doc_id, m0..m7, band, bucket) — the
    * PERSISTABLE LSH index both the full candidate join (q36) and the
    * incremental delta check (q249) read. */
  /** The 8-slice signature aggregate over a distinct-shingle frame (no
    * materialization — the memoized form pins it via ChainCache). */
  private def minhashMinsOf(sh: DataFrame): DataFrame = {
    val hashed = sh.select(
      col("doc_id") +: (0 to 7).map { j =>
        substring(md5(col("g")), j * 4 + 1, 4).as(s"h$j")
      }: _*)
    val aggs = (0 to 7).map(j => min(col(s"h$j")).as(s"m$j"))
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded bucket rows derived from a (pinned) signature frame — a
    * narrow projection + explode, zero shuffles, so consumers derive it
    * from the memoized mins instead of pinning the 4×-exploded frame. */
  private def bucketsOfMins(mins: DataFrame): DataFrame = {
    def bucketOf(js: Range) = md5(concat_ws(",", js.map(j => col(s"m$j")): _*))
    mins.select(
      col("doc_id") +: (0 to 7).map(j => col(s"m$j")) :+
        explode(array((0 to 3).map(b =>
          struct(lit(b).as("band"),
            bucketOf(b * 2 to b * 2 + 1).as("bucket"))): _*)).as("bb"): _*)
      .select(col("doc_id") +: (0 to 7).map(j => col(s"m$j")) :+
        col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)
  }

  private def minhashCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    val buckets = bucketsOfMins(minhashMinsM(s, dir))
    val a = buckets.select(
      col("doc_id").as("id1") +: (0 to 7).map(j => col(s"m$j").as(s"a$j")) :+
        col("band") :+ col("bucket"): _*)
    val b = buckets.select(
      col("doc_id").as("id2") +: (0 to 7).map(j => col(s"m$j").as(s"b$j")) :+
        col("band") :+ col("bucket"): _*)
    val matches = (0 to 7)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(matches.cast("double") / lit(8), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .distinct()
  }

  /** Incremental LSH dedup (q249): the text-corpus member of the
    * incremental-maintenance family (q221 components, q242 IVF) — the
    * nightly crawl DELTA (doc_id % 10 = 0) is checked against the
    * existing corpus by joining ONLY delta-side bucket rows against the
    * full bucket table; base↔base pairs are never re-examined (they were
    * previous runs' output). The result set equals the full q36
    * candidate set restricted to pairs touching the delta — exactly what
    * the oracle states.
    *
    * Scale shape — the point: in production the base bucket table is the
    * PERSISTED LSH index, so the per-run cost is |delta buckets| ⋈ index
    * (delta-sized, not corpus-sized); it is rebuilt inside this query
    * only because the gate needs one self-contained statement. The
    * delta↔delta double-match collapses through the least/greatest
    * normalization + distinct. */
  def incrementalLshDedup(s: SparkSession, dir: String): DataFrame =
    incrLshPairsM(s, dir).orderBy(col("id1"), col("id2"))

  /** The q249 pair frame before its output sort — pinned so q253's
    * dashboard aggregates consume it instead of re-running the delta
    * join (the production shape: ONE nightly delta check feeds both the
    * pair list and the per-source rates). */
  private def incrLshPairsM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_incr_lsh_pairs", "minEst=0.5") {
      incrLshPairsImpl(s, dir)
    }

  private def incrLshPairsImpl(s: SparkSession, dir: String): DataFrame = {
    // bucket rows are a narrow derivation of the PINNED signature frame
    // (memo) — both join sides read it without a dedicated ckpt
    val buckets = bucketsOfMins(minhashMinsM(s, dir))
    val a = buckets.filter(col("doc_id") % 10 === 0).select(
      col("doc_id").as("ida") +: (0 to 7).map(j => col(s"m$j").as(s"a$j")) :+
        col("band") :+ col("bucket"): _*)
    val b = buckets.select(
      col("doc_id").as("idb") +: (0 to 7).map(j => col(s"m$j").as(s"b$j")) :+
        col("band") :+ col("bucket"): _*)
    val matches = (0 to 7)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, Seq("band", "bucket"))
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"),
        round(matches.cast("double") / lit(8), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .distinct()
  }

  private def incrementalLshOracle: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
       |       WHERE len(t) >= 3),
       |hj AS (SELECT doc_id, j, substr(md5(g), j * 4 + 1, 4) AS h
       |       FROM sh, UNNEST(generate_series(0, 7)) AS p(j)),
       |mins AS (SELECT doc_id, j, MIN(h) AS m FROM hj GROUP BY doc_id, j),
       |buckets AS (SELECT doc_id, j // 2 AS band,
       |                   md5(string_agg(m, ',' ORDER BY j)) AS bucket
       |            FROM mins GROUP BY doc_id, j // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |         FROM buckets a JOIN buckets b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.doc_id < b.doc_id
       |           AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)),
       |agree AS (SELECT c.id1, c.id2,
       |                 SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS matches
       |          FROM cand c
       |          JOIN mins ma ON ma.doc_id = c.id1
       |          JOIN mins mb ON mb.doc_id = c.id2 AND mb.j = ma.j
       |          GROUP BY c.id1, c.id2)
       |SELECT id1, id2, round(matches / 8.0, 4) AS est_jaccard
       |FROM agree
       |WHERE matches >= 4
       |ORDER BY id1, id2""".stripMargin

  /** Per-source delta dedup rate (q253): the nightly-crawl dashboard on
    * top of q249 — for each source, how many of the delta's documents
    * collide with the corpus (appear in ≥1 incremental LSH candidate
    * pair), as a rate in basis points. A source whose dup rate spikes is
    * re-crawling what the corpus already holds — the signal that gates
    * its ingest budget.
    *
    * Scale shape: q249's delta-sized candidate join, then one distinct
    * + two source-keyed aggregates over the (candidate ids ⋈ documents)
    * frame — delta-bounded throughout. */
  def deltaDedupRate(s: SparkSession, dir: String): DataFrame = {
    val pairs = incrLshPairsM(s, dir)
    val dupIds = pairs.select(col("id1").as("doc_id"))
      .unionByName(pairs.select(col("id2").as("doc_id")))
      .filter(col("doc_id") % 10 === 0)
      .distinct()
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("source"))
    val dup = docs.join(dupIds, Seq("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_delta"))
      .join(dup, Seq("source"), "left_outer")
      .select(col("source"), col("n_delta"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_bp", expr("n_dup * 10000 div n_delta"))
      .orderBy(col("source"))
  }

  private def deltaDedupRateOracle: String =
    s"""WITH pairs AS ($incrementalLshOracle),
       |dup_ids AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT id1 AS doc_id FROM pairs
       |    UNION ALL SELECT id2 FROM pairs) u
       |  WHERE doc_id % 10 = 0),
       |delta AS (SELECT doc_id, source FROM documents WHERE doc_id % 10 = 0),
       |dup AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_dup
       |        FROM delta d JOIN dup_ids USING (doc_id) GROUP BY d.source),
       |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_delta
       |        FROM delta GROUP BY source)
       |SELECT t.source, t.n_delta,
       |       CAST(COALESCE(dup.n_dup, 0) AS BIGINT) AS n_dup,
       |       CAST(COALESCE(dup.n_dup, 0) * 10000 // t.n_delta AS BIGINT)
       |         AS dup_bp
       |FROM tot t LEFT JOIN dup USING (source)
       |ORDER BY t.source""".stripMargin

  /** The PRODUCTION dedup composition end to end (q131) — the shape a
    * 100-TB corpus actually runs, every stage bounded:
    *   1. LSH candidates (the q36 operator: bucket join, never all-pairs);
    *   2. exact shingle-Jaccard verification on the CANDIDATES ONLY —
    *      shingles join the pair list by id, so the intersection work is
    *      |candidates| × shared-shingles, not a corpus self-join (this is
    *      where q35's exact verifier belongs in production, estimator
    *      proposes → exact confirms: the 4 est-≥0.5 false positives at
    *      sf0.1 die here);
    *   3. connected components (min-label pointer jumping) over the
    *      verified edges, every document labeled, keeper = min id of its
    *      cluster (keep flag = the dedup decision per document). */
  def lshDedupPipeline(s: SparkSession, dir: String): DataFrame =
    textDedupComponents(s, dir)
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("keep"))
      .orderBy(col("doc_id"))

  /** The q131 clustering WITHOUT the decision projection/sort — the
    * (doc_id, component) frame compositions build on (q267 joins it
    * against the image-modality clusters for the pair-level decision). */
  private[graft] def textDedupComponents(s: SparkSession,
      dir: String): DataFrame =
    dedupComponentsM(s, dir)

  private final val EpochShuffleEpochs = 2
  private final val EpochShuffleShards = 8
  /** Deterministic multi-epoch shuffle order (q166) — the data-loader
    * contract of reproducible training: each epoch permutes the corpus
    * differently, but identically on every engine, run and cluster
    * size, with no RNG state. Epoch e orders documents by
    * md5(doc_id:e); the shard is a hash bucket of the same digest and
    * the in-shard position is a rank within (epoch, shard) — i.e. the
    * file and offset a sharded dataset writer would emit.
    *
    * Scale shape: map-only digesting; the only heavy op is the
    * per-(epoch, shard) rank, whose partitions are corpus/nShards —
    * the shard count is the scale knob (hundreds of shards on a real
    * cluster keeps every partition writer-file-sized, and the rank IS
    * the write-time sort the loader needs anyway). */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .crossJoin(broadcast(
        s.range(0, EpochShuffleEpochs).select(col("id").cast("int").as("epoch"))))
      .withColumn("h", md5(concat(col("doc_id").cast("string"),
        lit(":"), col("epoch").cast("string"))))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 2), 16, 10).cast("int") % EpochShuffleShards))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    d.withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("epoch"), col("shard"), col("pos"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  private def epochShuffleOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, e.epoch,
       |         md5(CAST(doc_id AS VARCHAR) || ':' ||
       |             CAST(e.epoch AS VARCHAR)) AS h
       |  FROM documents,
       |       (SELECT CAST(unnest(range(0, $EpochShuffleEpochs)) AS INT) AS epoch) e),
       |s AS (SELECT doc_id, epoch, h,
       |             CAST(('0x' || substr(h, 1, 2))::INT % $EpochShuffleShards AS INT)
       |               AS shard
       |      FROM d)
       |SELECT doc_id, epoch, shard,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
       |                               ORDER BY h, doc_id) AS INT) AS pos
       |FROM s
       |ORDER BY epoch, shard, pos""".stripMargin

  /** Document-frequency cap of the trigram postings: q171 and q194
    * pair only through grams in at most this many documents, and q295's
    * gram audit rows report it as their cap. */
  private final val GramMaxDf = 20
  /** q171's top-k pairs by cosine. */
  private final val SparseCosineK = 50
  /** q194's containment threshold τ. */
  private final val ContainmentTau = 0.5

  /** Sparse TF-IDF cosine similarity join (q171) — the inverted-index
    * similarity measure between documents: 3-gram shingle features,
    * integer-quantized idf weights, candidate pairs generated ONLY
    * through shared features whose document frequency is ≤ GramMaxDf (the
    * stop-list rule every sparse similarity join ships: a feature in
    * half the corpus pairs everything with everything and carries no
    * signal — dropping it bounds the join at
    * Σ df² ≤ GramMaxDf·|postings| instead of quadratic). Complements
    * the minhash path (q36 finds probable near-dups; this scores a
    * weighted similarity exactly) and the dense path (q40 embeddings).
    *
    * Determinism: idf quantizes to 1e-4-bit units from exact integer
    * (N, df) — the q122 pattern; weights and norms are exact long
    * sums; the final cosine divides doubles derived from those longs.
    * Norms are over the PRUNED vectors (both engines, same rule). */
  def sparseCosinePairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // the (doc_id, g, tf) frame is the pinned shared frame (memo)
    val tf = gram3TfM(s, dir)
    val df = tf.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= GramMaxDf)
    val total = docs.agg(count(lit(1)).as("n"))
    val w = tf.join(df, Seq("g")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("g"),
        (col("tf") * round(log2(col("n").cast("double") /
          col("df").cast("double")) * 10000, 0).cast("long")).as("w"))
      .ckpt
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("nrm2"))
    val dots = w.select(col("doc_id").as("id1"), col("g"), col("w").as("w1"))
      .join(w.select(col("doc_id").as("id2"), col("g"), col("w").as("w2")),
        Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(sum(col("w1") * col("w2")).as("dot"))
    val scored = dots
      .join(norms.select(col("doc_id").as("id1"), col("nrm2").as("n1")), Seq("id1"))
      .join(norms.select(col("doc_id").as("id2"), col("nrm2").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(col("dot").cast("double") /
          (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double"))), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(SparseCosineK)
    scored.withColumn("rn", row_number().over(
        Window.orderBy(col("cos").desc, col("id1"), col("id2"))))
      .orderBy(col("rn"))
  }

  /** Asymmetric containment near-dup detection (q194): directed pairs
    * where most of document a's 3-gram set also appears in document b —
    * containment(a→b) = |S(a)∩S(b)| / |S(a)| ≥ τ. Jaccard (q35) misses
    * INCLUSION (a short doc quoted inside a long one scores low
    * symmetric similarity but 1.0 containment); this is the
    * Broder-style containment measure a quote/subset-dedup pass runs.
    *
    * Feature space: distinct 3-gram shingles with document frequency
    * ≤ GramMaxDf — the q171 stop-list rule; both the intersection AND the
    * denominators are over the pruned space (same rule both engines),
    * which bounds the candidate join at Σ df² and keeps the measure
    * self-consistent. Candidates arise ONLY through shared grams —
    * never all-pairs; each undirected pair scores both directions in
    * one pass from the two size joins. Counts are exact longs; each
    * score is one quotient of identical longs, rounded 4dp. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    // the distinct shingle set is the pinned shared frame (memo) — the
    // df filter, sizes and join sides all read it without re-shingling
    val sh = gram3M(s, dir)
    val dfq = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= GramMaxDf)
    val p = sh.join(dfq.select(col("g")), Seq("g"))
      .ckpt // consumers: sizes + both join sides
    val sz = p.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = p.select(col("doc_id").as("id1"), col("g"))
      .join(p.select(col("doc_id").as("id2"), col("g")), Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
    val sized = inter
      .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
    // score both directions from the one undirected intersection row
    val directed = sized.select(col("id1").as("src"), col("id2").as("dst"),
        col("i"), round(col("i") / col("n1").cast("double"), 4).as("score"))
      .unionByName(sized.select(col("id2").as("src"), col("id1").as("dst"),
        col("i"), round(col("i") / col("n2").cast("double"), 4).as("score")))
    directed.filter(col("score") >= ContainmentTau)
      .select(col("src"), col("dst"), col("i").as("shared"), col("score"))
      .orderBy(col("src"), col("dst"))
  }

  private def containmentOracle: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |      FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |      WHERE len(t) >= 3),
       |dfq AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) <= $GramMaxDf),
       |p AS (SELECT g.doc_id, g.g FROM g JOIN dfq USING (g)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM p GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |                 CAST(COUNT(*) AS BIGINT) AS i
       |          FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |sized AS (SELECT id1, id2, i, s1.n AS n1, s2.n AS n2
       |          FROM inter JOIN sz s1 ON id1 = s1.doc_id
       |                     JOIN sz s2 ON id2 = s2.doc_id),
       |directed AS (
       |  SELECT id1 AS src, id2 AS dst, i,
       |         round(i / CAST(n1 AS DOUBLE), 4) AS score FROM sized
       |  UNION ALL
       |  SELECT id2 AS src, id1 AS dst, i,
       |         round(i / CAST(n2 AS DOUBLE), 4) AS score FROM sized)
       |SELECT src, dst, i AS shared, score
       |FROM directed WHERE score >= $ContainmentTau
       |ORDER BY src, dst""".stripMargin

  private def sparseCosineOracle: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |g AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |      FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |      WHERE len(t) >= 3),
       |tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM g GROUP BY 1, 2),
       |dfq AS (SELECT g, COUNT(*) AS df FROM tf GROUP BY g
       |        HAVING COUNT(*) <= $GramMaxDf),
       |tot AS (SELECT COUNT(*) AS n FROM documents),
       |w AS (SELECT tf.doc_id, tf.g,
       |             CAST(tf.tf * CAST(round(log2(CAST(tot.n AS DOUBLE)
       |                    / CAST(dfq.df AS DOUBLE)) * 10000, 0) AS BIGINT)
       |                  AS BIGINT) AS w
       |      FROM tf JOIN dfq USING (g), tot),
       |nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm2
       |        FROM w GROUP BY doc_id),
       |dots AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |                CAST(SUM(a.w * b.w) AS BIGINT) AS dot
       |         FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |scored AS (SELECT d.id1, d.id2,
       |                  round(CAST(d.dot AS DOUBLE) /
       |                        (sqrt(CAST(n1.nrm2 AS DOUBLE))
       |                         * sqrt(CAST(n2.nrm2 AS DOUBLE))), 4) AS cos
       |           FROM dots d
       |           JOIN nrm n1 ON d.id1 = n1.doc_id
       |           JOIN nrm n2 ON d.id2 = n2.doc_id
       |           ORDER BY cos DESC, d.id1, d.id2 LIMIT $SparseCosineK)
       |SELECT id1, id2, cos,
       |       CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, id1, id2) AS INT)
       |         AS rn
       |FROM scored
       |ORDER BY rn""".stripMargin

  /** Per-source corpus datasheet (q169) — the "datasheets for datasets"
    * inventory a corpus release ships: per source, document and token
    * counts, language coverage, exact-duplicate share, and the median
    * document length. Every statistic uses an already-established
    * integer-exact shape: distinct-language and dup counts are
    * pre-distinct/pre-grouped aggregates CHAINED (never count_distinct
    * mixed into a plain aggregate — the q87 Expand rule), and the
    * median comes from the per-(source, length) histogram walk
    * (q139/q155/q168 machinery), so nothing is corpus-windowed and
    * everything hash-matches. */
  def corpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("h"),
        TextFunctions.tokenCount(col("text")).as("nt"))
      .ckpt
    val base = d.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("nt")).as("tokens"))
    val langs = d.select(col("source"), col("lang")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_langs"))
    val dups = d.groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .groupBy(col("source")).agg(sum(col("c")).as("dup_docs"))
    val med = d.groupBy(col("source"), col("nt")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("source")).orderBy(col("nt"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(min(when(col("cum") * 2 >= col("tot"), col("nt"))).as("median_tokens"))
    base.join(langs, Seq("source"))
      .join(dups, Seq("source"), "left")
      .join(med, Seq("source"))
      .select(col("source"), col("docs"), col("tokens"), col("n_langs"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        col("median_tokens"))
      .orderBy(col("source"))
  }

  private def corpusDatasheetOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, lang, md5(text) AS h,
       |         CASE WHEN length($norm) = 0 THEN 0
       |              ELSE len($toksSql) END AS nt
       |  FROM documents),
       |base AS (SELECT source, COUNT(*) AS docs,
       |                CAST(SUM(nt) AS BIGINT) AS tokens
       |         FROM d GROUP BY source),
       |langs AS (SELECT source, COUNT(*) AS n_langs
       |          FROM (SELECT DISTINCT source, lang FROM d) GROUP BY source),
       |dups AS (SELECT source, CAST(SUM(c) AS BIGINT) AS dup_docs
       |         FROM (SELECT source, h, COUNT(*) AS c FROM d GROUP BY 1, 2)
       |         WHERE c >= 2 GROUP BY source),
       |med AS (SELECT source,
       |               CAST(MIN(CASE WHEN cum * 2 >= tot THEN nt END) AS INT)
       |                 AS median_tokens
       |        FROM (SELECT source, nt,
       |                     SUM(n) OVER (PARTITION BY source ORDER BY nt) AS cum,
       |                     SUM(n) OVER (PARTITION BY source) AS tot
       |              FROM (SELECT source, nt, COUNT(*) AS n
       |                    FROM d GROUP BY 1, 2) h) c
       |        GROUP BY source)
       |SELECT b.source, b.docs, b.tokens, l.n_langs,
       |       CAST(COALESCE(du.dup_docs, 0) AS BIGINT) AS dup_docs,
       |       m.median_tokens
       |FROM base b JOIN langs l USING (source)
       |     LEFT JOIN dups du USING (source)
       |     JOIN med m USING (source)
       |ORDER BY b.source""".stripMargin

  /** Composite curation decision table (q167) — the ensemble verdict a
    * production filter stack actually ships: per raw-pool document, the
    * Gopher rule battery (q158), the hashed quality classifier (q149),
    * the CCNet perplexity bucket (q155) and DSIR target-likeness (q157)
    * side by side, plus the gates-passed count and a majority keep
    * (n_gates >= 2 — DSIR selection and the stand-in classifier are
    * evidence, not vetoes). Each block is oracle-green in isolation; this query
    * value-checks the ENSEMBLE in one hash, the q143 composition
    * discipline applied to the advanced gates. All four blocks share
    * one scan shape (map-only or histogram-bounded), so the ensemble
    * stays a handful of key-partitioned passes over the corpus. */
  def curationDecision(s: SparkSession, dir: String): DataFrame = {
    val g = gopherM(s, dir)
      .select(col("doc_id"), col("keep").as("g_keep"))
    val c = Classifier.classify(s, dir)
      .select(col("doc_id"),
        (col("label") === "keep").cast("int").as("c_keep"))
    val p = perplexityBuckets(s, dir)
      .select(col("doc_id"), col("bucket").as("p_bucket"))
    val d = dsirWeights(s, dir)
      .select(col("doc_id"), col("selected").as("d_selected"))
    d.join(g, Seq("doc_id")).join(c, Seq("doc_id")).join(p, Seq("doc_id"))
      .withColumn("n_gates",
        (col("g_keep") + col("c_keep") +
          (col("p_bucket") =!= "tail").cast("int") + col("d_selected"))
          .cast("int"))
      .select(col("doc_id"), col("g_keep"), col("c_keep"), col("p_bucket"),
        col("d_selected"), col("n_gates"),
        (col("n_gates") >= 2).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q167 oracle: the four blocks' full oracles embedded as CTE
    * subqueries (each already hash-verified standalone), joined on
    * doc_id with the composed verdict. */
  private def curationDecisionOracle: String =
    s"""WITH gop AS ($gopherOracle),
       |cls AS (${Classifier.oracle}),
       |ppl AS ($perplexityBucketsOracle),
       |dsr AS ($dsirOracle)
       |SELECT doc_id, g_keep, c_keep, p_bucket, d_selected, n_gates,
       |       CAST(CASE WHEN n_gates >= 2 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT d.doc_id, g.keep AS g_keep,
       |         CAST(CASE WHEN c.label = 'keep' THEN 1 ELSE 0 END AS INT)
       |           AS c_keep,
       |         p.bucket AS p_bucket, d.selected AS d_selected,
       |         CAST(g.keep
       |              + CASE WHEN c.label = 'keep' THEN 1 ELSE 0 END
       |              + CASE WHEN p.bucket <> 'tail' THEN 1 ELSE 0 END
       |              + d.selected AS INT) AS n_gates
       |  FROM dsr d JOIN gop g USING (doc_id) JOIN cls c USING (doc_id)
       |       JOIN ppl p USING (doc_id)) t
       |ORDER BY doc_id""".stripMargin

  private final val BigramTopContext = 20
  private final val BigramTopK = 3
  /** Distributed bigram LM estimation (q165) — count-based conditional
    * next-token distributions, the classic corpus-scale LM job (and the
    * n>1 generalization of q122's unigram LM): c(w₁,w₂) and c(w₁) from
    * two hash aggregates, P(w₂|w₁) as integer basis points
    * (cnt·10000 div c₁ — floor-div, engine-exact), reported as the
    * top-k continuations of the top-`topContext` contexts.
    *
    * Scale shape: the bigram aggregate is the one corpus-sized shuffle
    * (map-side combined; key = two tokens); context totals ride a
    * second, vocabulary-sized aggregate; the top-context filter
    * broadcasts; final ranking windows run over topContext·vocab-slice
    * rows, never the corpus. */
  def bigramLm(s: SparkSession, dir: String, topContext: Int = BigramTopContext,
      topK: Int = BigramTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toks
      .select(posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1))
        .as(Seq("i", "w1")), col("toks"))
      .select(col("w1"), element_at(col("toks"), col("i") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .ckpt
    val c1 = bi.groupBy(col("w1")).agg(sum(col("cnt")).as("c1"))
    val topCtx = c1.orderBy(col("c1").desc, col("w1")).limit(topContext)
    val w = Window.partitionBy(col("w1"))
      .orderBy(col("cnt").desc, col("w2"))
    bi.join(broadcast(topCtx), Seq("w1"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("w1"), col("c1"), col("w2"), col("cnt"),
        expr("cnt * 10000 div c1").as("prob_bp"), col("rn"))
      .orderBy(col("w1"), col("rn"))
  }

  private def bigramLmOracle: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents
       |             WHERE len($toksSql) >= 2),
       |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS cnt
       |       FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
       |       GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM bi GROUP BY w1),
       |ctx AS (SELECT w1, c1 FROM c1 ORDER BY c1 DESC, w1 LIMIT $BigramTopContext),
       |ranked AS (
       |  SELECT b.w1, ctx.c1, b.w2, CAST(b.cnt AS BIGINT) AS cnt,
       |         CAST(b.cnt * 10000 // ctx.c1 AS BIGINT) AS prob_bp,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY b.w1
       |                ORDER BY b.cnt DESC, b.w2) AS INT) AS rn
       |  FROM bi b JOIN ctx USING (w1))
       |SELECT w1, c1, w2, cnt, prob_bp, rn FROM ranked
       |WHERE rn <= $BigramTopK
       |ORDER BY w1, rn""".stripMargin

  /** Soft-dedup sampling weights (q164) — instead of DROPPING near-dups
    * (q131's keep flag), weight every document by the inverse of its
    * near-dup cluster size (basis points, integer floor-div): sampling
    * proportional to weight then gives each distinct content item equal
    * expected mass while keeping all copies available — the reweighting
    * alternative to hard dedup (SoftDeDup, arXiv 2407.06654; also the
    * fix for dedup-vs-diversity tension in mixture tuning). Composes
    * the q131 cluster machinery unchanged; the only additions are a
    * component-count-sized size aggregate and a component-keyed join
    * that reuses the clustering's own partitioning. */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    // the clustering is the SAME pinned frame q131 derives (memo) — this
    // query's own work is the size aggregate and the weight projection
    val comp = dedupComponentsM(s, dir)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"),
        expr("10000 div csize").as("weight_bp"))
      .orderBy(col("doc_id"))
  }

  private def softDedupOracle: String =
    s"""WITH RECURSIVE $verifiedEdgeCtes,
       |e AS (SELECT id1 AS src, id2 AS dst FROM e0
       |      UNION SELECT id2, id1 FROM e0),
       |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
       |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
       |comp AS (SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS component
       |         FROM r GROUP BY id),
       |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
       |       FROM comp GROUP BY component)
       |SELECT c.doc_id, c.component, cs.csize,
       |       CAST(10000 // cs.csize AS BIGINT) AS weight_bp
       |FROM comp c JOIN cs USING (component)
       |ORDER BY c.doc_id""".stripMargin

  /** Quality-aware dedup keeper selection (q172) — q131's clustering
    * with a smarter keeper rule: instead of the lowest id, each near-dup
    * cluster keeps its HIGHEST-QUALITY member (q139's stopword-ratio
    * score, lowest-id tiebreak; NULL scores rank below everything) —
    * what a curation pipeline actually wants from dedup: drop the
    * mangled copies, keep the clean one. Keeper = map-side max_by per
    * component (pre-reduced shuffle rows), joined back on the
    * clustering's own component key; singleton clusters keep
    * themselves. */
  def qualityAwareDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // clustering from the pinned q131 frame; this query owns the scoring
    val comp = dedupComponentsM(s, dir)
    val scored = docs
      .withColumn("toks", TextFunctions.tokensOf(
        TextFunctions.normalize(col("text"))))
      .select(col("doc_id"),
        coalesce(TextFunctions.stopwordRatioOf(col("toks")), lit(-1.0))
          .as("score"))
    val withScore = comp.join(scored, Seq("doc_id"))
    val keepers = withScore.groupBy(col("component"))
      .agg(max_by(col("doc_id"),
        struct(col("score"), (-col("doc_id")).as("__nd"))).as("keeper"))
    withScore.join(keepers, Seq("component"))
      .select(col("doc_id"), col("component"), col("score"),
        (col("doc_id") === col("keeper")).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  private def qualityAwareDedupOracle: String =
    s"""WITH RECURSIVE $verifiedEdgeCtes,
       |e AS (SELECT id1 AS src, id2 AS dst FROM e0
       |      UNION SELECT id2, id1 FROM e0),
       |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
       |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
       |comp AS (SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS component
       |         FROM r GROUP BY id),
       |sc AS (SELECT doc_id,
       |              coalesce(round(len(list_filter($toksSql,
       |                        x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
       |                      / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4),
       |                -1.0) AS score
       |       FROM documents),
       |best AS (SELECT component, doc_id AS keeper FROM (
       |  SELECT c.component, c.doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY c.component
       |           ORDER BY s.score DESC, c.doc_id) AS rn
       |  FROM comp c JOIN sc s USING (doc_id)) t WHERE rn = 1)
       |SELECT c.doc_id, c.component, s.score,
       |       CAST(CASE WHEN c.doc_id = b.keeper THEN 1 ELSE 0 END AS INT)
       |         AS keep
       |FROM comp c JOIN sc s USING (doc_id)
       |     JOIN best b USING (component)
       |ORDER BY c.doc_id""".stripMargin

  private final val VerifiedMinJ = 0.5
  /** Candidate-verified near-duplicate edges (the q131 stages 1–2,
    * shared with the q145 leakage audit): LSH candidates from the banded
    * minhash (bucket join, never all-pairs), then exact shingle-Jaccard
    * confirmation computed ONLY on the candidates via two id-keyed joins
    * against the shingle table. Returns (id1 < id2) verified pairs.
    * `sh` must be the (doc_id, g) DISTINCT shingle frame, checkpointed
    * by the caller (three consumers here). */
  private def verifiedNearDupEdges(s: SparkSession, dir: String): DataFrame = {
    val sh = gram3M(s, dir)
    val cand = minhashCandidatePairs(s, dir).select(col("id1"), col("id2"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("id1"), col("g")), Seq("id1"))
      .join(sh.select(col("doc_id").as("id2"), col("g")), Seq("id2", "g"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .filter(round(col("i").cast("double") /
        (col("n1") + col("n2") - col("i")).cast("double"), 4) >= VerifiedMinJ)
      .select(col("id1"), col("id2"))
  }

  /** Contrastive training-pair builder (q160) — the SimCSE-style pair
    * table an embedding trainer consumes: positives are the VERIFIED
    * near-dup edges (the q131 candidate→confirm machinery — texts known
    * to mean the same thing), negatives are deterministic pseudo-random
    * doc pairings with no RNG state: adjacent documents in md5 order
    * WITHIN 256 hash buckets (a partition-bounded window — never a
    * corpus-wide sort), anti-joined against the positive set so a true
    * near-dup can never be mislabeled 0. Every engine, run and cluster
    * size produces the identical pair table.
    *
    * Scale shape: positives reuse the banded-LSH path (edges ≪ corpus);
    * the negative window is bounded by bucket population (~n/256); the
    * anti-join is edge-sized. Output ~1 negative per doc — the 1:1
    * in-batch ratio; more negatives per anchor = more buckets or lead
    * offsets, same shapes. */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // positives are a projection of the PINNED verified-edge frame —
    // cheap for both consumers (union + anti-join), no further ckpt
    val pos = verifiedEdgesM(s, dir)
      .select(col("id1").as("a"), col("id2").as("b"))
    val h = docs.select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val w = Window.partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))
    val neg = h.withColumn("nxt", lead(col("doc_id"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(least(col("doc_id"), col("nxt")).as("a"),
        greatest(col("doc_id"), col("nxt")).as("b"))
      .join(pos, Seq("a", "b"), "left_anti")
    pos.withColumn("label", lit(1))
      .unionByName(neg.withColumn("label", lit(0)))
      .orderBy(col("a"), col("b"))
  }

  private def contrastivePairsOracle: String =
    s"""WITH $verifiedEdgeCtes,
       |hh AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
       |              substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bkt
       |       FROM documents),
       |nx AS (SELECT doc_id,
       |              lead(doc_id) OVER (PARTITION BY bkt
       |                                 ORDER BY h, doc_id) AS nxt
       |       FROM hh),
       |np AS (SELECT least(doc_id, nxt) AS a, greatest(doc_id, nxt) AS b
       |       FROM nx WHERE nxt IS NOT NULL),
       |neg AS (SELECT a, b FROM np
       |        WHERE NOT EXISTS (SELECT 1 FROM e0
       |                          WHERE e0.id1 = np.a AND e0.id2 = np.b))
       |SELECT a, b, label FROM (
       |  SELECT id1 AS a, id2 AS b, 1 AS label FROM e0
       |  UNION ALL SELECT a, b, 0 AS label FROM neg) t
       |ORDER BY a, b""".stripMargin

  /** Cross-split near-dup leakage audit (q145) — the release gate a
    * training corpus runs after splitting: a test/val document with a
    * near-duplicate in train silently inflates eval scores, so the audit
    * joins the VERIFIED near-dup edges (the q131 candidate→confirm
    * stages, never all-pairs) against the release's own split rule (the
    * q126 `splitOf` assignment — auditing any other rule would audit the
    * wrong release) and reports, per split: total docs, edges leaving
    * the split, and distinct documents with a cross-split near-dup.
    * Always |splits| rows — a clean corpus reports zeros rather than an
    * empty frame.
    *
    * Scale shape: edges ≪ corpus (near-dup pairs), the audit joins are
    * edge-sized, and the per-split rollup is 3 rows; the corpus-sized
    * work is exactly the q131 candidate machinery it reuses. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sp = docs.select(col("doc_id"), splitOf(col("doc_id")).as("split"))
    // the verified edge set is the pinned shared frame (memo) — both
    // directions derive from it with narrow projections
    val edges = verifiedEdgesM(s, dir)
    val x = edges.select(col("id1").as("a"), col("id2").as("b"))
      .union(edges.select(col("id2").as("a"), col("id1").as("b")))
      .join(sp.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
      .join(sp.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
      .filter(col("sa") =!= col("sb"))
    // two tiny aggregates chained, not count+count_distinct in one
    // groupBy (the q87 Expand note)
    val pairs = x.groupBy(col("sa")).agg(count(lit(1)).as("leaked_pairs"))
    val ldocs = x.select(col("sa"), col("a")).distinct()
      .groupBy(col("sa")).agg(count(lit(1)).as("leaked_docs"))
    sp.groupBy(col("split")).agg(count(lit(1)).as("docs"))
      .join(pairs.withColumnRenamed("sa", "split"), Seq("split"), "left")
      .join(ldocs.withColumnRenamed("sa", "split"), Seq("split"), "left")
      .select(col("split"), col("docs"),
        coalesce(col("leaked_pairs"), lit(0L)).as("leaked_pairs"),
        coalesce(col("leaked_docs"), lit(0L)).as("leaked_docs"))
      .orderBy(col("split"))
  }

  /** The q131 stages 1–2 as DuckDB CTEs (shared by the q131 and q145
    * oracles): shingles → banded minhash → candidates → estimate gate →
    * exact-Jaccard confirmation; `e0` is the verified (id1 < id2) edge
    * set — the SQL restatement of `verifiedNearDupEdges`. */
  private[graft] def verifiedEdgeCtes: String =
    s"""tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
       |       WHERE len(t) >= 3),
       |hj AS (SELECT doc_id, j, substr(md5(g), j * 4 + 1, 4) AS h
       |       FROM sh, UNNEST(generate_series(0, 7)) AS p(j)),
       |mins AS (SELECT doc_id, j, MIN(h) AS m FROM hj GROUP BY doc_id, j),
       |buckets AS (SELECT doc_id, j // 2 AS band,
       |                   md5(string_agg(m, ',' ORDER BY j)) AS bucket
       |            FROM mins GROUP BY doc_id, j // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |         FROM buckets a JOIN buckets b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.doc_id < b.doc_id),
       |agree AS (SELECT c.id1, c.id2,
       |                 SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS matches
       |          FROM cand c JOIN mins ma ON ma.doc_id = c.id1
       |          JOIN mins mb ON mb.doc_id = c.id2 AND mb.j = ma.j
       |          GROUP BY c.id1, c.id2),
       |cand2 AS (SELECT id1, id2 FROM agree WHERE matches >= 4),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id1, c.id2, COUNT(*) AS i
       |          FROM cand2 c JOIN sh a ON a.doc_id = c.id1
       |          JOIN sh b ON b.doc_id = c.id2 AND b.g = a.g
       |          GROUP BY c.id1, c.id2),
       |e0 AS (SELECT i.id1, i.id2
       |       FROM inter i JOIN sz s1 ON i.id1 = s1.doc_id
       |       JOIN sz s2 ON i.id2 = s2.doc_id
       |       WHERE round(i.i / CAST(s1.n + s2.n - i.i AS DOUBLE), 4) >= 0.5)""".stripMargin

  private def minhashCandidatesOracle: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
       |       WHERE len(t) >= 3),
       |hj AS (SELECT doc_id, j, substr(md5(g), j * 4 + 1, 4) AS h
       |       FROM sh, UNNEST(generate_series(0, 7)) AS p(j)),
       |mins AS (SELECT doc_id, j, MIN(h) AS m FROM hj GROUP BY doc_id, j),
       |buckets AS (SELECT doc_id, j // 2 AS band,
       |                   md5(string_agg(m, ',' ORDER BY j)) AS bucket
       |            FROM mins GROUP BY doc_id, j // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |         FROM buckets a JOIN buckets b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.doc_id < b.doc_id),
       |agree AS (SELECT c.id1, c.id2,
       |                 SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS matches
       |          FROM cand c
       |          JOIN mins ma ON ma.doc_id = c.id1
       |          JOIN mins mb ON mb.doc_id = c.id2 AND mb.j = ma.j
       |          GROUP BY c.id1, c.id2)
       |SELECT id1, id2, round(matches / 8.0, 4) AS est_jaccard
       |FROM agree
       |WHERE matches >= 4
       |ORDER BY id1, id2""".stripMargin

  /** Manku band layout for the q37 hamming budget (≤ 2) over 32-bit
    * signatures: budget+1 = 3 bands — the pigeonhole MINIMUM (2 flipped
    * bits can dirty at most 2 bands, so every in-budget pair still
    * shares a clean band and recall stays EXACT) — each band as wide as
    * the signature allows ({11, 11, 10} bits). Width is the collision
    * knob: candidate mass per band is ~n²/2^width, so fewer, WIDER bands
    * strictly dominate more, narrower ones at a fixed budget. The r15
    * verdict flagged the old 4×8-bit layout at 4.26× per 10× data (16-bit
    * band-pair mass ~n²/2⁸ per band); widening to 11 bits cuts each
    * band's collision mass ~8× while the result set is provably
    * unchanged. Entries: (band index, right-shift, mask). */
  private val simhashBandLayout: Seq[(Int, Int, Long)] = {
    val bits = 32; val bands = 3
    val widths = Seq.tabulate(bands)(i =>
      bits / bands + (if (i < bits % bands) 1 else 0))
    val shifts = widths.scanRight(0)(_ + _).tail
    widths.zip(shifts).zipWithIndex.map { case ((w, sh), i) =>
      (i, sh, (1L << w) - 1) }
  }

  /** SimHash near-dup CANDIDATES (q37) — the step the reference-scale
    * simhash dedup runs after fingerprinting (Manku-style: documents are
    * near-dups when their signatures agree on all but a few bits; band
    * the signature so every pair within the hamming budget shares at
    * least one identical band, then verify the distance exactly on the
    * candidates). Portable md5-bit-majority signature (identical bit
    * logic to q106, which stays the signature-only twin),
    * [[simhashBandLayout]] banding, hamming ≤ 2 kept ("all but
    * a couple of bits agree" — with this corpus's shared vocabulary a
    * looser budget stops discriminating: ≤ 6 admits ~1M of the 12.5M
    * possible pairs at sf0.1, ≤ 2 keeps ~20k). Plan shape: the q106 aggregate, then one
    * (band, band-bits) self-join over |docs| × 3 band rows — never the
    * all-pairs hamming matrix. */
  def simhashCandidatesPortable(s: SparkSession, dir: String): DataFrame = {
    // the signature as ONE 32-bit integer (string bit i ⇒ weight
    // 2^(31-i)): band keys come from shifts and the hamming distance is
    // a single xor+popcount per pair. Per-pair cost is THE scale knob
    // here — the candidate join is skewed by construction (shared
    // vocabulary concentrates signatures into few band buckets, so
    // millions of pairs can land in one bucket/task); a per-character
    // comparison over the 32-char bit string was ~10× this whole
    // query's budget at sf0.1.
    // consumed by both self-join sides → materialize the signature once
    val sigs = simhashPortableSigs(s, dir)
      .withColumn("iv", conv(col("simhash"), 2, 10).cast("long"))
      .select(col("doc_id"), col("iv"))
      .ckpt
    val bandStructs = simhashBandLayout.map { case (i, sh, mask) =>
      struct(lit(i).as("band"),
        expr(s"shiftright(iv, $sh)").bitwiseAND(lit(mask)).as("bkey"))
    }
    val bands = sigs.select(col("doc_id"), col("iv"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("iv"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val a = bands.select(col("doc_id").as("id1"), col("iv").as("iv1"),
      col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("id2"), col("iv").as("iv2"),
      col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("iv1").bitwiseXOR(col("iv2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  private def simhashCandidatesOracle: String = {
    // integer signature from the bit-majority sums: bit i ⇒ 2^(31-i)
    val iv = (0 to 31)
      .map(i => s"(CASE WHEN b$i > 0 THEN ${1L << (31 - i)}::BIGINT ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id, md5(tok) AS hex FROM toks
       |), sums AS (
       |  SELECT doc_id,
       |    ${simhashSumsSql}
       |  FROM hashed GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($iv AS BIGINT) AS iv FROM sums
       |), bands AS (
       |${simhashBandLayout.map { case (i, sh, mask) =>
            s"  SELECT doc_id, iv, $i AS band, (iv >> $sh) & $mask AS bkey FROM sig"
          }.mkString("\n  UNION ALL\n")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |         a.iv AS iv1, b.iv AS iv2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT id1, id2, hamming FROM (
       |  SELECT id1, id2, CAST(bit_count(xor(iv1, iv2)) AS BIGINT) AS hamming
       |  FROM cand) t
       |WHERE hamming <= 2
       |ORDER BY id1, id2""".stripMargin
  }

  /** Unigram LM surprisal scoring (q122) — the relational form of the
    * CCNet/KenLM-style "perplexity filter": train a unigram LM on the
    * corpus itself (one vocabulary aggregate), score every document by
    * its mean per-token surprisal -log2 p(token) in bits. Low bits ≈
    * stereotypical text, high bits ≈ rare-token soup; a curation
    * pipeline thresholds both tails. (A real deployment swaps the
    * corpus LM for one trained on a trusted reference corpus — the plan
    * shape below is unchanged: the LM is a broadcast-sized table.)
    *
    * Determinism across engines: per-token surprisal is ONE log2 call
    * quantized to an integer (×10000, rounded) BEFORE the per-doc sum,
    * so the cross-row accumulation is integer (order-independent —
    * float sums would differ between Spark's partial aggregation order
    * and DuckDB's); the final mean divides the exact integer sum.
    *
    * Plan shape: tokenize once (the frame is consumed by the vocab
    * aggregate AND the scoring join → localCheckpoint), one token-keyed
    * aggregate for the LM, LM broadcast back onto token rows, one
    * doc_id aggregate. At 100 TB the vocabulary is still
    * broadcast-sized (natural-language vocab grows ~logarithmically)
    * and the big shuffle is the doc_id partial-aggregated sum. */
  def unigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .ckpt
    val tf = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum(col("cnt")).as("total"))
    val lm = tf.crossJoin(broadcast(total))
      .select(col("tok"),
        round(-log2(col("cnt").cast("double") / col("total").cast("double"))
          * 10000, 0).cast("long").as("sq"))
    tok.join(broadcast(lm), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("sq")).as("sq_sum"))
      .select(col("doc_id"), col("n_tokens"),
        // round in INTEGER space (1e-4-bit units) then divide by an exact
        // power of ten: round(double, 4) sits on different half-even/away
        // boundaries in different engines for quotients like 4.90595, but
        // round(x, 0) of the same IEEE quotient agrees everywhere and the
        // final /10000.0 maps equal longs to bit-identical doubles
        (round(col("sq_sum").cast("double") / col("n_tokens"), 0).cast("long")
          / 10000.0).as("bits_per_token"))
      .orderBy(col("doc_id"))
  }

  /** CCNet perplexity bucketing (q155) — documents split per language
    * into head / middle / tail by LM surprisal terciles (CCNet, arXiv
    * 1911.00359 §4.3: head = most-predictable third, the slice usually
    * kept for pretraining; tail = least predictable, dropped or
    * down-weighted). Surprisal is the q122 integer-unit unigram block
    * (a per-language KenLM drops into the `lm` seam unchanged);
    * tercile cut points use the q139 histogram-threshold machinery —
    * per-(lang, score) counts, a cumulative walk over the tiny distinct
    * frame, thresholds broadcast back — so there is NO corpus-wide
    * window anywhere: the corpus-sized passes are the token aggregate
    * and the per-doc sum, both key-partitioned with map-side partials.
    * Tercile rule (deterministic, tie-stable): t_k = min score with
    * cum·3 ≥ k·total; bucket = head (≤t₁) / middle (≤t₂) / tail. */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_perplexity") {
      perplexityBucketsImpl(s, dir)
    }

  private def perplexityBucketsImpl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .ckpt
    val tf = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum(col("cnt")).as("total"))
    val lm = tf.crossJoin(broadcast(total))
      .select(col("tok"),
        round(-log2(col("cnt").cast("double") / col("total").cast("double"))
          * 10000, 0).cast("long").as("sq"))
    val perDoc = tok.join(broadcast(lm), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("sq")).as("sq_sum"))
      .select(col("doc_id"), col("lang"),
        round(col("sq_sum").cast("double") / col("n_tokens"), 0)
          .cast("long").as("sqm"))
      .ckpt
    val counts = perDoc.groupBy(col("lang"), col("sqm")).agg(count(lit(1)).as("n"))
    val cum = counts
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("lang")).orderBy(col("sqm"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("lang"))))
    val t1 = cum.filter(col("cum") * 3 >= col("tot"))
      .groupBy(col("lang")).agg(min(col("sqm")).as("t1"))
    val t2 = cum.filter(col("cum") * 3 >= col("tot") * 2)
      .groupBy(col("lang")).agg(min(col("sqm")).as("t2"))
    perDoc
      .join(broadcast(t1), Seq("lang")).join(broadcast(t2), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (col("sqm") / 10000.0).as("bits_per_token"),
        when(col("sqm") <= col("t1"), "head")
          .when(col("sqm") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  private def perplexityBucketsOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
       |tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
       |tot AS (SELECT SUM(cnt) AS total FROM tf),
       |lm AS (SELECT tok,
       |              CAST(round(-log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |                         * 10000, 0) AS BIGINT) AS sq
       |       FROM tf, tot),
       |pd AS (SELECT t.doc_id, t.lang,
       |              CAST(round(SUM(lm.sq) / CAST(COUNT(*) AS DOUBLE), 0)
       |                   AS BIGINT) AS sqm
       |       FROM tok t JOIN lm USING (tok)
       |       GROUP BY t.doc_id, t.lang),
       |c AS (SELECT lang, sqm, COUNT(*) AS n FROM pd GROUP BY lang, sqm),
       |cc AS (SELECT lang, sqm,
       |              SUM(n) OVER (PARTITION BY lang ORDER BY sqm) AS cum,
       |              SUM(n) OVER (PARTITION BY lang) AS tot
       |       FROM c),
       |t1 AS (SELECT lang, MIN(sqm) AS t1 FROM cc
       |       WHERE cum * 3 >= tot GROUP BY lang),
       |t2 AS (SELECT lang, MIN(sqm) AS t2 FROM cc
       |       WHERE cum * 3 >= tot * 2 GROUP BY lang)
       |SELECT pd.doc_id, pd.lang, pd.sqm / 10000.0 AS bits_per_token,
       |       CASE WHEN pd.sqm <= t1.t1 THEN 'head'
       |            WHEN pd.sqm <= t2.t2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM pd JOIN t1 USING (lang) JOIN t2 USING (lang)
       |ORDER BY pd.doc_id""".stripMargin

  /** DSIR importance weighting (q157) — data selection via importance
    * resampling (Xie et al., arXiv 2302.03169), hashed-unigram variant:
    * documents from the raw pool are scored by how target-like their
    * hashed n-gram distribution is, log w(x) = Σ_tokens log
    * p_T(b)/p_R(b) with add-one smoothing over the 4096-bucket space
    * (the same md5 bucket hash as the q149 classifier, so one SQL
    * restatement idiom serves both). Target = doc_id < [[DsirTargetBound]]
    * (the benchmark-set convention of q86/q147); docs with positive log
    * weight are more target-like than raw-like and marked selected —
    * the deterministic core of DSIR's resampling step (the Gumbel-top-k
    * draw adds an RNG on top of exactly these weights).
    *
    * Determinism: the per-bucket log-ratio is computed from EXACT
    * integer counts — both engines divide identical sub-2⁵³ integer
    * products, so log2 sees identical doubles (the q122 parity
    * pattern), then quantizes to 1e-4-bit units; per-doc scores are
    * integer sums of those units.
    *
    * Scale shape: ONE bucket-keyed aggregate (target/raw counted in the
    * same pass via conditional sums — no second shuffle), a ≤4096-row
    * weight table broadcast back onto token rows, one doc_id aggregate.
    * The token frame feeds the count and score passes → localCheckpoint. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "txt_dsir", s"b=$DsirTargetBound") {
      dsirWeightsImpl(s, dir)
    }

  /** DSIR's target set: documents with doc_id below this bound. */
  private final val DsirTargetBound = 20

  /** The [[dsirWeights]] frame before the memo pins it — package-visible
    * so PlanSpec can assert the build plan. */
  private[graft] def dsirWeightsImpl(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .withColumn("b", Classifier.bucketOf(col("tok")))
      .ckpt
    val counts = tok.groupBy(col("b")).agg(
      sum(when(col("doc_id") < DsirTargetBound, 1L).otherwise(0L)).as("ct"),
      sum(when(col("doc_id") >= DsirTargetBound, 1L).otherwise(0L)).as("cr"))
    val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val w = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        round(log2(((col("ct") + 1L) * (col("tr") + 4096L)).cast("double") /
            ((col("cr") + 1L) * (col("tt") + 4096L)).cast("double")) * 10000, 0)
          .cast("long").as("w"))
    tok.filter(col("doc_id") >= DsirTargetBound)
      .join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("units"))
      .select(col("doc_id"), col("n_tokens"),
        (col("units") / 10000.0).as("logw"),
        (col("units") > 0).cast("int").as("selected"))
      .orderBy(col("doc_id"))
  }

  private def dsirOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |tb AS (SELECT doc_id,
       |              ('0x' || substr(md5('f:' || tok), 1, 3))::INT AS b
       |       FROM tok),
       |c AS (SELECT b,
       |             CAST(SUM(CASE WHEN doc_id < $DsirTargetBound THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS ct,
       |             CAST(SUM(CASE WHEN doc_id >= $DsirTargetBound THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS cr
       |      FROM tb GROUP BY b),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
       |               CAST(SUM(cr) AS BIGINT) AS tr FROM c),
       |w AS (SELECT b,
       |             CAST(round(log2(CAST((ct + 1) * (tr + 4096) AS DOUBLE)
       |                           / CAST((cr + 1) * (tt + 4096) AS DOUBLE))
       |                        * 10000, 0) AS BIGINT) AS w
       |      FROM c, tot)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |       CAST(SUM(w.w) AS BIGINT) / 10000.0 AS logw,
       |       CAST(CASE WHEN SUM(w.w) > 0 THEN 1 ELSE 0 END AS INT) AS selected
       |FROM tb t JOIN w USING (b)
       |WHERE t.doc_id >= $DsirTargetBound
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  private def unigramSurprisalOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
       |tot AS (SELECT SUM(cnt) AS total FROM tf),
       |lm AS (SELECT tok,
       |              CAST(round(-log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |                         * 10000, 0) AS BIGINT) AS sq
       |       FROM tf, tot)
       |SELECT t.doc_id,
       |       COUNT(*) AS n_tokens,
       |       CAST(round(SUM(lm.sq) / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
       |         / 10000.0 AS bits_per_token
       |FROM tok t JOIN lm USING (tok)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** PII scrubbing gate (q121): the synthetic corpus carries no PII, so
    * the query INJECTS deterministic synthetic PII (an email, an IPv4,
    * or an account-shaped digit run, keyed by doc_id) and proves the
    * scrubber removes exactly it — the inject-then-scrub harness a real
    * pipeline validates its redaction stage with (realistic free-text
    * cases live in TextFunctionsSpec). Output: per-doc match counts by
    * category plus the md5 of the redacted text, all restated in the
    * DuckDB oracle. One narrow projection pass, no shuffle. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val injected = d.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now")))
        .when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7")))
        .when(col("doc_id") % 5 === 2,
          concat(col("text"), lit(" acct "),
            (col("doc_id") + 1000000000L).cast("string")))
        .otherwise(col("text")).as("t"))
    val counts = TextFunctions.piiCounts(col("t"))
    injected.select(col("doc_id"),
        counts(0).cast("long").as("n_email"),
        counts(1).cast("long").as("n_ip"),
        counts(2).cast("long").as("n_id"),
        md5(TextFunctions.piiRedact(col("t"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  private def piiScrubOracle: String = {
    val email = TextFunctions.EmailRe
    val ip = TextFunctions.Ipv4Re
    val digits = TextFunctions.LongDigitsRe
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |           THEN text || ' contact user' || doc_id || '@example.com now'
       |         WHEN doc_id % 5 = 1
       |           THEN text || ' from 10.0.' || (doc_id % 256) || '.7'
       |         WHEN doc_id % 5 = 2
       |           THEN text || ' acct ' || (doc_id + 1000000000)
       |         ELSE text END AS t
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, t,
       |         regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1
       |  FROM inj),
       |st2 AS (
       |  SELECT doc_id, t, t1,
       |         regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
       |  FROM st)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ip,
       |       CAST(len(regexp_extract_all(t2, '$digits')) AS BIGINT) AS n_id,
       |       md5(regexp_replace(t2, '$digits', '<ID>', 'g')) AS redacted_md5
       |FROM st2
       |ORDER BY doc_id""".stripMargin
  }

  private def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter($toksSql, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  private def langCaseSql: String = {
    val scores = TextFunctions.LangMarkers.map { case (l, m) => l -> langScoreSql(m) }
    val whens = scores.zipWithIndex.dropRight(1).map { case ((lang, s), i) =>
      val later = scores.drop(i + 1).map(_._2)
      s"WHEN ${later.map(l2 => s"$s >= $l2").mkString(" AND ")} THEN '$lang'"
    }.mkString(" ")
    val total = scores.map(_._2).mkString(" + ")
    s"CASE WHEN $total = 0 THEN 'und' $whens ELSE '${scores.last._1}' END"
  }

  /** Per-source ADAPTIVE quality gate (q139): keep documents scoring at
    * or above their OWN source's median stopword ratio — the curation
    * pattern where thresholds adapt per domain instead of one global
    * cutoff (a global cut over-prunes clean domains and under-prunes
    * noisy ones).
    *
    * Scale shape: NO corpus-wide window. Scores are 4dp ratios (low
    * cardinality), so the median comes from a per-(source, score) COUNT
    * aggregate — map-side combinable — with the cumulative walk running
    * over the TINY (source × distinct-score) frame; each source's
    * threshold (smallest score whose doubled running count reaches the
    * total: pure integer logic, no engine-dependent quantile
    * interpolation) broadcasts back onto the corpus as one equi-join.
    * Null scores (empty docs) are excluded explicitly — Spark sorts
    * nulls first, DuckDB last, so leaving them in the walk would shift
    * cumulative counts between engines. */
  def qualityGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    adaptiveGate(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("score"), col("thr"))
      .orderBy(col("doc_id"))
  }

  /** The gate itself over ANY documents frame (doc_id, source, text) —
    * returns the surviving rows with (doc_id, source, n_tokens, score,
    * thr). Shared by q139 (whole corpus) and q143 (the curated subset). */
  private def adaptiveGate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scored feeds BOTH the threshold subtree (via the broadcast) and the
    // final join probe — localCheckpoint so the tokenize+score scan runs
    // once, not once per consumer (the q36/q94 multi-consumer pattern)
    val scored = docs
      .withColumn("toks", TextFunctions.tokensOf(
        TextFunctions.normalize(col("text"))))
      .select(col("doc_id"), col("source"),
        size(col("toks")).as("n_tokens"),
        TextFunctions.stopwordRatioOf(col("toks")).as("score"))
      .filter(col("score").isNotNull)
      .ckpt
    val counts = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("n"))
    val cum = counts
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("source")).orderBy(col("score"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("source"))))
    val thresholds = cum.filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("source")).agg(min(col("score")).as("thr"))
    scored.join(broadcast(thresholds), Seq("source"))
      .filter(col("score") >= col("thr"))
  }

  /** Cross-source score calibration (q162) — every document's quality
    * score mapped to its MIDRANK percentile within its own source
    * (basis points, integer): sources have different score
    * distributions (a news domain's median stopword ratio is not a
    * forum's), so a single global threshold over raw scores
    * systematically over-prunes some sources; calibrating to per-source
    * percentiles first makes one global cut comparable everywhere —
    * the continuous generalization of q139's median gate.
    *
    * pct_bp = (2·cum − n) · 5000 div tot — the midrank (ties share
    * their group's midpoint), computed entirely in integer space with
    * floor division, so both engines agree exactly. Same scale shape
    * as q139/q155: the corpus passes are the score scan and the
    * broadcast join back; the percentile machinery runs on the tiny
    * (source, score) histogram. */
  def scoreCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .withColumn("toks", TextFunctions.tokensOf(
        TextFunctions.normalize(col("text"))))
      .select(col("doc_id"), col("source"),
        TextFunctions.stopwordRatioOf(col("toks")).as("score"))
      .filter(col("score").isNotNull)
      .ckpt
    val counts = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("n"))
    val pct = counts
      .withColumn("cum", sum(col("n"))
        .over(Window.partitionBy(col("source")).orderBy(col("score"))))
      .withColumn("tot", sum(col("n"))
        .over(Window.partitionBy(col("source"))))
      .select(col("source"), col("score"),
        expr("(2 * cum - n) * 5000 div tot").as("pct_bp"))
    scored.join(broadcast(pct), Seq("source", "score"))
      .select(col("doc_id"), col("source"), col("score"), col("pct_bp"))
      .orderBy(col("doc_id"))
  }

  private def scoreCalibrationOracle: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |         round(len(list_filter($toksSql,
       |                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
       |               / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) AS score
       |  FROM documents
       |  WHERE round(len(list_filter($toksSql,
       |            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
       |          / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) IS NOT NULL),
       |counts AS (
       |  SELECT source, score, COUNT(*) AS n FROM scored GROUP BY 1, 2),
       |p AS (
       |  SELECT source, score,
       |         CAST((2 * SUM(n) OVER (PARTITION BY source ORDER BY score) - n)
       |              * 5000 // SUM(n) OVER (PARTITION BY source) AS BIGINT)
       |           AS pct_bp
       |  FROM counts)
       |SELECT s.doc_id, s.source, s.score, p.pct_bp
       |FROM scored s JOIN p USING (source, score)
       |ORDER BY s.doc_id""".stripMargin

  /** The CAPSTONE composition (q143): raw corpus → q109's five curation
    * gates → the q139 per-source adaptive quality gate ON THE SURVIVORS
    * (thresholds re-derived from the curated subset, as a real pipeline
    * would) → per-source training-corpus inventory. Every stage is a
    * block whose own oracle is already green; this query value-checks
    * the END-TO-END composition in one hash. */
  def trainingCorpus(s: SparkSession, dir: String): DataFrame = {
    val kept = curationPipeline(s, dir).filter(col("keep") === 1)
      .select(col("doc_id"))
    val curated = Tables.documents(s, dir).join(kept, Seq("doc_id"))
    adaptiveGate(curated)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_tokens")).cast("long").as("tokens_total"))
      .orderBy(col("source"))
  }

  /** The BPE merge rounds q141, q142 and q209 train (their oracles unroll
    * as many) over q72's top-`VocabTopK` vocabulary. */
  private final val BpeRounds = 4

  /** Distributed BPE merge training end to end (q141): four merge rounds
    * over the top-100 corpus vocabulary, output as the final symbol
    * representations of the 30 most frequent words — any divergence in
    * ANY round's pair counts, argmax tiebreak, or merge application
    * changes downstream representations and fails the hash. The oracle
    * unrolls all four rounds in SQL, scalar-subquery argmax per round,
    * with the same two-pass literal fuse. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val vocab = vocabTopK(s, dir).withColumnRenamed("token", "word")
    val (_, reps) = Bpe.train(vocab, rounds = BpeRounds)
    reps.orderBy(col("freq").desc, col("word")).limit(30)
      .select(col("word"), col("freq"), col("rep"))
  }

  private def bpeOracleSql: String = {
    def pairs(reps: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS w
         |  FROM (SELECT freq, string_split(rep, ' ') AS syms FROM $reps) t,
         |       UNNEST(range(1, len(syms))) AS u(i)
         |  GROUP BY 1, 2)""".stripMargin
    def best(p: String, out: String) =
      s"$out AS MATERIALIZED (SELECT l, r FROM $p ORDER BY w DESC, l, r LIMIT 1)"
    def fused(b: String, inner: String) =
      s"""replace(' ' || $inner || ' ',
         |        ' ' || (SELECT l FROM $b) || ' ' || (SELECT r FROM $b) || ' ',
         |        ' ' || (SELECT l FROM $b) || (SELECT r FROM $b) || ' ')""".stripMargin
    def reps(prev: String, b: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT word, freq, trim(${fused(b, fused(b, "rep"))}) AS rep
         |  FROM $prev)""".stripMargin
    val roundsSql = (1 to BpeRounds).map { k =>
      Seq(pairs(s"reps${k - 1}", s"p$k"), best(s"p$k", s"b$k"),
        reps(s"reps${k - 1}", s"b$k", s"reps$k")).mkString(",\n")
    }.mkString(",\n")
    s"""WITH vocab AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents
       |        WHERE length($norm) > 0)
       |  GROUP BY tok ORDER BY freq DESC, word LIMIT 100),
       |reps0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS rep
       |  FROM vocab),
       |$roundsSql
       |SELECT word, freq, rep FROM reps$BpeRounds
       |ORDER BY freq DESC, word
       |LIMIT 30""".stripMargin
  }

  /** BPE ENCODE end to end (q142): the four q141-trained merges applied
    * to the FULL corpus vocabulary (not just the training top-100), then
    * the corpus re-counted at the subword level — train on a sample,
    * tokenize everything, the production BPE deployment shape. Output is
    * the top-50 subword units by frequency-weighted occurrences. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val vocabAll = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val (merges, _) = Bpe.train(
      vocabTopK(s, dir).withColumnRenamed("token", "word"), rounds = BpeRounds)
    Bpe.encode(vocabAll, merges)
      .select(col("freq"), explode(split(col("rep"), " ")).as("subword"))
      .groupBy(col("subword")).agg(sum(col("freq")).as("occurrences"))
      .orderBy(col("occurrences").desc, col("subword"))
      .limit(50)
  }

  private def bpeEncodeOracleSql: String =
    s"""${bpeApplyCtes(BpeRounds)}
       |SELECT subword, CAST(SUM(freq) AS BIGINT) AS occurrences
       |FROM (SELECT freq, unnest(string_split(rep, ' ')) AS subword FROM ap$BpeRounds)
       |GROUP BY subword
       |ORDER BY occurrences DESC, subword
       |LIMIT 50""".stripMargin

  /** The q141 training chain (top-100 vocab → b1..bN) plus the merges
    * applied to the unrestricted vocabulary — the WITH prefix ending at
    * `ap$rounds` (word, freq, rep). Shared by the q142 encode oracle and
    * the q209 fertility oracle. */
  private def bpeApplyCtes(rounds: Int): String = {
    def fused(b: String, inner: String) =
      s"""replace(' ' || $inner || ' ',
         |        ' ' || (SELECT l FROM $b) || ' ' || (SELECT r FROM $b) || ' ',
         |        ' ' || (SELECT l FROM $b) || (SELECT r FROM $b) || ' ')""".stripMargin
    def pairs(reps: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS w
         |  FROM (SELECT freq, string_split(rep, ' ') AS syms FROM $reps) t,
         |       UNNEST(range(1, len(syms))) AS u(i)
         |  GROUP BY 1, 2)""".stripMargin
    def best(p: String, out: String) =
      s"$out AS MATERIALIZED (SELECT l, r FROM $p ORDER BY w DESC, l, r LIMIT 1)"
    def reps(prev: String, b: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT word, freq, trim(${fused(b, fused(b, "rep"))}) AS rep
         |  FROM $prev)""".stripMargin
    val trainSql = (1 to rounds).map { k =>
      Seq(pairs(s"tr${k - 1}", s"p$k"), best(s"p$k", s"b$k"),
        reps(s"tr${k - 1}", s"b$k", s"tr$k")).mkString(",\n")
    }.mkString(",\n")
    val applySql = (1 to rounds).map(k =>
      reps(s"ap${k - 1}", s"b$k", s"ap$k")).mkString(",\n")
    s"""WITH vocab AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents
       |        WHERE length($norm) > 0)
       |  GROUP BY tok ORDER BY freq DESC, word LIMIT 100),
       |tr0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS rep
       |  FROM vocab),
       |$trainSql,
       |vocab_all AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents
       |        WHERE length($norm) > 0)
       |  GROUP BY tok),
       |ap0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS rep
       |  FROM vocab_all),
       |$applySql""".stripMargin
  }

  private final val SourceCap = 15
  /** Per-source document caps (q207) — the Common-Crawl-style per-domain
    * cap (keep at most `SourceCap` documents per source, chosen by the
    * deterministic (md5(doc_id), doc_id) order every sampled subset in
    * this suite uses) with full before/after token accounting, so the
    * mixing report shows exactly what the cap cost each source.
    *
    * Scale shape — no per-source sort: the cap-th order key per source
    * comes from the bounded-heap `TopKAgg` (map-side partial heaps carry
    * ≤cap rows per task×source; a window row_number would SORT every
    * source's full partition). Thresholds broadcast back; keep/drop is a
    * map-side struct comparison and ONE source-keyed aggregate builds
    * the report. Sources below the cap keep everything (their threshold
    * is their max key). */
  def sourceCaps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("mk"))
      .ckpt // consumers: threshold heap + keep rollup
    val th = docs
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("mk"), col("doc_id")), SourceCap).as("tk"))
      .select(col("source"),
        element_at(col("tk"), least(lit(SourceCap), size(col("tk")))).as("th"))
    docs.join(broadcast(th), Seq("source"))
      .withColumn("kept",
        when(struct(col("mk"), col("doc_id")) <= col("th"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(col("kept") * col("n_tokens")).as("tokens_kept"))
      .withColumn("kept_bp", expr("n_kept * 10000 div n_docs"))
      .orderBy(col("source"))
  }

  private def sourceCapsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         CASE WHEN length($norm) = 0 THEN 0
       |              ELSE CAST(len($toksSql) AS BIGINT) END AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS mk
       |  FROM documents),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY mk, doc_id) AS rk FROM d)
       |SELECT source, n_docs, n_kept, tokens_total, tokens_kept,
       |       CAST(n_kept * 10000 // n_docs AS BIGINT) AS kept_bp
       |FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |             CAST(SUM(CASE WHEN rk <= $SourceCap THEN 1 ELSE 0 END) AS BIGINT)
       |               AS n_kept,
       |             CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       |             CAST(SUM(CASE WHEN rk <= $SourceCap THEN n_tokens ELSE 0 END)
       |                  AS BIGINT) AS tokens_kept
       |      FROM r GROUP BY source) t
       |ORDER BY source""".stripMargin

  /** Flesch–Kincaid readability histogram (q208): grade level per doc in
    * integer CENTI-GRADES — `39·W div S + 1180·Sy div W − 1559`, the
    * 0.39/11.8/15.59 formula with each ratio floor-divided (documented
    * quantization; both terms are non-negative so Spark `div` == DuckDB
    * `//`) — bucketed to whole grades. Words = whitespace tokens of the
    * normalized text; sentences = `[.!?]+` runs (min 1); syllables =
    * `[aeiouy]+` vowel runs (the standard heuristic; identical regex
    * semantics in Java and RE2).
    *
    * Scale shape: map-only signal extraction (three codegen'd
    * regexp passes) + one grade-bucket-bounded aggregate. The bucket key
    * shifts by +100 grades before the floor division because grade_c can
    * be slightly negative and truncating vs flooring division diverge on
    * negatives. */
  /** Per-doc FK signals + centi-grade — a stateless projection, so it
    * runs unchanged under Structured Streaming (DocStreamSpec asserts
    * stream == batch doc for doc). */
  def readabilitySignalsOf(docs: DataFrame): DataFrame = {
    val normText = TextFunctions.normalize(col("text"))
    docs
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("w"),
        greatest(lit(1L),
          size(regexp_extract_all(normText, lit("[.!?]+"), lit(0)))
            .cast("long")).as("snt"),
        size(regexp_extract_all(normText, lit("[aeiouy]+"), lit(0)))
          .cast("long").as("syl"))
      .filter(col("w") > 0)
      .select(col("doc_id"), col("w"), col("snt"), col("syl"),
        (expr("39 * w div snt") + expr("1180 * syl div w") - lit(1559L))
          .as("grade_c"))
  }

  def readabilityHistogram(s: SparkSession, dir: String): DataFrame = {
    val sig = readabilitySignalsOf(Tables.documents(s, dir))
    sig
      .withColumn("grade_bucket",
        (expr("(grade_c + 10000) div 100") - lit(100L)).cast("int"))
      .groupBy(col("grade_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("syl")).as("syllables"))
      .orderBy(col("grade_bucket"))
  }

  private val readabilityOracle: String =
    s"""WITH sig AS (
       |  SELECT CAST(len($toksSql) AS BIGINT) AS w,
       |         GREATEST(1, CAST(len(regexp_extract_all($norm, '[.!?]+'))
       |           AS BIGINT)) AS snt,
       |         CAST(len(regexp_extract_all($norm, '[aeiouy]+')) AS BIGINT)
       |           AS syl
       |  FROM documents WHERE length($norm) > 0),
       |g AS (SELECT w, snt, syl,
       |             39 * w // snt + 1180 * syl // w - 1559 AS grade_c
       |      FROM sig)
       |SELECT CAST((grade_c + 10000) // 100 - 100 AS INT) AS grade_bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(w) AS BIGINT) AS words,
       |       CAST(SUM(syl) AS BIGINT) AS syllables
       |FROM g
       |GROUP BY 1
       |ORDER BY grade_bucket""".stripMargin

  /** Tokenizer fertility per language (q209): subword tokens per word and
    * characters per subword, in integer basis points, for the q141-trained
    * BPE applied to the full corpus vocabulary — the tokenizer-equity
    * audit multilingual pipelines run before fixing a vocabulary (high
    * fertility = the language pays more sequence length per word).
    *
    * Scale shape: per-(lang, word) counts are ONE corpus aggregate; the
    * corpus-wide vocabulary derives from THAT frame (no second scan); the
    * encoded vocabulary (word → subword count) is vocabulary-sized and
    * BROADCASTS onto the per-language counts. Training cost is the q141
    * block (driver picks one merge per round from a 1-row aggregate). */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val tokLang = Tables.documents(s, dir)
      .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      .ckpt // consumers: corpus vocabulary + lang rollup
    val vocabAll = tokLang.groupBy(col("word")).agg(sum(col("cnt")).as("freq"))
    val (merges, _) = Bpe.train(
      vocabTopK(s, dir).withColumnRenamed("token", "word"), rounds = BpeRounds)
    val enc = Bpe.encode(vocabAll, merges)
      .select(col("word"), size(split(col("rep"), " ")).cast("long").as("n_sub"),
        length(col("word")).cast("long").as("n_chr"))
    tokLang.join(broadcast(enc), Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sub")).as("n_subwords"),
        sum(col("cnt") * col("n_chr")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        expr("n_subwords * 10000 div n_words").as("fertility_bp"),
        expr("n_chars * 10000 div n_subwords").as("chars_per_subword_bp"))
      .orderBy(col("lang"))
  }

  /** Held-out bigram-LM evaluation (q220): the q165 LM estimated on the
    * q126 TRAIN split and scored on the TEST split with stupid backoff
    * (Brants et al. 2007: unseen bigram → α·unigram, α = 0.4; fully
    * unseen word → 1 bp floor) — the train/eval separation every LM
    * data-ablation loop needs, with coverage rates showing how much of
    * the held-out text each model tier absorbed.
    *
    * Determinism: probabilities are integer basis points (`cnt·10⁴ div
    * c1`, `cu·4000 div T`), the mean is a floor-divided exact sum —
    * nothing engine-variable anywhere (no ln; perplexity's log-space
    * mean is covered by q122's quantized-surprisal machinery).
    *
    * Scale shape: the tokenized+split corpus materializes ONCE
    * (localCheckpoint; consumers: train bigrams, train unigrams, test
    * bigrams). Train bigram counts join the test bigrams on (w1,w2) —
    * both vocabulary²-bounded aggregates, shuffled on the same key; the
    * unigram table and the scalar total broadcast. Output is one row. */
  def holdoutLmEval(s: SparkSession, dir: String): DataFrame = {
    val toksAll = Tables.documents(s, dir)
      .select(splitOf(col("doc_id")).as("split"),
        TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .ckpt
    def bigrams(df: DataFrame) = df.filter(size(col("toks")) >= 2)
      .select(posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1))
        .as(Seq("i", "w1")), col("toks"))
      .select(col("w1"), element_at(col("toks"), col("i") + 2).as("w2"))
    val train = toksAll.filter(col("split") === "train")
    val trBi = bigrams(train)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .ckpt // consumers: c1 + the test join
    val c1 = trBi.groupBy(col("w1")).agg(sum(col("cnt")).as("c1"))
    val trUni = train.select(explode(col("toks")).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("cu"))
      .ckpt // consumers: total + the test join
    val tTot = trUni.agg(sum(col("cu")).as("t"))
    val testBi = bigrams(toksAll.filter(col("split") === "test"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("tcnt"))
    testBi
      .join(trBi, Seq("w1", "w2"), "left_outer")
      .join(broadcast(c1), Seq("w1"), "left_outer")
      .join(broadcast(trUni), Seq("w2"), "left_outer")
      .crossJoin(broadcast(tTot))
      .select(col("tcnt"),
        when(col("cnt").isNotNull, lit("hit"))
          .when(col("cu").isNotNull, lit("backoff"))
          .otherwise(lit("oov")).as("mode"),
        when(col("cnt").isNotNull, expr("cnt * 10000 div c1"))
          .when(col("cu").isNotNull, expr("cu * 4000 div t"))
          .otherwise(lit(1L)).as("p_bp"))
      .agg(sum(col("tcnt")).as("n_transitions"),
        sum(when(col("mode") === "hit", col("tcnt")).otherwise(0L)).as("hits"),
        sum(when(col("mode") === "backoff", col("tcnt")).otherwise(0L))
          .as("backs"),
        sum(when(col("mode") === "oov", col("tcnt")).otherwise(0L)).as("oovs"),
        sum(col("tcnt") * col("p_bp")).as("sum_p"))
      .select(col("n_transitions"),
        expr("hits * 10000 div n_transitions").as("hit_bp"),
        expr("backs * 10000 div n_transitions").as("backoff_bp"),
        expr("oovs * 10000 div n_transitions").as("oov_bp"),
        expr("sum_p div n_transitions").as("mean_p_bp"))
  }

  private def holdoutLmOracle: String =
    s"""WITH d AS (SELECT doc_id, $splitCaseSql AS split, $toksSql AS t
       |           FROM documents WHERE len($toksSql) >= 1),
       |trbi AS (SELECT t[i] AS w1, t[i + 1] AS w2,
       |                CAST(COUNT(*) AS BIGINT) AS cnt
       |         FROM d, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
       |         WHERE split = 'train' AND len(t) >= 2 GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM trbi GROUP BY 1),
       |uni AS (SELECT w AS w2, CAST(COUNT(*) AS BIGINT) AS cu
       |        FROM (SELECT unnest(t) AS w FROM d WHERE split = 'train')
       |        GROUP BY 1),
       |tt AS (SELECT CAST(SUM(cu) AS BIGINT) AS t FROM uni),
       |tebi AS (SELECT t[i] AS w1, t[i + 1] AS w2,
       |                CAST(COUNT(*) AS BIGINT) AS tcnt
       |         FROM d, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
       |         WHERE split = 'test' AND len(t) >= 2 GROUP BY 1, 2),
       |sc AS (SELECT tb.tcnt,
       |              CASE WHEN trbi.cnt IS NOT NULL THEN 'hit'
       |                   WHEN uni.cu IS NOT NULL THEN 'backoff'
       |                   ELSE 'oov' END AS mode,
       |              CASE WHEN trbi.cnt IS NOT NULL
       |                     THEN trbi.cnt * 10000 // c1.c1
       |                   WHEN uni.cu IS NOT NULL THEN uni.cu * 4000 // tt.t
       |                   ELSE 1 END AS p_bp
       |       FROM tebi tb
       |       LEFT JOIN trbi ON tb.w1 = trbi.w1 AND tb.w2 = trbi.w2
       |       LEFT JOIN c1 ON tb.w1 = c1.w1
       |       LEFT JOIN uni ON tb.w2 = uni.w2, tt),
       |agg AS (SELECT CAST(SUM(tcnt) AS BIGINT) AS n_transitions,
       |               CAST(SUM(CASE WHEN mode = 'hit' THEN tcnt ELSE 0 END)
       |                    AS BIGINT) AS hits,
       |               CAST(SUM(CASE WHEN mode = 'backoff' THEN tcnt ELSE 0 END)
       |                    AS BIGINT) AS backs,
       |               CAST(SUM(CASE WHEN mode = 'oov' THEN tcnt ELSE 0 END)
       |                    AS BIGINT) AS oovs,
       |               CAST(SUM(tcnt * p_bp) AS BIGINT) AS sum_p
       |        FROM sc)
       |SELECT n_transitions,
       |       CAST(hits * 10000 // n_transitions AS BIGINT) AS hit_bp,
       |       CAST(backs * 10000 // n_transitions AS BIGINT) AS backoff_bp,
       |       CAST(oovs * 10000 // n_transitions AS BIGINT) AS oov_bp,
       |       CAST(sum_p // n_transitions AS BIGINT) AS mean_p_bp
       |FROM agg""".stripMargin

  private final val IncrementalComponentsK = 20
  /** Incremental connected-components maintenance (q221): near-dup
    * clusters for the 90% base corpus (the q126 train split), then the
    * remaining 10% "new crawl" merges in WITHOUT re-clustering the base —
    * base components CONTRACT to their labels, delta edges rewrite onto
    * those labels, and a second (small) CC run over the contracted graph
    * converges in rounds bounded by the DELTA's structure. Because base
    * labels are min-ids, the contracted min-label fixpoint equals the
    * full-graph clustering exactly — which is what the oracle checks (it
    * clusters ALL edges from scratch). The graph twin of q170's
    * incremental index refresh.
    *
    * Scale shape: the expensive stages (shingling, candidate generation,
    * Jaccard verification) run once over the full corpus here because
    * the QUERY is self-contained; in production the base's edges and
    * labels persist and only delta-touching edges are new. The
    * contraction itself is two broadcast-sized label joins; the second
    * CC runs over a graph no larger than (|delta edges| + touched base
    * components). */
  def incrementalComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ids = docs.select(col("doc_id"),
      (splitOf(col("doc_id")) === "train").cast("int").as("is_base"))
      .ckpt
    // the expensive stages (shingling, candidates, verification) are the
    // PINNED shared edge frame (memo); only the base/delta annotation
    // and the two CC runs are this query's own work
    val edges = verifiedEdgesM(s, dir)
      .select(col("id1").as("src"), col("id2").as("dst"))
      .join(ids.select(col("doc_id").as("src"), col("is_base").as("ba")),
        Seq("src"))
      .join(ids.select(col("doc_id").as("dst"), col("is_base").as("bb")),
        Seq("dst"))
      .ckpt // consumers: base CC + delta contraction
    val baseEdges = edges.filter(col("ba") === 1 && col("bb") === 1)
      .select(col("src"), col("dst"))
    val baseNodes = ids.filter(col("is_base") === 1)
      .select(col("doc_id").as("id"))
    val baseComp = Dedup.connectedComponents(baseEdges, baseNodes)
      .select(col("id").as("doc_id"), col("component").as("lab"))
      .ckpt // consumers: contraction + final expansion
    // every doc's first-stage label: base docs → base component, new
    // docs → themselves
    val lab1 = ids.join(baseComp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("l1"))
      .ckpt
    val deltaEdges = edges.filter(col("ba") === 0 || col("bb") === 0)
      .join(lab1.select(col("doc_id").as("src"), col("l1").as("la")), Seq("src"))
      .join(lab1.select(col("doc_id").as("dst"), col("l1").as("lb")), Seq("dst"))
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("src"), col("lb").as("dst"))
    val contractedNodes = lab1.select(col("l1").as("id")).distinct()
    val c2 = Dedup.connectedComponents(deltaEdges, contractedNodes)
      .select(col("id").as("l1"), col("component"))
    lab1.join(c2, Seq("l1"))
      .groupBy(col("component")).agg(count(lit(1)).as("csize"))
      .filter(col("csize") >= 2)
      .orderBy(col("csize").desc, col("component")).limit(IncrementalComponentsK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("csize").desc, col("component"))))
      .orderBy(col("rn"))
  }

  private def incrementalComponentsOracle: String =
    s"""WITH RECURSIVE $verifiedEdgeCtes,
       |e AS (SELECT id1 AS src, id2 AS dst FROM e0
       |      UNION SELECT id2, id1 FROM e0),
       |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
       |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
       |comp AS (SELECT id, CAST(MIN(reach) AS BIGINT) AS component
       |         FROM r GROUP BY id),
       |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
       |       FROM comp GROUP BY component)
       |SELECT component, csize, rn FROM (
       |  SELECT component, csize,
       |         CAST(ROW_NUMBER() OVER (ORDER BY csize DESC, component)
       |              AS INT) AS rn
       |  FROM cs WHERE csize >= 2) t
       |WHERE rn <= $IncrementalComponentsK
       |ORDER BY rn""".stripMargin

  /** Classifier calibration curve (q222): the q149 hashed classifier's
    * scores cut into deciles (boundaries from the score histogram — the
    * q139/q162 threshold discipline, never a corpus NTILE), with the
    * q158 Gopher verdict as the reference label per bucket — the
    * reliability diagram that shows whether "higher score" actually
    * means "more likely to pass quality", before anyone trusts the
    * classifier as a cheap gate.
    *
    * Scale shape: both signals are map-only projections joined on
    * doc_id (one co-keyed shuffle); the scored frame checkpoints once
    * (consumers: histogram + bucket rollup); decile cuts derive from
    * the distinct-score histogram and travel as a broadcast 9-element
    * array, bucket assignment is a map-side HOF over that array. Mean
    * score per bucket divides as sign·abs (scores are signed). */
  def calibrationCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val scored = docs
      .withColumn("toks", TextFunctions.tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), graft.functions.ClassifierScore.score(col("toks"))
        .as("score"))
      .join(gopherVerdictsOf(docs).select(col("doc_id"), col("keep")),
        Seq("doc_id"))
      .ckpt // consumers: score histogram + bucket rollup
    val h = scored.groupBy(col("score")).agg(count(lit(1)).as("n"))
    val cum = h
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(h.agg(sum(col("n")).as("tot"))))
    val cutCols = (1 to 9).map(kk =>
      min(when(col("cum") * 10 >= col("tot") * kk, col("score"))).as(s"c$kk"))
    val cuts = cum.agg(cutCols.head, cutCols.tail: _*)
      .select(array((1 to 9).map(kk => col(s"c$kk")): _*).as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile",
        (size(filter(col("cuts"), c => c < col("score"))) + 1))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"),
        sum(col("score")).as("sum_score"))
      .select(col("decile"), col("n_docs"),
        expr("n_keep * 10000 div n_docs").as("keep_bp"),
        col("min_score"), col("max_score"),
        (signum(col("sum_score")).cast("long") *
          expr("abs(sum_score) div n_docs")).as("mean_score"))
      .orderBy(col("decile"))
  }

  private def calibrationOracle: String =
    s"""WITH sc0 AS (${Classifier.oracle}),
       |g AS ($gopherOracle),
       |j AS (SELECT sc0.doc_id, sc0.score, g.keep
       |      FROM sc0 JOIN g USING (doc_id)),
       |h AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1),
       |c AS (SELECT score, n, SUM(n) OVER (ORDER BY score) AS cum,
       |             (SELECT SUM(n) FROM h) AS tot
       |      FROM h),
       |cuts AS (SELECT ${(1 to 9).map(kk =>
              s"MIN(CASE WHEN cum * 10 >= tot * $kk THEN score END) AS c$kk")
              .mkString(", ")}
       |         FROM c),
       |b AS (SELECT j.*, 1 + ${(1 to 9).map(kk =>
              s"(CASE WHEN cuts.c$kk < j.score THEN 1 ELSE 0 END)")
              .mkString(" + ")} AS decile
       |      FROM j, cuts)
       |SELECT CAST(decile AS INT) AS decile,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(keep) * 10000 // COUNT(*) AS BIGINT) AS keep_bp,
       |       CAST(MIN(score) AS BIGINT) AS min_score,
       |       CAST(MAX(score) AS BIGINT) AS max_score,
       |       CAST(sign(SUM(score)) * (abs(SUM(score)) // COUNT(*))
       |            AS BIGINT) AS mean_score
       |FROM b
       |GROUP BY decile
       |ORDER BY decile""".stripMargin

  private def fertilityOracleSql: String =
    s"""${bpeApplyCtes(BpeRounds)},
       |tl AS (SELECT lang, tok AS word, COUNT(*) AS cnt
       |       FROM (SELECT lang, unnest($toksSql) AS tok FROM documents
       |             WHERE length($norm) > 0)
       |       GROUP BY 1, 2),
       |enc AS (SELECT word, CAST(len(string_split(rep, ' ')) AS BIGINT)
       |          AS n_sub, CAST(length(word) AS BIGINT) AS n_chr
       |        FROM ap$BpeRounds)
       |SELECT lang, n_words, n_subwords,
       |       CAST(n_subwords * 10000 // n_words AS BIGINT) AS fertility_bp,
       |       CAST(n_chars * 10000 // n_subwords AS BIGINT)
       |         AS chars_per_subword_bp
       |FROM (SELECT tl.lang, CAST(SUM(tl.cnt) AS BIGINT) AS n_words,
       |             CAST(SUM(tl.cnt * enc.n_sub) AS BIGINT) AS n_subwords,
       |             CAST(SUM(tl.cnt * enc.n_chr) AS BIGINT) AS n_chars
       |      FROM tl JOIN enc ON tl.word = enc.word GROUP BY 1) t
       |ORDER BY lang""".stripMargin

  /** The q109 curation CTE stack (base signals, repetition measures,
    * contamination, exact-dedup keepers, per-doc flags) — shared by the
    * q109 verdict oracle and the q143 end-to-end composition. */
  private def curationFlagsCtes: String =
    s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN length($norm) = 0 THEN 0
         |         ELSE CAST(len($toksSql) AS INT) END AS n_tokens,
         |    round(len(list_filter($toksSql,
         |            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |          / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) AS sw,
         |    $langCaseSql AS pred,
         |    md5($norm) AS fp
         |  FROM documents),
         |tok AS (SELECT doc_id, $toksSql AS t FROM documents
         |        WHERE len($toksSql) >= 3),
         |b AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
         |      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS s(i)),
         |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY doc_id, g),
         |bs AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM bc GROUP BY doc_id),
         |t3 AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)),
         |ts AS (SELECT doc_id, COUNT(DISTINCT g) AS d, COUNT(*) AS tot3
         |       FROM t3 GROUP BY doc_id),
         |tok4 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh4 AS (SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
         |        FROM tok4, UNNEST(generate_series(1, len(t) - 3)) AS s(i)
         |        WHERE len(t) >= 4),
         |bench AS (SELECT DISTINCT g FROM sh4 WHERE doc_id < 5),
         |cont AS (SELECT DISTINCT sh4.doc_id FROM sh4 JOIN bench USING (g)
         |         WHERE sh4.doc_id >= 5),
         |keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM base GROUP BY fp),
         |flags AS (
         |  SELECT base.doc_id,
         |    CASE WHEN pred = 'en' THEN 1 ELSE 0 END AS lang_ok,
         |    CASE WHEN coalesce(sw, 0) >= 0.05 AND n_tokens >= 20
         |         THEN 1 ELSE 0 END AS quality_ok,
         |    CASE WHEN coalesce(round(mx / CAST(bs.tot AS DOUBLE), 4), 0) <= 0.2
         |          AND coalesce(round(1.0 - d / CAST(tot3 AS DOUBLE), 4), 0) <= 0.1
         |         THEN 1 ELSE 0 END AS repetition_ok,
         |    CASE WHEN base.doc_id >= 5 AND cont.doc_id IS NULL
         |         THEN 1 ELSE 0 END AS not_contaminated,
         |    CASE WHEN base.doc_id = k.keeper THEN 1 ELSE 0 END AS is_keeper
         |  FROM base
         |  LEFT JOIN bs ON base.doc_id = bs.doc_id
         |  LEFT JOIN ts ON base.doc_id = ts.doc_id
         |  LEFT JOIN cont ON base.doc_id = cont.doc_id
         |  JOIN keepers k ON base.fp = k.fp)
         |""".stripMargin

  /** Winnowing fingerprint near-dup candidates (q174) — the MOSS
    * content-sketch route to substring-level duplicate detection
    * (Schleimer/Wilkerson/Aiken SIGMOD'03), complementing token-set
    * MinHash (q36): any shared substring of ≥ w+k−1 = 21 normalized
    * chars guarantees a shared fingerprint, so it catches copied
    * PASSAGES even when whole-document token sets diverge.
    *
    * Fingerprints come from the one-pass `WinnowFingerprints` expression
    * (map-side; sketch density ~2/(w+1) per char — the only rows that
    * reach a shuffle). Pairing is the bucketed-postings shape shared with
    * q36/q171: per-hash document lists, DF-CAPPED at `WinnowDfCap` (a
    * ubiquitous boilerplate fingerprint would otherwise create one
    * quadratic bucket; at the cap the pair volume is bounded by
    * Σ df² ≤ WinnowDfCap · Σ df — linear in sketch volume), pair
    * score = shared fingerprint count, reported with the overlap
    * coefficient against the smaller sketch. The md5-prefix gram hash
    * is engine-portable, so the ENTIRE pipeline — sketch selection
    * included — is value-checked by the window-enumeration oracle. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    // consumers: fc, df, both pair sides — and q295's winnow audit arm
    // reads the SAME frame, so it is session-pinned (d19 memo)
    val fps = winnowFpsM(s, dir)
    val fc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val rareH = fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowDfCap).select(col("h"))
    val rare = fps.join(rareH, Seq("h"))
    val pairs = rare.select(col("h"), col("doc_id").as("id1"))
      .join(rare.select(col("h"), col("doc_id").as("id2")), Seq("h"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= WinnowMinShared)
    pairs
      .join(fc.select(col("doc_id").as("id1"), col("nfp").as("nf1")), Seq("id1"))
      .join(fc.select(col("doc_id").as("id2"), col("nfp").as("nf2")), Seq("id2"))
      .filter(col("shared_fps") * lit(1.0) / least(col("nf1"), col("nf2"))
        >= WinnowMinOverlap)
      .select(col("id1"), col("id2"), col("shared_fps"),
        round(col("shared_fps") * lit(1.0) / least(col("nf1"), col("nf2")), 4)
          .as("overlap"))
      .orderBy(col("id1"), col("id2"))
  }

  private final val WeightedSampleK = 200
  /** Weighted sampling WITHOUT replacement (q178) — the Efraimidis–
    * Spirakis A-Res scheme: each document draws key = ln(uᵢ)/wᵢ from a
    * deterministic per-doc uniform uᵢ ∈ (0,1] (md5-derived, seed-free) and
    * the k LARGEST keys form the sample, which provably equals sequential
    * weighted draws without replacement (Efraimidis & Spirakis, IPL 97(5),
    * 2006). Weight = document length — the "sample long documents
    * preferentially, but give every doc a chance" curriculum draw, the
    * non-uniform complement of q71's stratified and q95's equal-quota
    * samples.
    *
    * Scale shape: keys are map-side arithmetic on the scan (no shuffle);
    * the top-k plans as TakeOrderedAndProject — per-partition heaps of k
    * rows merged on ONE reducer, the only correct distributed shape for
    * a global weighted draw (a corpus-wide sort would shuffle everything;
    * per-partition quotas would bias the draw). The rank window then runs
    * over k rows, never the corpus. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars"), lit(1L)).as("weight"),
        // u in (0,1]: 48 md5 bits + 1 over 2^48
        ((conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("long") + 1L) / lit(281474976710656.0)).as("u"))
      .withColumn("es_key", log(col("u")) / col("weight"))
    keyed
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(WeightedSampleK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("es_key").desc, col("doc_id"))))
      .select(col("rn"), col("doc_id"), col("source"), col("weight"),
        round(col("es_key"), 6).as("es_key"))
      .orderBy(col("rn"))
  }

  private def weightedSampleOracle: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, source, greatest(n_chars, 1) AS weight,
       |         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
       |             + 1) / 281474976710656.0) / greatest(n_chars, 1) AS es_key
       |  FROM documents),
       |r AS (SELECT keyed.*,
       |             CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id)
       |                  AS INT) AS rn
       |      FROM keyed)
       |SELECT rn, doc_id, source, CAST(weight AS BIGINT) AS weight,
       |       round(es_key, 6) AS es_key
       |FROM r WHERE rn <= $WeightedSampleK
       |ORDER BY rn""".stripMargin

  /** Temperature-scaled source rebalancing (q180) — the multilingual-
    * corpus mixing rule (pᵢ ∝ fᵢ^α): sampling shares proportional to the
    * α-power of each source's token share flatten the head and lift the
    * tail. α = 1/2 here, so the share math runs on `sqrt` — the ONE
    * transcendental IEEE 754 requires correctly rounded, making every
    * derived threshold bit-identical across engines (α = 0.3's `pow`
    * carries no such guarantee). Document selection then hashes into
    * per-source keep-rates exactly like q113's budget mix: bucket =
    * 16 md5 bits, keep iff bucket < floor(rate · 65536).
    *
    * Scale shape: per-source token totals are one map-side-combined
    * aggregate; the share table is source-cardinality-sized and
    * BROADCASTS back onto the scan; selection is a map-side filter. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    budgetMix(s, dir, sqrt(col("toks_s").cast("double")))

  private def temperatureMixOracle: String =
    s"""WITH d AS (SELECT doc_id, source,
       |                  CAST(CASE WHEN length($norm) = 0 THEN 0
       |                            ELSE len($toksSql) END AS BIGINT) AS nt
       |           FROM documents),
       |b AS (SELECT source, SUM(nt) AS toks_s FROM d GROUP BY source),
       |t AS (SELECT SUM(toks_s) AS total, SUM(sqrt(CAST(toks_s AS DOUBLE)))
       |        AS sum_sq FROM b),
       |rates AS (SELECT b.source,
       |                 CAST(floor(least(1.0,
       |                   ($MixBudgetFrac * t.total *
       |                    (sqrt(CAST(b.toks_s AS DOUBLE)) / t.sum_sq)) /
       |                   CAST(b.toks_s AS DOUBLE)) * 65536) AS INT) AS thr
       |          FROM b, t)
       |SELECT d.source, r.thr, COUNT(*) AS docs_kept,
       |       CAST(SUM(d.nt) AS BIGINT) AS tokens_kept
       |FROM d JOIN rates r ON d.source = r.source
       |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT < r.thr
       |GROUP BY d.source, r.thr
       |ORDER BY d.source""".stripMargin

  private final val PmiMinCount = 5
  private final val PmiK = 30
  /** PMI collocations (q185) — pointwise mutual information over adjacent
    * token pairs (ln P(ab)/(P(a)P(b))), the corpus-linguistics ranking
    * that surfaces COLLOCATIONS (pairs gluing together far beyond chance)
    * where raw bigram counts (q165) just surface frequent words. Min-count
    * 5 applies the standard sparse-PMI guard.
    *
    * Engine-exact ordering: the rank key is the PROBABILITY RATIO
    * cnt·Nu²/(c(a)·c(b)·Nb) — one double expression over exact longs,
    * identical in both engines operation for operation — with ln applied
    * only to the 4dp-rounded OUTPUT column (ln is not correctly-rounded
    * by IEEE; ordering by the monotone-equivalent ratio sidesteps it).
    *
    * Scale shape: bigram + unigram counts are two map-side-combined
    * aggregates; the unigram table is vocabulary-sized and BROADCASTS
    * onto bigram rows twice; top-k is TakeOrderedAndProject. */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val tokall = Tables.documents(s, dir)
      .select(TextFunctions.tokens(col("text")).as("toks"))
      .ckpt // consumers: unigrams, bigrams
    val uni = tokall.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .ckpt
    val nu = uni.agg(sum(col("c")).as("nu"))
    val bi = tokall.filter(size(col("toks")) >= 2)
      .select(posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1))
        .as(Seq("i", "w1")), col("toks"))
      .select(col("w1"), element_at(col("toks"), col("i") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= PmiMinCount)
      .ckpt
    val nb = bi.agg(sum(col("cnt")).as("nb"))
    val scored = bi
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("ca"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("cb"))), Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("ratio",
        (col("cnt").cast("double") * col("nu") * col("nu")) /
          (col("ca").cast("double") * col("cb") * col("nb")))
    scored
      .orderBy(col("ratio").desc, col("w1"), col("w2"))
      .limit(PmiK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ratio").desc, col("w1"), col("w2"))))
      .select(col("w1"), col("w2"), col("cnt"),
        round(log(col("ratio")), 4).as("pmi"), col("rn"))
      .orderBy(col("rn"))
  }

  private def pmiOracle: String =
    s"""WITH tokall AS (SELECT $toksSql AS t FROM documents),
       |uni AS (SELECT tok AS w, COUNT(*) AS c
       |        FROM (SELECT unnest(t) AS tok FROM tokall) u GROUP BY 1),
       |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
       |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS cnt
       |       FROM (SELECT t FROM tokall WHERE len(t) >= 2) tok2,
       |            UNNEST(generate_series(1, len(t) - 1)) AS u(i)
       |       GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinCount),
       |nb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nb FROM bi),
       |sc AS (SELECT b.w1, b.w2, b.cnt,
       |              (CAST(b.cnt AS DOUBLE) * nu.nu * nu.nu) /
       |              (CAST(ua.c AS DOUBLE) * ub.c * nb.nb) AS ratio
       |       FROM bi b JOIN uni ua ON ua.w = b.w1
       |                 JOIN uni ub ON ub.w = b.w2, nu, nb),
       |r AS (SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
       |             round(ln(ratio), 4) AS pmi,
       |             CAST(ROW_NUMBER() OVER (ORDER BY ratio DESC, w1, w2)
       |                  AS INT) AS rn
       |      FROM sc)
       |SELECT w1, w2, cnt, pmi, rn FROM r WHERE rn <= $PmiK
       |ORDER BY rn""".stripMargin

  /** q174 oracle: winnowing by explicit window enumeration — every gram
    * joins each of the w windows covering it, per-window argmin by
    * (hash ASC, pos DESC), distinct selections, then the same df-capped
    * postings pairing. */
  private def winnowOracle: String =
    s"""WITH n AS (SELECT doc_id, $norm AS t FROM documents),
       |g AS (SELECT doc_id, i AS pos, substring(md5(substring(t, i, $WinnowK)), 1, 8) AS h
       |      FROM n, LATERAL unnest(generate_series(1, length(t) - ${WinnowK - 1}))
       |        AS u(i)
       |      WHERE length(t) >= $WinnowK),
       |gc AS (SELECT doc_id, COUNT(*) AS gcnt FROM g GROUP BY doc_id),
       |wins AS (SELECT g.doc_id, g.pos - o.off AS win, g.pos, g.h
       |         FROM g JOIN gc USING (doc_id),
       |              LATERAL unnest(generate_series(0, ${WinnowW - 1})) AS o(off)
       |         WHERE g.pos - o.off >= 1
       |           AND g.pos - o.off <= greatest(1, gc.gcnt - ${WinnowW - 1})),
       |sel AS (SELECT doc_id, win, pos, h,
       |               ROW_NUMBER() OVER (PARTITION BY doc_id, win
       |                 ORDER BY h, pos DESC) AS rn
       |        FROM wins),
       |fpd AS (SELECT DISTINCT doc_id, h FROM sel WHERE rn = 1),
       |fc AS (SELECT doc_id, COUNT(*) AS nfp FROM fpd GROUP BY doc_id),
       |df AS (SELECT h, COUNT(*) AS df FROM fpd GROUP BY h),
       |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |          FROM fpd a JOIN fpd b ON a.h = b.h AND a.doc_id < b.doc_id
       |          JOIN df ON df.h = a.h
       |          WHERE df.df <= $WinnowDfCap
       |          GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared)
       |SELECT p.id1, p.id2, CAST(p.shared AS BIGINT) AS shared_fps,
       |       round(p.shared * 1.0 / least(f1.nfp, f2.nfp), 4) AS overlap
       |FROM pairs p JOIN fc f1 ON f1.doc_id = p.id1
       |             JOIN fc f2 ON f2.doc_id = p.id2
       |WHERE p.shared * 1.0 / least(f1.nfp, f2.nfp) >= $WinnowMinOverlap
       |ORDER BY p.id1, p.id2""".stripMargin

  /** Mojibake (double-encoded UTF-8) audit + repair (q274) — the ingest
    * cleanup every multi-source text pipeline runs before anything else
    * touches the corpus. The fixtures are ASCII, so the query stages the
    * corruption itself with engine-portable `replace`: inject "é"
    * ("the"→"thé"), then corrupt exactly as a Latin-1 mis-decode would
    * ("é"→"Ã©"). The native scan ([[graft.functions.GraftStrings
    * .fixMojibake]]) detects and repairs; the frame gates that EVERY
    * repaired doc equals its clean twin (n_exact_repairs), with the
    * DuckDB oracle deriving the expected counts from the same replace
    * formulas — the q238 formula-oracle discipline, applied to text.
    * Scale shape: pure map-side (one codegen'd byte scan per doc) into a
    * global aggregate; no shuffle carries document text. */
  def mojibakeAudit(s: SparkSession, dir: String): DataFrame = {
    val G = graft.functions.GraftStrings
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("replace(text, 'the', 'thé')").as("clean"),
        expr("replace(replace(text, 'the', 'thé'), 'é', 'Ã©')").as("corrupt"))
      .select(
        G.mojibakeCountCol(col("corrupt")).as("n_seqs"),
        (G.fixMojibakeCol(col("corrupt")) === col("clean"))
          .cast("long").as("exact"),
        (length(col("corrupt")) - length(col("clean"))).as("len_delta"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_seqs") > 0).cast("long")).as("n_corrupted"),
        sum(col("n_seqs")).as("n_seqs"),
        sum(col("exact")).as("n_exact_repairs"),
        sum(col("len_delta").cast("long")).as("len_delta"))
  }

  private val mojibakeOracle: String =
    // injected-é count per doc = non-overlapping 'the' occurrences
    // (deletion length delta / 3); each 'é'→'Ã©' then adds one char and
    // one repairable sequence. The oracle asserts every repair is
    // exact — the Spark side PROVES it by comparing repaired text to
    // the clean twin.
    """WITH per AS (
      |  SELECT (length(text) - length(replace(text, 'the', ''))) // 3 AS n
      |  FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_corrupted,
      |       CAST(SUM(n) AS BIGINT) AS n_seqs,
      |       CAST(COUNT(*) AS BIGINT) AS n_exact_repairs,
      |       CAST(SUM(n) AS BIGINT) AS len_delta
      |FROM per""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q274_mojibake_audit", (s, d) => mojibakeAudit(s, d),
      Some(mojibakeOracle)),
    Q("q174_winnow_candidates", (s, d) => winnowPairs(s, d),
      Some(winnowOracle)),
    Q("q178_weighted_sample", (s, d) => weightedSample(s, d),
      Some(weightedSampleOracle)),
    Q("q185_pmi_collocations", (s, d) => pmiCollocations(s, d),
      Some(pmiOracle)),
    Q("q180_temperature_mix", (s, d) => temperatureMix(s, d),
      Some(temperatureMixOracle)),
    Q("q143_training_corpus", (s, d) => trainingCorpus(s, d), Some(
      s"""$curationFlagsCtes,
         |kept AS (
         |  SELECT doc_id FROM flags
         |  WHERE lang_ok = 1 AND quality_ok = 1 AND repetition_ok = 1
         |    AND not_contaminated = 1 AND is_keeper = 1),
         |scored AS (
         |  SELECT d.doc_id, d.source,
         |         CASE WHEN length($norm) = 0 THEN 0
         |              ELSE CAST(len($toksSql) AS INT) END AS n_tokens,
         |         round(len(list_filter($toksSql,
         |                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |               / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) AS score
         |  FROM documents d JOIN kept USING (doc_id)),
         |scored2 AS (SELECT * FROM scored WHERE score IS NOT NULL),
         |counts AS (
         |  SELECT source, score, COUNT(*) AS n FROM scored2 GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, score, n,
         |         SUM(n) OVER (PARTITION BY source ORDER BY score) AS cum,
         |         SUM(n) OVER (PARTITION BY source) AS tot
         |  FROM counts),
         |thr AS (
         |  SELECT source, min(score) AS thr FROM cum
         |  WHERE cum * 2 >= tot GROUP BY source)
         |SELECT s.source, COUNT(*) AS docs_kept,
         |       CAST(SUM(s.n_tokens) AS BIGINT) AS tokens_total
         |FROM scored2 s JOIN thr t USING (source)
         |WHERE s.score >= t.thr
         |GROUP BY s.source
         |ORDER BY s.source""".stripMargin)),
    Q("q142_bpe_encode", (s, d) => bpeEncode(s, d), Some(bpeEncodeOracleSql)),
    Q("q207_source_caps", (s, d) => sourceCaps(s, d),
      Some(sourceCapsOracle)),
    Q("q220_holdout_lm_eval", (s, d) => holdoutLmEval(s, d),
      Some(holdoutLmOracle)),
    Q("q221_incremental_components", (s, d) => incrementalComponents(s, d),
      Some(incrementalComponentsOracle)),
    Q("q222_calibration_curve", (s, d) => calibrationCurve(s, d),
      Some(calibrationOracle)),
    Q("q208_readability", (s, d) => readabilityHistogram(s, d),
      Some(readabilityOracle)),
    Q("q209_tokenizer_fertility", (s, d) => tokenizerFertility(s, d),
      Some(fertilityOracleSql)),
    Q("q141_bpe_train", (s, d) => bpeTrain(s, d), Some(bpeOracleSql)),
    Q("q139_quality_gate", (s, d) => qualityGate(s, d), Some(
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |         round(len(list_filter($toksSql,
         |                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |               / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) AS score
         |  FROM documents
         |  WHERE round(len(list_filter($toksSql,
         |            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |          / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) IS NOT NULL),
         |counts AS (
         |  SELECT source, score, COUNT(*) AS n FROM scored GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, score, n,
         |         SUM(n) OVER (PARTITION BY source ORDER BY score) AS cum,
         |         SUM(n) OVER (PARTITION BY source) AS tot
         |  FROM counts),
         |thr AS (
         |  SELECT source, min(score) AS thr FROM cum
         |  WHERE cum * 2 >= tot GROUP BY source)
         |SELECT s.doc_id, s.source, s.score, t.thr
         |FROM scored s JOIN thr t USING (source)
         |WHERE s.score >= t.thr
         |ORDER BY s.doc_id""".stripMargin)),
    Q("q90_minhash_banding", (s, d) => minhashBandingPortable(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
         |       WHERE len(t) >= 3),
         |hj AS (SELECT doc_id, j,
         |              substr(md5(g), j * 4 + 1, 4) AS h
         |       FROM sh, UNNEST(generate_series(0, 7)) AS p(j)),
         |mins AS (SELECT doc_id, j, MIN(h) AS m FROM hj GROUP BY doc_id, j),
         |buckets AS (SELECT doc_id, j // 4 AS band,
         |                   md5(string_agg(m, ',' ORDER BY j)) AS bucket
         |            FROM mins GROUP BY doc_id, j // 4)
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
         |WHERE a.doc_id < b.doc_id
         |ORDER BY id1, id2""".stripMargin)),
    Q("q88_token_pack", (s, d) => packTokens(s, d), Some(
      s"""WITH t AS (SELECT doc_id,
         |             CASE WHEN length($norm) = 0 THEN 0
         |                  ELSE CAST(len($toksSql) AS INT) END AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
         |      FROM t)
         |SELECT doc_id, n_tokens,
         |       CAST(pre // 512 AS BIGINT) AS bin,
         |       CAST(pre % 512 AS BIGINT) AS off
         |FROM c ORDER BY doc_id""".stripMargin)),
    Q("q86_contamination", (s, d) => contamination(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 3)) AS s(i)
         |       WHERE len(t) >= 4),
         |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 5),
         |hits AS (SELECT sh.doc_id, COUNT(DISTINCT sh.g) AS n_hits
         |         FROM sh JOIN bench USING (g)
         |         WHERE sh.doc_id >= 5 GROUP BY sh.doc_id)
         |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits FROM hits
         |ORDER BY doc_id""".stripMargin)),
    Q("q108_bloom_contamination", (s, d) => contaminationBloom(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 3)) AS s(i)
         |       WHERE len(t) >= 4),
         |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 5),
         |hits AS (SELECT sh.doc_id, COUNT(DISTINCT sh.g) AS n_hits
         |         FROM sh JOIN bench USING (g)
         |         WHERE sh.doc_id >= 5 GROUP BY sh.doc_id)
         |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits FROM hits
         |ORDER BY doc_id""".stripMargin)),
    Q("q87_repetition", (s, d) => repetitionScores(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents
         |             WHERE len($toksSql) >= 3),
         |b AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
         |      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS s(i)),
         |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY doc_id, g),
         |bs AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM bc GROUP BY doc_id),
         |t3 AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)),
         |ts AS (SELECT doc_id, COUNT(DISTINCT g) AS d, COUNT(*) AS tot3
         |       FROM t3 GROUP BY doc_id)
         |SELECT bs.doc_id AS doc_id,
         |       round(mx / CAST(bs.tot AS DOUBLE), 4) AS top_bigram_frac,
         |       round(1.0 - d / CAST(tot3 AS DOUBLE), 4) AS dup_trigram_frac,
         |       CAST(round(mx / CAST(bs.tot AS DOUBLE), 4) <= 0.2
         |            AND round(1.0 - d / CAST(tot3 AS DOUBLE), 4) <= 0.1 AS INT) AS keep
         |FROM bs JOIN ts ON bs.doc_id = ts.doc_id
         |ORDER BY doc_id""".stripMargin)),
    Q("q245_doc_chunks", (s, d) => docChunks(s, d), Some(docChunksOracle)),
    Q("q251_boilerplate_chunks", (s, d) => boilerplateChunks(s, d),
      Some(boilerplateChunksOracle)),
    Q("q30_dedup_exact", (s, d) => dedupExact(s, d), Some(
      s"""SELECT md5($norm) AS text_hash, MIN(doc_id) AS keeper_id,
         |       COUNT(*) AS dup_cnt
         |FROM documents
         |GROUP BY md5($norm)
         |ORDER BY text_hash""".stripMargin)),
    Q("q31_token_counts", (s, d) => tokenCounts(s, d), Some(
      s"""SELECT doc_id,
         |       CASE WHEN length($norm) = 0 THEN 0
         |            ELSE CAST(len($toksSql) AS INT) END AS n_tokens
         |FROM documents
         |ORDER BY doc_id""".stripMargin)),
    Q("q32_quality_scores", (s, d) => qualityScores(s, d), Some(
      s"""SELECT doc_id,
         |  CASE WHEN length($norm) = 0 THEN 0
         |       ELSE CAST(len($toksSql) AS INT) END AS n_tokens,
         |  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
         |        / CAST(nullif(length(text), 0) AS DOUBLE), 4) AS punct_ratio,
         |  round(len(list_filter($toksSql,
         |          x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |        / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) AS stopword_ratio,
         |  round((length($norm) - (len($toksSql) - 1))
         |        / CAST(nullif(len($toksSql), 0) AS DOUBLE), 4) AS avg_token_len
         |FROM documents
         |ORDER BY doc_id""".stripMargin)),
    Q("q33_lang_id", (s, d) => langIdPredictions(s, d), Some(
      s"""SELECT doc_id, lang, $langCaseSql AS predicted
         |FROM documents
         |ORDER BY doc_id""".stripMargin)),
    Q("q34_fingerprints", (s, d) => fingerprints(s, d), Some(
      s"""SELECT doc_id, md5($norm) AS fp
         |FROM documents
         |ORDER BY doc_id""".stripMargin)),
    Q("q35_jaccard_pairs", (s, d) => jaccardSubset(s, d), Some(
      s"""WITH d AS (SELECT doc_id, $norm AS nt FROM ($auditSampleSql) s0),
         |t AS (SELECT DISTINCT doc_id AS id, tok
         |      FROM (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM d) u),
         |sz AS (SELECT id, COUNT(*) AS n FROM t GROUP BY id),
         |inter AS (SELECT a.id AS id1, b.id AS id2, COUNT(*) AS i
         |          FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
         |          GROUP BY a.id, b.id)
         |SELECT id1, id2,
         |       round(i / CAST(s1.n + s2.n - i AS DOUBLE), 4) AS jaccard
         |FROM inter
         |JOIN sz s1 ON id1 = s1.id
         |JOIN sz s2 ON id2 = s2.id
         |WHERE round(i / CAST(s1.n + s2.n - i AS DOUBLE), 4) >= $AuditMinJaccard
         |ORDER BY id1, id2""".stripMargin)),
    Q("q59_length_percentiles", (s, d) => lengthPercentiles(s, d), Some(
      """SELECT lang,
        |       round(quantile_cont(n_chars, 0.5), 4) AS med_chars,
        |       round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
        |       COUNT(*) AS cnt
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Q("q69_neardup_clusters", (s, d) => nearDupClusters(s, d), Some(
      s"""$nearDupComponentsCtes
         |SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS component
         |FROM r GROUP BY id
         |ORDER BY doc_id""".stripMargin)),
    Q("q277_cross_source_dups", (s, d) => crossSourceDupMatrix(s, d), Some(
      s"""$nearDupComponentsCtes,
         |sm AS (SELECT doc_id, source FROM ($auditSampleSql) s1),
         |px AS (SELECT least(sa.source, sb.source) AS source_a,
         |              greatest(sa.source, sb.source) AS source_b,
         |              round(i / CAST(s1.n + s2.n - i AS DOUBLE), 4) AS jac
         |       FROM inter
         |       JOIN sz s1 ON id1 = s1.id JOIN sz s2 ON id2 = s2.id
         |       JOIN sm sa ON id1 = sa.doc_id JOIN sm sb ON id2 = sb.doc_id
         |       WHERE round(i / CAST(s1.n + s2.n - i AS DOUBLE), 4)
         |             >= $AuditMinJaccard)
         |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(CAST(floor(jac * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         |         AS jac_mass_bp
         |FROM px GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin)),
    Q("q275_dedup_canonical", (s, d) => dedupCanonical(s, d), Some(
      s"""$nearDupComponentsCtes,
         |comp AS (SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS component
         |         FROM r GROUP BY id),
         |j AS (SELECT comp.doc_id, comp.component, d2.n_chars
         |      FROM comp JOIN ($auditSampleSql) d2 ON comp.doc_id = d2.doc_id),
         |c AS (SELECT component, doc_id AS canonical_id
         |      FROM (SELECT component, doc_id,
         |                   ROW_NUMBER() OVER (PARTITION BY component
         |                       ORDER BY n_chars DESC, doc_id) AS rn
         |            FROM j) t WHERE rn = 1),
         |szs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |        FROM j GROUP BY component)
         |SELECT j.doc_id, j.component, c.canonical_id,
         |       CAST(CASE WHEN j.doc_id = c.canonical_id THEN 1 ELSE 0 END
         |            AS INT) AS is_kept,
         |       szs.cluster_size
         |FROM j JOIN c USING (component) JOIN szs USING (component)
         |ORDER BY j.doc_id""".stripMargin)),
    Q("q70_chunks", (s, d) => chunkDocs(s, d), Some(
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents
         |           WHERE length($norm) > 0),
         |c AS (SELECT doc_id, CAST(i // 48 AS INT) AS chunk_idx,
         |             list_slice(toks, CAST(i + 1 AS INT),
         |                        CAST(least(i + 64, len(toks)) AS INT)) AS chunk
         |      FROM d, unnest(range(0, len(toks), 48)) AS t(i))
         |SELECT doc_id, chunk_idx,
         |       CAST(len(chunk) AS INT) AS n_chunk_tokens,
         |       array_to_string(chunk, ' ') AS chunk_text
         |FROM c
         |ORDER BY doc_id, chunk_idx""".stripMargin)),
    Q("q71_stratified_sample", (s, d) => stratifiedSample(s, d), Some(
      """SELECT doc_id, lang,
        |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT AS bucket
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT <
        |      CASE lang WHEN 'en' THEN 32768 WHEN 'de' THEN 65536
        |                WHEN 'fr' THEN 16384 WHEN 'es' THEN 6554
        |                ELSE 3277 END
        |ORDER BY doc_id""".stripMargin)),
    Q("q77_subword_counts", (s, d) => subwordCounts(s, d), Some(
      s"""SELECT doc_id,
         |  CASE WHEN length($norm) = 0 THEN 0
         |       ELSE CAST(len($toksSql) AS INT) END AS n_tokens,
         |  CAST(len(regexp_extract_all($norm, '[a-z0-9]+|[^a-z0-9\\s]')) AS INT)
         |    AS n_subtokens,
         |  round(len(regexp_extract_all($norm, '[a-z0-9]+|[^a-z0-9\\s]'))
         |        / CAST(nullif(CASE WHEN length($norm) = 0 THEN 0
         |                           ELSE len($toksSql) END, 0) AS DOUBLE), 4) AS ratio
         |FROM documents
         |ORDER BY doc_id""".stripMargin)),
    Q("q72_vocab_topk", (s, d) => vocabTopK(s, d), Some(
      s"""SELECT tok AS token, COUNT(*) AS freq
         |FROM (SELECT unnest($toksSql) AS tok FROM documents
         |      WHERE length($norm) > 0)
         |GROUP BY tok
         |ORDER BY freq DESC, token
         |LIMIT $VocabTopK""".stripMargin)),
    Q("q84_neardup_keepers", (s, d) => nearDupKeepers(s, d), Some(
      s"""WITH RECURSIVE d AS (SELECT doc_id, $norm AS nt FROM ($auditSampleSql) s0),
         |t AS (SELECT DISTINCT doc_id AS id, tok
         |      FROM (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM d) u),
         |sz AS (SELECT id, COUNT(*) AS n FROM t GROUP BY id),
         |inter AS (SELECT a.id AS id1, b.id AS id2, COUNT(*) AS i
         |          FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
         |          GROUP BY a.id, b.id),
         |e0 AS (SELECT id1, id2 FROM inter
         |       JOIN sz s1 ON id1 = s1.id JOIN sz s2 ON id2 = s2.id
         |       WHERE round(i / CAST(s1.n + s2.n - i AS DOUBLE), 4) >= 0.8),
         |e AS (SELECT id1 AS src, id2 AS dst FROM e0
         |      UNION SELECT id2, id1 FROM e0),
         |r AS (SELECT doc_id AS id, doc_id AS reach FROM d
         |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src)
         |SELECT id AS doc_id FROM r GROUP BY id HAVING id = MIN(reach)
         |ORDER BY doc_id""".stripMargin)),
    Q("q94_span_dedup", (s, d) => spanDedupStats(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
         |spans AS (SELECT doc_id, i, array_to_string(t[i:i+4], ' ') AS g
         |          FROM tok, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
         |          WHERE len(t) >= 5),
         |dup AS (SELECT g FROM spans GROUP BY g
         |        HAVING COUNT(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT s.doc_id, p
         |        FROM spans s JOIN dup USING (g),
         |             UNNEST(generate_series(s.i, s.i + 4)) AS v(p)),
         |agg AS (SELECT doc_id, COUNT(*) AS nd FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
         |       CAST(COALESCE(a.nd, 0) AS BIGINT) AS n_dup_tokens,
         |       round(COALESCE(a.nd, 0) /
         |             CAST(nullif(len(t.t), 0) AS DOUBLE), 4) AS dup_frac
         |FROM tok t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),
    Q("q151_boilerplate", (s, d) => boilerplateStats(s, d), Some(
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents
         |           WHERE length($norm) > 0),
         |seg AS (SELECT doc_id, CAST(i // 3 AS INT) AS seg_idx,
         |               array_to_string(list_slice(toks, CAST(i + 1 AS INT),
         |                 CAST(least(i + 3, len(toks)) AS INT)), ' ') AS seg,
         |               CAST(len(list_slice(toks, CAST(i + 1 AS INT),
         |                 CAST(least(i + 3, len(toks)) AS INT))) AS INT) AS seg_len
         |        FROM d, unnest(range(0, len(toks), 3)) AS t(i)),
         |df AS (SELECT seg, COUNT(*) AS df
         |       FROM (SELECT DISTINCT seg, doc_id FROM seg) GROUP BY seg),
         |m AS (SELECT s.*, (df.df >= 3) AS is_boiler
         |      FROM seg s JOIN df USING (seg))
         |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_segs,
         |       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS INT)
         |         AS n_boiler,
         |       CAST(SUM(CASE WHEN is_boiler THEN 0 ELSE seg_len END) AS INT)
         |         AS n_tokens_kept,
         |       md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN seg END,
         |             ' ' ORDER BY seg_idx), '')) AS clean_hash
         |FROM m GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin)),
    Q("q121_pii_scrub", (s, d) => piiScrub(s, d), Some(piiScrubOracle)),
    Q("q126_split_assign", (s, d) => splitAssign(s, d), Some(splitAssignOracle)),
    Q("q122_lm_surprisal", (s, d) => unigramSurprisal(s, d),
      Some(unigramSurprisalOracle)),
    Q("q155_perplexity_buckets", (s, d) => perplexityBuckets(s, d),
      Some(perplexityBucketsOracle)),
    Q("q157_dsir_weights", (s, d) => dsirWeights(s, d), Some(dsirOracle)),
    Q("q158_gopher_rules", (s, d) => gopherRules(s, d), Some(gopherOracle)),
    Q("q159_ngram_novelty", (s, d) => ngramNovelty(s, d),
      Some(ngramNoveltyOracle)),
    Q("q160_contrastive_pairs", (s, d) => contrastivePairs(s, d),
      Some(contrastivePairsOracle)),
    Q("q162_score_calibration", (s, d) => scoreCalibration(s, d),
      Some(scoreCalibrationOracle)),
    Q("q164_softdedup_weights", (s, d) => softDedupWeights(s, d),
      Some(softDedupOracle)),
    Q("q165_bigram_lm", (s, d) => bigramLm(s, d), Some(bigramLmOracle)),
    Q("q166_epoch_shuffle", (s, d) => epochShuffle(s, d),
      Some(epochShuffleOracle)),
    Q("q167_curation_decision", (s, d) => curationDecision(s, d),
      Some(curationDecisionOracle)),
    Q("q169_corpus_datasheet", (s, d) => corpusDatasheet(s, d),
      Some(corpusDatasheetOracle)),
    Q("q194_containment_pairs", (s, d) => containmentPairs(s, d),
      Some(containmentOracle)),
    Q("q171_sparse_cosine", (s, d) => sparseCosinePairs(s, d),
      Some(sparseCosineOracle)),
    Q("q172_quality_dedup", (s, d) => qualityAwareDedup(s, d),
      Some(qualityAwareDedupOracle)),
    Q("q173_langid_confusion", (s, d) => langIdConfusion(s, d),
      Some(langIdConfusionOracle)),
    Q("q95_source_mix", (s, d) => sourceMixSample(s, d), Some(
      """WITH c AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
        |q AS (SELECT MIN(c) AS quota FROM c),
        |r AS (SELECT doc_id, source,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |SELECT doc_id, source, CAST(rk AS INT) AS rk
        |FROM r, q WHERE rk <= quota
        |ORDER BY doc_id""".stripMargin)),
    Q("q96_tfidf", (s, d) => tfidfTopTerms(s, d), Some(
      s"""WITH tf AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
         |            FROM (SELECT doc_id, unnest($toksSql) AS tok
         |                  FROM documents) u
         |            GROUP BY doc_id, tok),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT tf.doc_id, tf.token, tf.tf,
         |                  round(tf.tf * ln((n.n_docs + 1) /
         |                        CAST(df.df + 1 AS DOUBLE)), 4) AS score
         |           FROM tf JOIN df USING (token), n),
         |r AS (SELECT doc_id, token, tf, score,
         |             ROW_NUMBER() OVER (PARTITION BY doc_id
         |               ORDER BY score DESC, token) AS rn
         |      FROM scored)
         |SELECT doc_id, token, tf, score, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= 5
         |ORDER BY doc_id, rn""".stripMargin)),
    Q("q99_minhash_est", (s, d) => minhashEstVsExact(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM ($auditSampleSql) s0),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
         |       WHERE len(t) >= 3),
         |hj AS (SELECT doc_id, j,
         |              substr(md5((j // 4) || '|' || g), (j % 4) * 8 + 1, 8) AS h
         |       FROM sh, UNNEST(generate_series(0, 7)) AS p(j)),
         |mins AS (SELECT doc_id, j, MIN(h) AS m FROM hj GROUP BY doc_id, j),
         |sig AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |               SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS matches
         |        FROM mins a JOIN mins b ON a.j = b.j AND a.doc_id < b.doc_id
         |        GROUP BY a.doc_id, b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
         |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT s.id1, s.id2,
         |       round(CAST(s.matches AS DOUBLE) / 8, 4) AS jac_est,
         |       round(COALESCE(i.i, 0) /
         |             CAST(s1.n + s2.n - COALESCE(i.i, 0) AS DOUBLE), 4) AS jac_exact
         |FROM sig s
         |LEFT JOIN inter i ON s.id1 = i.id1 AND s.id2 = i.id2
         |JOIN sz s1 ON s.id1 = s1.doc_id
         |JOIN sz s2 ON s.id2 = s2.doc_id
         |ORDER BY s.id1, s.id2""".stripMargin)),
    Q("q36_minhash_candidates", (s, d) => minhashCandidatesPortable(s, d),
      Some(minhashCandidatesOracle)),
    Q("q249_incremental_lsh", (s, d) => incrementalLshDedup(s, d),
      Some(incrementalLshOracle)),
    Q("q253_delta_dedup_rate", (s, d) => deltaDedupRate(s, d),
      Some(deltaDedupRateOracle)),
    Q("q131_lsh_dedup_pipeline", (s, d) => lshDedupPipeline(s, d), Some(
      s"""WITH RECURSIVE $verifiedEdgeCtes,
         |e AS (SELECT id1 AS src, id2 AS dst FROM e0
         |      UNION SELECT id2, id1 FROM e0),
         |r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
         |      UNION SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src)
         |SELECT id AS doc_id, CAST(MIN(reach) AS BIGINT) AS component,
         |       id = MIN(reach) AS keep
         |FROM r GROUP BY id
         |ORDER BY doc_id""".stripMargin)),
    Q("q145_split_leakage", (s, d) => splitLeakage(s, d), Some(
      s"""WITH $verifiedEdgeCtes,
         |sp AS (SELECT doc_id, $splitCaseSql AS split FROM documents),
         |e2 AS (SELECT id1 AS a, id2 AS b FROM e0
         |       UNION ALL SELECT id2, id1 FROM e0),
         |x AS (SELECT s1.split AS sa, e2.a
         |      FROM e2 JOIN sp s1 ON e2.a = s1.doc_id
         |      JOIN sp s2 ON e2.b = s2.doc_id
         |      WHERE s1.split <> s2.split),
         |agg AS (SELECT sa AS split, CAST(COUNT(*) AS BIGINT) AS leaked_pairs,
         |               CAST(COUNT(DISTINCT a) AS BIGINT) AS leaked_docs
         |        FROM x GROUP BY sa),
         |tot AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS docs
         |        FROM sp GROUP BY split)
         |SELECT t.split, t.docs,
         |       CAST(COALESCE(a.leaked_pairs, 0) AS BIGINT) AS leaked_pairs,
         |       CAST(COALESCE(a.leaked_docs, 0) AS BIGINT) AS leaked_docs
         |FROM tot t LEFT JOIN agg a USING (split)
         |ORDER BY t.split""".stripMargin)),
    Q("q37_simhash_candidates", (s, d) => simhashCandidatesPortable(s, d),
      Some(simhashCandidatesOracle)),
    Q("q106_simhash_portable", (s, d) => simhashPortable(s, d),
      Some(simhashPortableOracle)),
    Q("q113_token_mix", (s, d) => tokenMix(s, d), Some(
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(CASE WHEN length($norm) = 0 THEN 0
         |                   ELSE len($toksSql) END AS BIGINT) AS nt
         |  FROM documents),
         |s AS (SELECT source, SUM(nt) AS toks_s,
         |             CAST(substring(source, 4) AS INT) + 1 AS w
         |      FROM d GROUP BY source),
         |t AS (SELECT SUM(toks_s) AS total, SUM(w) AS sumw FROM s),
         |r AS (SELECT source,
         |             CAST(floor(least(1.0,
         |               ($MixBudgetFrac * total * (CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE)))
         |               / CAST(toks_s AS DOUBLE)) * 65536) AS INT) AS thr
         |      FROM s, t),
         |k AS (SELECT d.source, r.thr, d.nt FROM d JOIN r USING (source)
         |      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT < r.thr)
         |SELECT source, thr, COUNT(*) AS docs_kept,
         |       CAST(SUM(nt) AS BIGINT) AS tokens_kept
         |FROM k GROUP BY source, thr
         |ORDER BY source""".stripMargin)),
    Q("q279_lsh_banding_audit", (s, d) => lshBandingAudit(s, d), Some(
      s"""WITH s0 AS ($auditSampleSql),
         |tok AS (SELECT doc_id, $toksSql AS t FROM s0),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
         |       FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
         |       WHERE len(t) >= 3),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
         |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |hj AS (SELECT doc_id, j, substr(md5(g), j * 4 + 1, 4) AS h
         |       FROM sh, UNNEST(generate_series(0, 7)) AS p(j)),
         |mins AS (SELECT doc_id, j, MIN(h) AS m FROM hj GROUP BY doc_id, j),
         |buckets AS (SELECT doc_id, j // 4 AS band,
         |                   md5(string_agg(m, ',' ORDER BY j)) AS bucket
         |            FROM mins GROUP BY doc_id, j // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM buckets a JOIN buckets b
         |           ON a.band = b.band AND a.bucket = b.bucket
         |         WHERE a.doc_id < b.doc_id),
         |grid AS (SELECT a.doc_id AS id1, b.doc_id AS id2
         |         FROM s0 a JOIN s0 b ON a.doc_id < b.doc_id),
         |p AS (SELECT g.id1, g.id2,
         |             COALESCE(i.i, 0) AS i0,
         |             COALESCE(s1.n, 0) + COALESCE(s2.n, 0)
         |               - COALESCE(i.i, 0) AS u,
         |             CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END AS cand
         |      FROM grid g
         |      LEFT JOIN inter i ON g.id1 = i.id1 AND g.id2 = i.id2
         |      LEFT JOIN sz s1 ON g.id1 = s1.doc_id
         |      LEFT JOIN sz s2 ON g.id2 = s2.doc_id
         |      LEFT JOIN cand c ON g.id1 = c.id1 AND g.id2 = c.id2),
         |jj AS (SELECT cand,
         |              CASE WHEN u <= 0 THEN 0.0
         |                   ELSE round(i0 / CAST(u AS DOUBLE), 4) END AS j
         |       FROM p)
         |SELECT CAST(LEAST(FLOOR(j * 10), 9) AS INT) AS bin,
         |       CAST(cand AS INT) AS cand,
         |       COUNT(*) AS n_pairs,
         |       CAST(SUM(FLOOR(j * 10000 + 0.5)) AS BIGINT) AS j_mass
         |FROM jj GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q109_curation", (s, d) => curationPipeline(s, d), Some(
      s"""$curationFlagsCtes
         |SELECT doc_id, lang_ok, quality_ok, repetition_ok, not_contaminated,
         |       is_keeper,
         |       CAST(lang_ok = 1 AND quality_ok = 1 AND repetition_ok = 1
         |            AND not_contaminated = 1 AND is_keeper = 1 AS INT) AS keep
         |FROM flags
         |ORDER BY doc_id""".stripMargin))
  )
}
