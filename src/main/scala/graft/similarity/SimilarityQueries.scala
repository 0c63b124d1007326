package graft.similarity
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries over the embeddings table. */
object SimilarityQueries {

  /** ChainCache-backed training memo (d19, verdict r18 task 2): the
    * family's eight trained-centroid queries each re-ran their own
    * Lloyd's iterations per query per session; a vector-index deployment
    * trains once and serves many, so trained books are pinned per
    * (session, canonical dir, pass name). Every pass name below is
    * registered in `ChainCache.passOwner`; oracles are unchanged — the
    * memo only stops re-training, each query still hash-gates its full
    * output. Bench reports COLD times for owners and lists warm-median
    * consumers in `memo_consumers`. */
  private def bookMemo(s: SparkSession, dir: String): Ann.BookMemo =
    (name, tag, build) => graft.etl.ChainCache.memo(s, dir, name, tag)(build())

  private final val KmeansK = 8
  private final val KmeansIters = 2
  /** The corpus-wide k-means training (q137's gear, shared by q138/
    * q140/q144f/q156/q252; q144's corpus-derived k pins under the
    * scaled name). The name keys on the CALLER'S INTENT, not the
    * runtime k value: at dirs where q144's derived k happens to equal 8
    * the scaled pass still pins separately, so q144 always owns its
    * pass and the bench's owner-cold/consumer-warm labels stay
    * data-independent. The memo tag carries (k, iters) so a collision
    * of one name with two hyperparameter sets fails loudly instead of
    * silently serving wrong-k centroids. */
  private def trainedCorpus(s: SparkSession, dir: String, k: Int = KmeansK,
      scaled: Boolean = false): DataFrame = {
    val name =
      if (scaled) "sim_kmeans_corpus_scaled_i2" else "sim_kmeans_corpus_k8_i2"
    // the scaled path (k ∝ corpus) trains with the PRUNED assignment —
    // exact n·k argmax is quadratic when k grows with n (d19 sf10 probe:
    // exponent 1.83); fixed-k paths keep the exact argmax contract
    val train = () =>
      if (scaled)
        Ann.kmeansTrainPruned(Tables.embeddings(s, dir), "vec_id",
          "embedding", k, KmeansIters)
      else
        Ann.kmeansTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
          k, KmeansIters)
    graft.etl.ChainCache.memo(s, dir, name,
      tag = s"k=$k,iters=$KmeansIters,pruned=$scaled")(train())
      // re-annotate the ≤k bound: Ckpt erases maxRows, and PlanAudit
      // proves the downstream broadcast nested-loop joins are bounded
      // from exactly this annotation (the kmeansTrain limit(k) note)
      .limit(k)
  }

  /** Exact cosine top-10 for query vectors 0/1/2, DuckDB-oracle checked
    * (list_cosine_similarity over double lists folds in the same element
    * order, and both sides rank by the 4dp-rounded score).
    *
    * The `.limit(3)` after every `vec_id < 3` query-set filter in this
    * file is a no-op cardinality annotation (ids are unique): it puts
    * the query-set bound into the plan's `maxRows` so PlanAudit can
    * PROVE each broadcast-side of the ANN nested-loop joins is a fixed
    * handful of rows — the same discipline as kmeansTrain's limit(k). */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.bruteForceTopK(e, e.filter(col("vec_id") < 3).limit(3), "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** LSH-bucketed ANN, BENCH fast path (SigExpr's one-pass xxhash-mix
    * hyperplanes — no SQL engine reproduces them, so this form is spec-
    * and bench-covered while `annLshPortable` carries the oracle gate;
    * see Registry.benchExtras). */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.lshTopK(e, e.filter(col("vec_id") < 3).limit(3), "vec_id", "embedding",
        k = 10, bits = 4)
      .orderBy(col("query_id"), col("rn"))
  }

  /** The neighbours each query vector gets in the ANN recall queries (q41,
    * q125, q250, q256). */
  private final val AnnK = 10

  private final val LshBits = 4
  /** The REGISTERED, fully oracle-checked form of the LSH-ANN operator
    * (q41): identical pipeline to `Ann.lshTopK` — signature both sides,
    * bucket equi-join, exact cosine rescore, per-query top-k — but the
    * 4-bit signature is the ENGINE-NEUTRAL SRP of q107 (md5-parity ±1
    * hyperplanes over exact-quantized elements), so recall, bucketing and
    * ranking all restate in DuckDB SQL. The signature here comes from one
    * explode + aggregate pass and joins back onto the vectors; the
    * production path computes it per-row in one JIT'd expression with no
    * explosion (that trade is exactly why the fast path exists). */
  def annLshPortable(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val sigs = srpSigs(e, LshBits).withColumnRenamed("srp_sig", "__sig")
    val sigd = e.join(sigs, Seq("vec_id"))
    val q = sigd.filter(col("vec_id") < 3).limit(3)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
        col("__sig"))
    val scored = sigd.join(broadcast(q), Seq("__sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Ann.cosine(col("embedding"), col("__qv")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= AnnK)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  private def annLshPortableOracle: String =
    s"""WITH el AS (
       |  SELECT vec_id,
       |         generate_subscripts(embedding, 1) - 1 AS j,
       |         CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000 + 0.5)
       |              AS BIGINT) AS q
       |  FROM embeddings
       |), sums AS (
       |  SELECT vec_id,
       |    ${srpSumsSql(LshBits)}
       |  FROM el GROUP BY vec_id
       |), sig AS (
       |  SELECT vec_id, ${srpSigSql(LshBits)} AS s FROM sums
       |), v AS (
       |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, sig.s
       |  FROM embeddings e JOIN sig USING (vec_id)
       |), scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id,
       |         round(list_cosine_similarity(v.emb, q.emb), 4) AS cos
       |  FROM v JOIN v q ON v.s = q.s
       |  WHERE q.vec_id < 3 AND v.vec_id <> q.vec_id
       |)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT query_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) t
       |WHERE rn <= $AnnK
       |ORDER BY query_id, rn""".stripMargin

  /** IVF-pruned ANN for the same queries. Unlike the LSH variant this IS
    * DuckDB-oracle-checked: the deterministic coarse quantizer (smallest-id
    * centroids, rounded-cosine argmax assignment) restates fully in SQL. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.ivfTopK(e, e.filter(col("vec_id") < 3).limit(3), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Per-label centroid stats: aggregate over the vector column —
    * dimension-wise mean via zip_with folds (exercises array aggregation
    * at scale: one shuffle on label). Oracle checks count + mean norm. */
  def labelStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), Ann.norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"), round(avg(col("nrm")), 4).as("avg_norm"))
      .orderBy(col("label"))

  /** Embedding-cosine near-dup pairs over the deterministic subset — the
    * exact verifier path of embedding dedup (the corpus-scale path blocks
    * by LSH signature first and verifies candidates with this scoring). */
  private final val NearDupCap = 100
  /** q75: brute-force near-dup audit over a COUNT-CAPPED sample — the
    * first `NearDupCap` vectors by (md5(vec_id), vec_id), the same bound-not-
    * rate rule the r8 fix applied to the text audits (q35/q69/q84/q99).
    * The previous `vec_id % 5` filter was a RATE: its pair count grew
    * quadratically with the corpus (measured exponent 0.8 in the r10
    * sf1 scale-proof); the capped sample is O(cap²) at ANY corpus size.
    * The production near-dup paths remain q41/q144/q147. */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    val sample = Tables.embeddings(s, dir)
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(NearDupCap)
    Ann.nearDupPairs(sample,
        // capped sample → explicit broadcast is safe by construction
        "vec_id", "embedding", minCos = 0.35, broadcastRight = true)
      .orderBy(col("id1"), col("id2"))
  }

  private final val SrpBits = 16
  /** Sign-random-projection signature with ENGINE-NEUTRAL hyperplanes —
    * the cross-engine verification twin of q41's `SigExpr.srpSignature`
    * custom expression. Same SRP logic (signature bit b = sign of the
    * projection onto hyperplane b), but the Rademacher ±1 hyperplane
    * entries derive from md5 parity (w(b,j) = +1 iff the first hex digit
    * of md5("b|j") is even) and the projection is computed over
    * EXACT-QUANTIZED elements (floor(e·10⁶ + 0.5) as long — the same
    * double-in, long-out determinism as MoneyFns.unscaledCents), so the
    * integer sums are order-independent and the sign test restates
    * bit-identically in DuckDB SQL. Chain q107 (signature) + q90
    * (banding) + q40 (exact rescoring): every stage of the LSH-ANN
    * pipeline (q41) is value-level oracle-checked even though q41's own
    * production hash is not SQL-expressible.
    *
    * Plan shape: one narrow posexplode pass (|V|×64 element rows, each
    * computing 16 md5-parity weights inline), ONE vec_id hash aggregate
    * carrying 16 long counters with map-side partials — no joins, no
    * driver state. The production path (q41) does the whole signature in
    * one JIT-compiled expression with zero explosion. */
  def srpPortable(s: SparkSession, dir: String): DataFrame =
    srpSigs(Tables.embeddings(s, dir), SrpBits).orderBy(col("vec_id"))

  /** The portable SRP signature frame (vec_id, srp_sig bit string) —
    * shared by q107 (signatures, 16 bits) and q41 (LSH bucketing,
    * 4 bits). */
  private def srpSigs(embeddings: DataFrame, bits: Int): DataFrame = {
    val el = embeddings
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("j"),
        floor(col("col").cast("double") * 1000000 + 0.5).cast("long").as("q"))
    val sums = (0 until bits).map { b =>
      val even = ascii(substring(
        md5(concat(lit(s"$b|"), col("j").cast("string"))), 1, 1)) % 2 === 0
      sum(col("q") * when(even, 1L).otherwise(-1L)).as(s"s$b")
    }
    val agg = el.groupBy(col("vec_id")).agg(sums.head, sums.tail: _*)
    val sig = concat((0 until bits).map(b =>
      when(col(s"s$b") > 0, "1").otherwise("0")): _*)
    agg.select(col("vec_id"), sig.as("srp_sig"))
  }

  /** SQL fragments of the portable SRP — shared by the q107 and q41
    * oracles so the two restatements can never drift apart. */
  private def srpSumsSql(bits: Int): String =
    (0 until bits).map { b =>
      s"SUM(q * (CASE WHEN ascii(substr(md5('$b|' || j), 1, 1)) % 2 = 0 " +
        s"THEN 1 ELSE -1 END)) AS s$b"
    }.mkString(",\n    ")

  private def srpSigSql(bits: Int): String =
    (0 until bits).map(b => s"CASE WHEN s$b > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")

  private def srpPortableOracle: String = {
    val sums = srpSumsSql(SrpBits)
    val sig = srpSigSql(SrpBits)
    s"""WITH el AS (
       |  SELECT vec_id,
       |         generate_subscripts(embedding, 1) - 1 AS j,
       |         CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000 + 0.5)
       |              AS BIGINT) AS q
       |  FROM embeddings
       |), sums AS (
       |  SELECT vec_id,
       |    $sums
       |  FROM el GROUP BY vec_id
       |)
       |SELECT vec_id, $sig AS srp_sig FROM sums ORDER BY vec_id""".stripMargin
  }

  /** Int8 embedding quantization + recall audit (q125): per-vector
    * symmetric int8 quantization (scale = max|e|/127 — the standard
    * flat-PQ baseline that cuts vector memory/scan IO 4× at serving
    * scale), then the query-side audit every deployment runs before
    * switching: brute-force top-k over DEQUANTIZED vectors vs exact
    * top-k, recall@k per query. All arithmetic restates in SQL
    * (quantize = round(e/scale), dequantize = q*scale, rounded-cosine
    * ranking with id tiebreaks), so the oracle value-checks both the
    * quantizer and the recall accounting. The round trip runs through
    * the primitive-loop `QuantDequantI8` expression (the production
    * path — one ArrayData pass, no boxed lambdas); the composable HOF
    * form below stays as the spec cross-check (AnnSpec asserts
    * expression == HOF element for element). */
  def quantizedRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val deq = e.select(col("vec_id"),
      graft.functions.VectorExpr.quantDequantI8(col("embedding")).as("dq"))
    // exact ranking = full precision both sides (the pre-switch truth);
    // quantized ranking = dequantized both sides (what the compressed
    // index actually serves, query included) — both through the ONE
    // ranking implementation so the contracts cannot drift
    val exact = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 3).limit(3),
        "vec_id", "embedding", AnnK)
      .select(col("query_id"), col("vec_id"))
    val quant = Ann.bruteForceTopK(deq, deq.filter(col("vec_id") < 3).limit(3),
        "vec_id", "dq", AnnK)
      .select(col("query_id"), col("vec_id"))
    exact.join(quant.withColumnRenamed("vec_id", "qvid"),
        exact("query_id") === quant("query_id") &&
          col("vec_id") === col("qvid"), "left")
      .groupBy(exact("query_id"))
      .agg(count(lit(1)).as("k_exact"),
        count(col("qvid")).as("hits"))
      .select(col("query_id"), col("k_exact"), col("hits"),
        round(col("hits").cast("double") / col("k_exact"), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  private val MatryoshkaDims = Seq(16, 32)
  /** Matryoshka prefix-dimension recall audit (q250): serving ANN on
    * TRUNCATED embeddings — the MRL deployment pattern where the first
    * d dims of a matryoshka-trained vector are a usable sub-embedding,
    * so serving at d = 16/32 of 64 cuts vector memory and scan IO 4×/2×
    * — audited exactly like q125's quantization switch: brute-force
    * top-k at each prefix vs the full-precision ranking, recall@k per
    * (query, dims). The slice is a zero-copy prefix (`slice(e, 1, d)`),
    * so the audit measures the REAL serving configuration.
    *
    * Scale shape: each ranking is the q40 brute shape (broadcast
    * queries, partial top-k below the shuffle); the exact frame
    * checkpoints once and feeds every prefix's recall join. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val exact = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 3).limit(3),
        "vec_id", "embedding", AnnK)
      .select(col("query_id"), col("vec_id"))
      .ckpt // consumers: one recall join per prefix width
    MatryoshkaDims.map { d =>
      val t = e.select(col("vec_id"),
        expr(s"slice(embedding, 1, $d)").as("emb"))
      val topd = Ann.bruteForceTopK(t, t.filter(col("vec_id") < 3).limit(3),
          "vec_id", "emb", AnnK)
        .select(col("query_id"), col("vec_id").as("qvid"))
      exact.join(topd,
          exact("query_id") === topd("query_id") &&
            col("vec_id") === col("qvid"), "left")
        .groupBy(exact("query_id"))
        .agg(count(lit(1)).as("k_exact"), count(col("qvid")).as("hits"))
        .select(col("query_id"), lit(d).as("dims"), col("k_exact"),
          col("hits"),
          round(col("hits").cast("double") / col("k_exact"), 4).as("recall"))
    }.reduce(_.unionByName(_)).orderBy(col("query_id"), col("dims"))
  }

  private def matryoshkaOracle: String = {
    def rank(vtab: String, vcol: String, out: String) =
      s"""$out AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.vec_id AS query_id, v.vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |             round(list_cosine_similarity(v.$vcol, q.$vcol), 4) DESC,
         |             v.vec_id) AS rn
         |    FROM $vtab v JOIN $vtab q ON q.vec_id < 3
         |      AND v.vec_id <> q.vec_id) t
         |  WHERE rn <= $AnnK)"""
    val prefixCtes = MatryoshkaDims.map(d =>
      s"""t$d AS (SELECT vec_id, e[1:$d] AS d FROM v),
         |${rank(s"t$d", "d", s"r$d")}""")
    val armSelects = MatryoshkaDims.map(d =>
      s"""SELECT e.query_id, CAST($d AS INT) AS dims,
         |       COUNT(*) AS k_exact,
         |       CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS hits,
         |       round(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |             / CAST(COUNT(*) AS DOUBLE), 4) AS recall
         |FROM exact e LEFT JOIN r$d r
         |  ON e.query_id = r.query_id AND e.vec_id = r.vec_id
         |GROUP BY e.query_id""")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${rank("v", "e", "exact")},
       |${prefixCtes.mkString(",\n")}
       |${armSelects.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, dims""".stripMargin
  }

  /** Attribute-filtered ANN audit (q256): vector search with a label
    * predicate, comparing the two strategies every vector store chooses
    * between — PRE-filter (rank only same-label vectors: always up to k
    * results, needs the filter pushed into the index scan) vs
    * POST-filter (rank everything, then drop non-matching: cheap, but
    * returns fewer than k when the label is selective). Per query:
    * result counts, the overlap, and post-filter recall vs the
    * pre-filtered truth in basis points — the number that decides the
    * strategy per label selectivity.
    *
    * Scale shape: both rankings are the q40 brute shape (queries
    * broadcast; rank-≤-k pushes down as a partial WindowGroupLimit
    * below the shuffle), sharing ONE scored frame. */
  def filteredAnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 3).limit(3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlab"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"), col("qlab"),
        round(Ann.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .ckpt // consumers: the pre-filtered and unfiltered rankings
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val pre = scored.filter(col("label") === col("qlab"))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= AnnK)
      .select(col("query_id"), col("vec_id"))
    val post = scored
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= AnnK)
      .filter(col("label") === col("qlab"))
      .select(col("query_id"), col("vec_id").as("pvid"))
    val nPre = pre.groupBy(col("query_id")).agg(count(lit(1)).as("n_pre"))
    val nPost = post.groupBy(col("query_id")).agg(count(lit(1)).as("n_post"))
    val nOv = pre.join(post,
        pre("query_id") === post("query_id") && col("vec_id") === col("pvid"))
      .groupBy(pre("query_id")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("query_id"))
      .join(nPre, Seq("query_id"), "left_outer")
      .join(nPost, Seq("query_id"), "left_outer")
      .join(nOv, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_pre"), lit(0L)).as("n_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("post_recall_bp",
        expr("n_overlap * 10000 div nullif(n_pre, 0)"))
      .orderBy(col("query_id"))
  }

  private def filteredAnnOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qv, label AS qlab
       |      FROM v WHERE vec_id < 3),
       |sc AS (SELECT q.query_id, v.vec_id, v.label, q.qlab,
       |              round(list_cosine_similarity(v.e, q.qv), 4) AS cos
       |       FROM v JOIN q ON v.vec_id <> q.query_id),
       |pre AS (SELECT query_id, vec_id FROM (
       |         SELECT query_id, vec_id,
       |                ROW_NUMBER() OVER (PARTITION BY query_id
       |                  ORDER BY cos DESC, vec_id) AS rn
       |         FROM sc WHERE label = qlab) t WHERE rn <= $AnnK),
       |post AS (SELECT query_id, vec_id FROM (
       |          SELECT query_id, vec_id, label, qlab,
       |                 ROW_NUMBER() OVER (PARTITION BY query_id
       |                   ORDER BY cos DESC, vec_id) AS rn
       |          FROM sc) t WHERE rn <= $AnnK AND label = qlab),
       |np AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_pre
       |       FROM pre GROUP BY query_id),
       |ns AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_post
       |       FROM post GROUP BY query_id),
       |nv AS (SELECT pre.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |       FROM pre JOIN post USING (query_id, vec_id)
       |       GROUP BY pre.query_id)
       |SELECT q.query_id,
       |       CAST(COALESCE(np.n_pre, 0) AS BIGINT) AS n_pre,
       |       CAST(COALESCE(ns.n_post, 0) AS BIGINT) AS n_post,
       |       CAST(COALESCE(nv.n_overlap, 0) AS BIGINT) AS n_overlap,
       |       CAST(COALESCE(nv.n_overlap, 0) * 10000
       |            // nullif(COALESCE(np.n_pre, 0), 0) AS BIGINT)
       |         AS post_recall_bp
       |FROM q LEFT JOIN np USING (query_id)
       |       LEFT JOIN ns USING (query_id)
       |       LEFT JOIN nv USING (query_id)
       |ORDER BY q.query_id""".stripMargin

  /** The composable-HOF form of the int8 round trip — kept ONLY as the
    * spec cross-check for `QuantDequantI8` (two CodegenFallback lambdas;
    * never on the query path). */
  def quantDequantHof(embedding: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scale = aggregate(embedding,
      lit(0.0d), (acc, x) => greatest(acc, abs(x.cast("double")))) / 127d
    transform(embedding, x => round(x.cast("double") / scale, 0) * scale)
  }

  private def quantizedRecallOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), dq AS (
       |  SELECT vec_id,
       |         list_transform(e, x -> round(x / s, 0) * s) AS d
       |  FROM (SELECT vec_id, e,
       |               list_max(list_transform(e, x -> abs(x))) / 127 AS s
       |        FROM v)
       |), exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, v.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_cosine_similarity(v.e, q.e), 4) DESC, v.vec_id) AS rn
       |    FROM v JOIN v q ON q.vec_id < 3 AND v.vec_id <> q.vec_id) t
       |  WHERE rn <= $AnnK
       |), quant AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, v.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_cosine_similarity(v.d, q.d), 4) DESC, v.vec_id) AS rn
       |    FROM dq v JOIN dq q ON q.vec_id < 3 AND v.vec_id <> q.vec_id) t
       |  WHERE rn <= $AnnK
       |)
       |SELECT e.query_id,
       |       COUNT(*) AS k_exact,
       |       CAST(SUM(CASE WHEN qt.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       round(SUM(CASE WHEN qt.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |             / CAST(COUNT(*) AS DOUBLE), 4) AS recall
       |FROM exact e LEFT JOIN quant qt
       |  ON e.query_id = qt.query_id AND e.vec_id = qt.vec_id
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin

  /** Distributed k-means training end to end (q137): two Lloyd's
    * iterations over the embeddings (spherical assignment with the IVF
    * tiebreak, exact micro-unit means), output as the final centroids in
    * long format — every element of every centroid value-checked, so a
    * single mis-assigned vector anywhere in either iteration fails the
    * hash. Both engines floor identical doubles (the mean divides exact
    * integer sums), so no rounding-boundary drift. */
  def kmeansCentroids(s: SparkSession, dir: String): DataFrame =
    trainedCorpus(s, dir)
      .select(col("cent_id"), posexplode(col("centroid")).as(Seq("pos", "m")))
      .select(col("cent_id"), col("pos"),
        floor(col("m") * 1000000d + 0.5d).cast("long").as("val_micro"))
      .orderBy(col("cent_id"), col("pos"))

  /** One Lloyd's iteration as DuckDB CTEs (shared by every oracle that
    * restates `Ann.kmeansTrain`): assign to argmax rounded cosine
    * (centroid-id tiebreak), then exact micro-unit per-dimension means.
    * `vtab` selects the vector CTE — the PQ oracle trains per-subspace
    * codebooks over sliced-vector CTEs through the same helper. */
  private def iter(cin: String, aout: String, cout: String,
      vtab: String = "v"): String =
    s"""$aout AS (
       |  SELECT vid, e, cent_id FROM (
       |    SELECT v.vid, v.e, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM $vtab v CROSS JOIN $cin c) t WHERE rn = 1),
       |$cout AS (
       |  SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
       |    SELECT cent_id, pos, CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000 AS m
       |    FROM (
       |      SELECT cent_id, generate_subscripts(e, 1) - 1 AS pos,
       |             CAST(floor(unnest(e) * 1000000 + 0.5) AS BIGINT) AS xq
       |      FROM $aout) x
       |    GROUP BY 1, 2) t
       |  GROUP BY cent_id)""".stripMargin

  /** Incremental IVF maintenance (q242): the embedding-side twin of
    * q221's incremental connected components. Centroids train on the
    * BASE corpus only (vec_id % 10 ≠ 0); the nightly DELTA
    * (vec_id % 10 = 0) is assigned to the FROZEN centroids — no
    * re-clustering — and the report compares per-cell base vs delta
    * occupancy in basis points, flagging cells where the delta share
    * drifts ≥ 500 bp from the base share (the re-cluster trigger an
    * index-maintenance job watches).
    *
    * Scale shape — the point: training touches only the base (one
    * broadcast join per Lloyd iteration); the nightly path is ONE
    * broadcast-argmax over the delta. The base occupancy here is
    * recomputed only because the gate needs both sides from one query —
    * in production it is the persisted index's cell histogram. */
  def incrementalIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    val cents = graft.etl.ChainCache.memo(s, dir, "sim_kmeans_base_k8_i2")(
        Ann.kmeansTrain(base, "vec_id", "embedding", k = 8, iters = 2))
      .limit(8) // re-annotate the ≤k bound Ckpt erased (PlanAudit proof)
      .select(col("cent_id"), col("centroid").as("__cv"))
    def occupancy(df: DataFrame, n: String) =
      Ann.ivfAssign(df, "vec_id", "embedding", cents)
        .groupBy(col("__cell").as("cell")).agg(count(lit(1)).as(n))
    val b = occupancy(base, "n_base")
    val d = occupancy(delta, "n_delta")
    val tb = b.agg(sum(col("n_base")).as("tb"))
    val td = d.agg(sum(col("n_delta")).as("td"))
    b.join(d, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_delta"))
      .crossJoin(broadcast(tb)).crossJoin(broadcast(td))
      .select(col("cell"), col("n_base"), col("n_delta"),
        expr("n_base * 10000 div tb").as("base_bp"),
        expr("n_delta * 10000 div td").as("delta_bp"))
      .withColumn("drifted",
        (abs(col("delta_bp") - col("base_bp")) > 500L).cast("int"))
      .orderBy(col("cell"))
  }

  private def incrementalIvfOracle(): String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings WHERE vec_id % 10 <> 0),
       |dv AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |c0 AS (SELECT vid AS cent_id, e AS cv FROM v ORDER BY vid LIMIT 8),
       |${iter("c0", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |ab AS (
       |  SELECT vid, cent_id AS cell FROM (
       |    SELECT v.vid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
       |ad AS (
       |  SELECT vid, cent_id AS cell FROM (
       |    SELECT dv.vid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY dv.vid
       |             ORDER BY round(list_cosine_similarity(dv.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM dv CROSS JOIN c2 c) t WHERE rn = 1),
       |hb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_base
       |       FROM ab GROUP BY 1),
       |hd AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_delta
       |       FROM ad GROUP BY 1),
       |tb AS (SELECT SUM(n_base) AS tb FROM hb),
       |td AS (SELECT SUM(n_delta) AS td FROM hd)
       |SELECT COALESCE(hb.cell, hd.cell) AS cell,
       |       CAST(COALESCE(hb.n_base, 0) AS BIGINT) AS n_base,
       |       CAST(COALESCE(hd.n_delta, 0) AS BIGINT) AS n_delta,
       |       CAST(COALESCE(hb.n_base, 0) * 10000 // tb.tb AS BIGINT)
       |         AS base_bp,
       |       CAST(COALESCE(hd.n_delta, 0) * 10000 // td.td AS BIGINT)
       |         AS delta_bp,
       |       CAST(CASE WHEN abs(COALESCE(hd.n_delta, 0) * 10000 // td.td
       |                          - COALESCE(hb.n_base, 0) * 10000 // tb.tb)
       |                      > 500 THEN 1 ELSE 0 END AS INT) AS drifted
       |FROM hb FULL JOIN hd ON hb.cell = hd.cell, tb, td
       |ORDER BY cell""".stripMargin

  /** IVF hot-cell rebalance (q252): the ACTION the q242 drift monitor
    * triggers — the most occupied cell is split by training k=2
    * sub-centroids on ITS vectors only (seeds = the cell's two lowest
    * ids, one Lloyd iteration — the kmeansTrain contract on the cell
    * subset), and the cell's vectors re-assign to the sub-centroids.
    * Output: per final cell, the occupancy and a split flag; labels are
    * deterministic ("c<cell>" / "c<hot>.<sub>").
    *
    * Scale shape: the rebalance touches ONLY the hot cell's vectors
    * (the 1-row hot-cell frame broadcasts into the filter); the rest of
    * the index is untouched rows in the occupancy histogram. This is
    * how a 100 TB vector index absorbs skew without a full re-train —
    * the index twin of the q114 salted-agg remediation. */
  def ivfRebalance(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = trainedCorpus(s, dir)
      .select(col("cent_id"), col("centroid").as("__cv"))
    val assigned = Ann.ivfAssign(e, "vec_id", "embedding", cents)
      .ckpt // consumers: occupancy histogram + hot-cell vector filter
    val occ = assigned.groupBy(col("__cell")).agg(count(lit(1)).as("n"))
      .ckpt // consumers: hot-cell argmax + the untouched rows
    val hot = occ.orderBy(col("n").desc, col("__cell")).limit(1)
      .select(col("__cell").as("hot_cell"))
    val hotVecs = assigned
      .join(broadcast(hot), col("__cell") === col("hot_cell"))
      .select(col("vec_id"), col("embedding"))
    val sub = graft.etl.ChainCache.memo(s, dir, "sim_kmeans_hotcell_k2_i1")(
        Ann.kmeansTrain(hotVecs, "vec_id", "embedding", k = 2, iters = 1))
      .limit(2) // re-annotate the ≤k bound Ckpt erased (PlanAudit proof)
      .select(col("cent_id"), col("centroid").as("__cv"))
    val split = Ann.ivfAssign(hotVecs, "vec_id", "embedding", sub)
      .groupBy(col("__cell")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(hot))
      .select(concat(lit("c"), col("hot_cell"), lit("."), col("__cell"))
        .as("cell_label"), col("n"), lit(1).as("is_split"))
    val untouched = occ.crossJoin(broadcast(hot))
      .filter(col("__cell") =!= col("hot_cell"))
      .select(concat(lit("c"), col("__cell")).as("cell_label"), col("n"),
        lit(0).as("is_split"))
    untouched.unionByName(split).orderBy(col("cell_label"))
  }

  private def ivfRebalanceOracle(): String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |c0 AS (SELECT vid AS cent_id, e AS cv FROM v ORDER BY vid LIMIT 8),
       |${iter("c0", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |ab AS (
       |  SELECT vid, e, cent_id AS cell FROM (
       |    SELECT v.vid, v.e, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
       |occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM ab GROUP BY cell),
       |hot AS (SELECT cell AS hot_cell FROM occ
       |        ORDER BY n DESC, cell LIMIT 1),
       |hv AS (SELECT ab.vid, ab.e FROM ab, hot WHERE ab.cell = hot.hot_cell),
       |s0 AS (SELECT vid AS cent_id, e AS cv FROM hv ORDER BY vid LIMIT 2),
       |${iter("s0", "sa1", "s1", "hv")},
       |sab AS (
       |  SELECT vid, cent_id AS sub FROM (
       |    SELECT hv.vid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY hv.vid
       |             ORDER BY round(list_cosine_similarity(hv.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM hv CROSS JOIN s1 c) t WHERE rn = 1)
       |SELECT 'c' || CAST(occ.cell AS VARCHAR) AS cell_label, occ.n,
       |       CAST(0 AS INT) AS is_split
       |FROM occ, hot WHERE occ.cell <> hot.hot_cell
       |UNION ALL
       |SELECT 'c' || CAST(hot.hot_cell AS VARCHAR) || '.' ||
       |         CAST(sab.sub AS VARCHAR) AS cell_label,
       |       CAST(COUNT(*) AS BIGINT) AS n, CAST(1 AS INT) AS is_split
       |FROM sab, hot GROUP BY hot.hot_cell, sab.sub
       |ORDER BY cell_label""".stripMargin

  private final val SemanticMinCos = 0.35
  /** Semantic dedup over trained clusters (q144): the SemDeDup
    * composition — q137's k-means trainer partitions the embedding
    * space, near-duplicate pairs are scored ONLY within each cluster
    * (the quadratic term is cell-bounded, never corpus-bounded), and the
    * higher-id side of every pair with rounded cosine ≥ 0.35 is marked
    * a duplicate. One verdict row per vector, so the oracle
    * value-checks training, assignment, the bounded pair scoring and
    * the drop rule in one hash.
    *
    * k is the PRODUCTION knob setting: k = max(8, n/250) grows with the
    * corpus so the average cell stays ~250 vectors and the within-cell
    * quadratic term is a constant per cell — the form you would run at
    * 100 TB is the form the oracle gates (verdict r15: the fixed-k
    * variant's cells grow with the corpus and its cost scaled 4.04× per
    * 10× data; it survives only as the q144f bench twin). The oracle
    * restates the same k from COUNT(*), so determinism is preserved:
    * seeds are the k smallest vec_ids on both engines. The one count()
    * is a scalar corpus size driving a plan parameter, not data
    * collection. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val k = math.max(8L, e.count() / 250L).toInt
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    val cents = trainedCorpus(s, dir, k = k, scaled = true)
    Ann.semanticDupVerdicts(e, "vec_id", "embedding", cents,
      minCos = SemanticMinCos, prunedG = Some(g))
      .orderBy(col("vec_id"))
  }

  /** BENCH twin of q144 (Registry.benchExtras): the same SemDeDup
    * pipeline with k PINNED at 8 regardless of corpus size — kept
    * measured every round as the A/B that shows why the registered
    * query derives k from the corpus (cells grow with n ⇒ within-cell
    * pair scoring goes quadratic; at sf1 this twin's cost visibly
    * outpaces q144's). */
  def semanticDedupFixedK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = trainedCorpus(s, dir)
    Ann.semanticDupVerdicts(e, "vec_id", "embedding", cents,
      minCos = SemanticMinCos)
  }

  /** One two-level PRUNED assignment round (`Ann.prunedAssign`
    * restated): `${p}s` = the g smallest-id centroids of `$cin` as
    * coarse seeds, `${p}g` = each centroid under its nearest seed,
    * `${p}o` = the OCCUPIED seeds only, `${p}w` = each vector's best
    * occupied seed, `$aout` = the fine argmax within that group. Every
    * argmax is (rounded cosine DESC, id ASC) — the `iter` discipline. */
  private def prunedAssignSql(cin: String, aout: String, p: String,
      vtab: String = "v"): String =
    s"""${p}s AS MATERIALIZED (
       |  SELECT cent_id AS sid, cv AS sv FROM (
       |    SELECT cent_id, cv, ROW_NUMBER() OVER (ORDER BY cent_id) AS rn
       |    FROM $cin) t
       |  WHERE rn <= (SELECT g FROM params)),
       |${p}g AS MATERIALIZED (
       |  SELECT cent_id, cv, sid AS grp FROM (
       |    SELECT c.cent_id, c.cv, s.sid,
       |           ROW_NUMBER() OVER (PARTITION BY c.cent_id
       |             ORDER BY round(list_cosine_similarity(c.cv, s.sv), 4) DESC,
       |                      s.sid) AS rn
       |    FROM $cin c CROSS JOIN ${p}s s) t WHERE rn = 1),
       |${p}o AS MATERIALIZED (
       |  SELECT s.sid, s.sv FROM ${p}s s
       |  WHERE s.sid IN (SELECT grp FROM ${p}g)),
       |${p}w AS MATERIALIZED (
       |  SELECT vid, e, sid AS grp FROM (
       |    SELECT v.vid, v.e, o.sid,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, o.sv), 4) DESC,
       |                      o.sid) AS rn
       |    FROM $vtab v CROSS JOIN ${p}o o) t WHERE rn = 1),
       |$aout AS MATERIALIZED (
       |  SELECT vid, e, cent_id FROM (
       |    SELECT x.vid, x.e, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vid
       |             ORDER BY round(list_cosine_similarity(x.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM ${p}w x JOIN ${p}g c ON c.grp = x.grp) t WHERE rn = 1)""".stripMargin

  /** The Lloyd mean-recompute half of `iter`, standalone (exact-integer
    * micro means, component order restored by `list(... ORDER BY pos)`). */
  private def meansSql(aout: String, cout: String): String =
    s"""$cout AS MATERIALIZED (
       |  SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
       |    SELECT cent_id, pos, CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000 AS m
       |    FROM (
       |      SELECT cent_id, generate_subscripts(e, 1) - 1 AS pos,
       |             CAST(floor(unnest(e) * 1000000 + 0.5) AS BIGINT) AS xq
       |      FROM $aout) x
       |    GROUP BY 1, 2) t
       |  GROUP BY cent_id)""".stripMargin

  private def semanticDedupOracle: String =
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |-- seeds: the k smallest vec_ids, k = max(8, n/250) — the same
       |-- corpus-scaled knob the Spark side derives from count(); g =
       |-- ceil(sqrt(k)) coarse groups for the pruned two-level argmax
       |params AS MATERIALIZED (
       |  SELECT GREATEST(8, COUNT(*) // 250) AS k,
       |         CAST(ceil(sqrt(GREATEST(8, COUNT(*) // 250))) AS BIGINT) AS g
       |  FROM v),
       |c0 AS MATERIALIZED (
       |  SELECT vid AS cent_id, e AS cv FROM (
       |    SELECT vid, e, ROW_NUMBER() OVER (ORDER BY vid) AS rn FROM v) t
       |  WHERE rn <= (SELECT k FROM params)),
       |${prunedAssignSql("c0", "a1", "p1")},
       |${meansSql("a1", "c1")},
       |${prunedAssignSql("c1", "a2", "p2")},
       |${meansSql("a2", "c2")},
       |-- a FRESH pruned assignment against the FINAL centroids (a2 was
       |-- the training assignment against c1)
       |${prunedAssignSql("c2", "a3", "p3")},
       |assigned AS MATERIALIZED (
       |  SELECT vid AS vec_id, e, cent_id AS cell FROM a3),
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(a.e, b.e), 4) >= $SemanticMinCos)
       |SELECT a.vec_id, a.cell,
       |       CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
       |         AS is_dup
       |FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  private final val DecontamMinCos = 0.35
  /** Semantic decontamination (q147) — the embedding-space twin of the
    * q86 n-gram benchmark decontamination: corpus vectors whose cosine
    * to ANY benchmark vector reaches the threshold are contaminated
    * (eval items that survived into training data as paraphrases that
    * exact n-gram matching misses). Benchmark = vec_id < 20 standing in
    * for an eval set, exactly as q86 uses doc_id < 5.
    *
    * Scale shape: the benchmark side is tiny BY DEFINITION → broadcast
    * nested-loop against it, per-row norms computed once each side, and
    * the per-corpus-row rollup (max cosine, hit count) partial-aggregates
    * map-side so the one shuffle carries |corpus| pre-reduced rows. At a
    * benchmark too large to broadcast, the LSH-bucketed q41 machinery
    * takes over — this is the exact-verification gear. */
  def semanticDecontamination(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val bench = e.filter(col("vec_id") < 20).limit(20)
      .select(col("vec_id").as("__bid"), col("embedding").as("__bv"))
    val corpus = e.filter(col("vec_id") >= 20)
      .withColumn("__n", Ann.norm(col("embedding")))
    corpus.crossJoin(broadcast(bench.withColumn("__bn", Ann.norm(col("__bv")))))
      .withColumn("__cos", round(Ann.pinnedCos(
        try_divide(Ann.dot(col("embedding"), col("__bv")),
          col("__n") * col("__bn"))), 4))
      .groupBy(col("vec_id"))
      .agg(max(col("__cos")).as("max_cos"),
        sum(when(col("__cos") >= DecontamMinCos, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
      .orderBy(col("vec_id"))
  }

  private final val HardNegMinCos = 0.25
  private final val HardNegK = 10
  private final val HardNegAnchors = 8
  /** Hard-negative mining (q150) — the contrastive-training data op: for
    * each anchor vector, the top-k most-similar vectors of a DIFFERENT
    * label above a similarity floor. High-cosine different-label rows are
    * exactly the "hard negatives" an embedding trainer wants in-batch
    * (easy negatives — low cosine — teach nothing; same-label rows are
    * positives and must not leak into the negative set).
    *
    * Plan shape: anchors broadcast (mining runs per anchor batch); the
    * label-mismatch predicate and the cosine floor run map-side inside the
    * broadcast join, so only band survivors — a small fraction of the
    * corpus by construction of the floor — reach the per-anchor top-k
    * window. Partition sizes are bounded by the band population per
    * anchor, never the corpus. At 100 TB the broadcast-NL scoring pass is
    * the exhaustive gear; the LSH/IVF candidate paths (q41/q85) swap in
    * upstream and feed the same band-filter + top-k tail. */
  def hardNegatives(s: SparkSession, dir: String,
      minCos: Double = HardNegMinCos, k: Int = HardNegK,
      anchorBound: Int = HardNegAnchors): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val anchors = e.filter(col("vec_id") < anchorBound).limit(anchorBound)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
        col("label").as("__ql"))
    val scored = e
      .join(broadcast(anchors),
        col("vec_id") =!= col("query_id") && col("label") =!= col("__ql"))
      .withColumn("cos", round(Ann.cosine(col("embedding"), col("__qv")), 4))
      .filter(col("cos") >= minCos)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("label").as("neg_label"),
        col("cos"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** q150's oracle: `hardNegatives` at its defaults (the same constants). */
  private[graft] def hardNegativesOracle(): String =
    s"""SELECT query_id, vec_id, neg_label, cos, rn FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
       |         e.label AS neg_label,
       |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                      CAST(q.embedding AS DOUBLE[])), 4) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                        CAST(q.embedding AS DOUBLE[])), 4) DESC,
       |           e.vec_id) AS rn
       |  FROM embeddings e
       |  JOIN embeddings q
       |    ON q.vec_id < $HardNegAnchors AND e.vec_id <> q.vec_id
       |       AND e.label <> q.label
       |  WHERE round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                     CAST(q.embedding AS DOUBLE[])), 4)
       |        >= $HardNegMinCos) t
       |WHERE rn <= $HardNegK
       |ORDER BY query_id, rn""".stripMargin

  private def decontaminationOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (SELECT vec_id AS bid, e AS bv FROM v WHERE vec_id < 20),
       |x AS (SELECT c.vec_id, round(list_cosine_similarity(c.e, b.bv), 4) AS cos
       |      FROM v c CROSS JOIN b WHERE c.vec_id >= 20)
       |SELECT vec_id, MAX(cos) AS max_cos,
       |       CAST(SUM(CASE WHEN cos >= $DecontamMinCos THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_hits,
       |       CAST(CASE WHEN SUM(CASE WHEN cos >= $DecontamMinCos THEN 1 ELSE 0 END) > 0
       |            THEN 1 ELSE 0 END AS INT) AS contaminated
       |FROM x GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  /** PCA projection (q146): every vector's coordinate along the corpus
    * top principal direction — the whitening/compression diagnostic an
    * embedding pipeline computes before quantization or index build.
    * `Ann.principalDirection` does one exact-integer moments pass + a
    * driver-side BigInt power iteration (2 steps, integer rescale); the
    * direction broadcasts back as a literal and the projection is one
    * map-only pass (quantize · direction, exact long dot, scale, round).
    * The oracle restates the ENTIRE run — moments, covariance, both
    * iterations, projection — in integer SQL, so the only doubles on
    * either side are the final /10¹² and round(·,4) on sub-2⁵³ exact
    * integers. */
  def pcaProjection(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val vq = Ann.principalDirection(e, "embedding", dim, iters = 2)
    val terms = zip_with(col("embedding"), typedlit(vq.toSeq),
      (x, w) => floor(x.cast("double") * 1000000d + lit(0.5d)).cast("long") * w)
    e.select(col("vec_id"),
        round(aggregate(terms, lit(0L), (a, y) => a + y).cast("double")
          / 1000000000000d, 4).as("pc1"))
      .orderBy(col("vec_id"))
  }

  private def pcaOracle(): String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT vid, generate_subscripts(e, 1) - 1 AS i,
       |             CAST(floor(unnest(e) * 1000000 + 0.5) AS BIGINT) AS xq
       |      FROM v),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
       |sx AS (SELECT i, SUM(xq) AS s FROM q GROUP BY i),
       |sp AS (SELECT a.i AS i, b.i AS j, SUM(a.xq * b.xq) AS s
       |       FROM q a JOIN q b ON a.vid = b.vid GROUP BY a.i, b.i),
       |c AS (SELECT sp.i, sp.j, n.n * sp.s - si.s * sj.s AS cij
       |      FROM sp CROSS JOIN n
       |      JOIN sx si ON si.i = sp.i
       |      JOIN sx sj ON sj.i = sp.j),
       |w1 AS (SELECT i, SUM(cij) AS w FROM c GROUP BY i),
       |m1 AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w1),
       |v1 AS (SELECT i, (w + m) * 1000000 // m - 1000000 AS vq
       |       FROM w1 CROSS JOIN m1),
       |w2 AS (SELECT c.i, SUM(c.cij * v1.vq) AS w
       |       FROM c JOIN v1 ON v1.i = c.j GROUP BY c.i),
       |m2 AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w2),
       |v2 AS (SELECT i, (w + m) * 1000000 // m - 1000000 AS vq
       |       FROM w2 CROSS JOIN m2),
       |p AS (SELECT q.vid, SUM(q.xq * v2.vq) AS pr
       |      FROM q JOIN v2 ON v2.i = q.i GROUP BY q.vid)
       |SELECT vid AS vec_id,
       |       round(CAST(CAST(pr AS BIGINT) AS DOUBLE) / 1000000000000, 4) AS pc1
       |FROM p ORDER BY vec_id""".stripMargin

  private def kmeansOracle: String = {
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c0 AS (
       |  SELECT vid AS cent_id, e AS cv FROM v ORDER BY vid LIMIT $KmeansK),
       |${iter("c0", "a1", "c1")},
       |${iter("c1", "a2", "c2")}
       |SELECT cent_id, generate_subscripts(cv, 1) - 1 AS pos,
       |       CAST(floor(unnest(cv) * 1000000 + 0.5) AS BIGINT) AS val_micro
       |FROM c2
       |ORDER BY cent_id, pos""".stripMargin
  }

  /** The full production ANN composition (q138): kmeansTrain centroids →
    * IVF cell assignment → nprobe probe → exact top-k — train, index and
    * query value-checked as ONE pipeline (q137 checks the training in
    * isolation; q85 checks IVF over the deterministic seed centroids). */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = trainedCorpus(s, dir)
    Ann.ivfTopKWith(cents, e, e.filter(col("vec_id") < 3).limit(3),
      "vec_id", "embedding", k = 10, nprobe = 3)
  }

  private def ivfTrainedOracle(): String = {
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c0 AS (
       |  SELECT vid AS cent_id, e AS cv FROM v ORDER BY vid LIMIT 8),
       |${iter("c0", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |assigned AS (
       |  -- a FRESH assignment against the FINAL centroids (the index
       |  -- build pass; a2 was the training assignment against c1)
       |  SELECT vid AS vec_id, e, cent_id AS cell FROM (
       |    SELECT v.vid, v.e, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
       |q AS (SELECT vid AS query_id, e AS qv FROM v WHERE vid < 3),
       |qcells AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.query_id, q.qv, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC,
       |                      c.cent_id) AS qrn
       |    FROM q CROSS JOIN c2 c) t WHERE qrn <= 3),
       |scored AS (
       |  SELECT qc.query_id, a.vec_id,
       |         round(list_cosine_similarity(a.e, qc.qv), 4) AS cos
       |  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
       |  WHERE a.vec_id <> qc.query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT query_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin
  }

  /** Product-quantized ANN end to end (q153): per-subspace codebook
    * training (two Lloyd's iterations each, through the SAME `iter`
    * helper as q137/q138/q144), fresh argmax encode, ADC
    * lookup-table scoring and per-query top-k — the whole compressed
    * search pipeline value-checked in one hash. */
  def pqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    Ann.pqTopK(e, e.filter(col("vec_id") < 3).limit(3), "vec_id", "embedding",
      dim, m = 2, k = 4, iters = 2, topk = 10, memo = bookMemo(s, dir))
  }

  /** Shared q153/q156 oracle fragment: subspace views, both codebook
    * trainings, fresh encodes and ADC LUTs (dim 64 → subvectors
    * e[1:32] / e[33:64], matching slice(embedding, 1|33, 32)). */
  private def pqSubspaceCtes: String =
    s"""v0 AS (SELECT vid, e[1:32] AS e FROM v),
       |v1 AS (SELECT vid, e[33:64] AS e FROM v),
       |s0c0 AS (SELECT vid AS cent_id, e AS cv FROM v0 ORDER BY vid LIMIT 4),
       |${iter("s0c0", "s0a1", "s0c1", "v0")},
       |${iter("s0c1", "s0a2", "s0c2", "v0")},
       |s1c0 AS (SELECT vid AS cent_id, e AS cv FROM v1 ORDER BY vid LIMIT 4),
       |${iter("s1c0", "s1a1", "s1c1", "v1")},
       |${iter("s1c1", "s1a2", "s1c2", "v1")},
       |codes0 AS (SELECT vid, cent_id AS code FROM (
       |  SELECT v.vid, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY v.vid
       |           ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                    c.cent_id) AS rn
       |  FROM v0 v CROSS JOIN s0c2 c) t WHERE rn = 1),
       |codes1 AS (SELECT vid, cent_id AS code FROM (
       |  SELECT v.vid, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY v.vid
       |           ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                    c.cent_id) AS rn
       |  FROM v1 v CROSS JOIN s1c2 c) t WHERE rn = 1),
       |lut0 AS (SELECT q.vid AS query_id, c.cent_id AS code,
       |                list_dot_product(q.e, c.cv) AS d
       |         FROM v0 q CROSS JOIN s0c2 c WHERE q.vid < 3),
       |lut1 AS (SELECT q.vid AS query_id, c.cent_id AS code,
       |                list_dot_product(q.e, c.cv) AS d
       |         FROM v1 q CROSS JOIN s1c2 c WHERE q.vid < 3)""".stripMargin

  /** Shared q153/q156 oracle tail: ADC sum + per-query top-k over a
    * `scored`-producing candidate CTE body. */
  private def pqTopKSql(scoredBody: String): String =
    s"""scored AS (
       |$scoredBody)
       |SELECT query_id, vec_id, adc, rn FROM (
       |  SELECT query_id, vec_id, adc,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY adc DESC, vec_id) AS rn
       |  FROM scored) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  private def pqOracle(): String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$pqSubspaceCtes,
       |${pqTopKSql(
      """  SELECT l0.query_id, c0.vid AS vec_id, round(l0.d + l1.d, 4) AS adc
        |  FROM codes0 c0 JOIN codes1 c1 ON c0.vid = c1.vid
        |  JOIN lut0 l0 ON l0.code = c0.code
        |  JOIN lut1 l1 ON l1.code = c1.code AND l1.query_id = l0.query_id
        |  WHERE c0.vid <> l0.query_id""".stripMargin)}""".stripMargin

  /** q156 oracle: the coarse quantizer (training, fresh cell assignment,
    * probe list — the q138 CTEs) prunes candidates; the PQ fragment
    * (the q153 CTEs) scores them; same ADC top-k tail. */
  private def ivfPqOracle(): String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c0 AS (
       |  SELECT vid AS cent_id, e AS cv FROM v ORDER BY vid LIMIT 8),
       |${iter("c0", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |assigned AS (
       |  SELECT vid, cent_id AS cell FROM (
       |    SELECT v.vid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
       |qcells AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vid AS query_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.vid
       |             ORDER BY round(list_cosine_similarity(q.e, c.cv), 4) DESC,
       |                      c.cent_id) AS qrn
       |    FROM v q CROSS JOIN c2 c WHERE q.vid < 3) t WHERE qrn <= 3),
       |cand AS (
       |  SELECT qc.query_id, a.vid
       |  FROM assigned a JOIN qcells qc ON a.cell = qc.cell),
       |$pqSubspaceCtes,
       |${pqTopKSql(
      """  SELECT cd.query_id, cd.vid AS vec_id, round(l0.d + l1.d, 4) AS adc
        |  FROM cand cd
        |  JOIN codes0 c0 ON c0.vid = cd.vid
        |  JOIN codes1 c1 ON c1.vid = cd.vid
        |  JOIN lut0 l0 ON l0.code = c0.code AND l0.query_id = cd.query_id
        |  JOIN lut1 l1 ON l1.code = c1.code AND l1.query_id = cd.query_id
        |  WHERE cd.vid <> cd.query_id""".stripMargin)}""".stripMargin

  /** IVF-PQ composed search (q156): coarse prune + compressed-domain
    * scoring — see `Ann.ivfPqTopK`. */
  def ivfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    Ann.ivfPqTopK(e, e.filter(col("vec_id") < 3).limit(3), "vec_id", "embedding",
      dim, m = 2, k = 4, iters = 2, nlist = 8, nprobe = 3, topk = 10,
      memo = bookMemo(s, dir))
  }

  /** Embedding-space outlier detection (q140): assign every vector to
    * its trained centroid, then flag vectors whose similarity to their
    * own centroid falls 2σ below the cell mean — the curation op that
    * drops mislabeled/noise embeddings before training. Moments are
    * EXACT integer sums over the 4dp-similarity micro-units (sum, sum of
    * squares, n per cell — map-side combinable, cell-count-sized
    * output), so mean/σ are identical doubles in both engines and the
    * 2σ comparison cannot drift. Composes q137's trainer; cells
    * broadcast; one narrow corpus pass. */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = trainedCorpus(s, dir)
      .select(col("cent_id"), col("centroid").as("__cv"))
    // map-side argmax (the ivfAssign shape): the one shuffle carries |V|
    // pre-reduced rows, never the |V|×k exploded frame
    val assigned = e.join(broadcast(cents))
      .withColumn("__cc", round(Ann.cosine(col("embedding"), col("__cv")), 4))
      .withColumn("__ccq", floor(col("__cc") * 10000d + 0.5d).cast("long"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cent_id"), col("__ccq")),
        struct(col("__cc"), (-col("cent_id")).as("__nc"))).as("__b"))
      .select(col("vec_id"), col("__b.cent_id").as("cell"),
        col("__b.__ccq").as("ccq"))
    val moments = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("ccq")).as("s"),
        sum(col("ccq") * col("ccq")).as("sq"))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("sd", sqrt((col("n") * col("sq") - col("s") * col("s"))
        .cast("double")) / col("n"))
    assigned.join(broadcast(moments.select(col("cell"), col("mean"), col("sd"))),
        Seq("cell"))
      .filter(col("ccq").cast("double") < col("mean") - lit(2.0) * col("sd"))
      .select(col("vec_id"), col("cell"), col("ccq"))
      .orderBy(col("vec_id"))
  }

  private def outlierOracle(): String = {
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c0 AS (
       |  SELECT vid AS cent_id, e AS cv FROM v ORDER BY vid LIMIT 8),
       |${iter("c0", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |assigned AS (
       |  SELECT vid AS vec_id, cent_id AS cell,
       |         CAST(floor(cc * 10000 + 0.5) AS BIGINT) AS ccq
       |  FROM (
       |    SELECT v.vid, c.cent_id,
       |           round(list_cosine_similarity(v.e, c.cv), 4) AS cc,
       |           ROW_NUMBER() OVER (PARTITION BY v.vid
       |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
       |                      c.cent_id) AS rn
       |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
       |moments AS (
       |  SELECT cell, COUNT(*) AS n,
       |         CAST(SUM(ccq) AS BIGINT) AS s,
       |         CAST(SUM(ccq * ccq) AS BIGINT) AS sq
       |  FROM assigned GROUP BY cell),
       |stats AS (
       |  SELECT cell, CAST(s AS DOUBLE) / n AS mean,
       |         sqrt(CAST(n * sq - s * s AS DOUBLE)) / n AS sd
       |  FROM moments)
       |SELECT a.vec_id, a.cell, a.ccq
       |FROM assigned a JOIN stats st USING (cell)
       |WHERE CAST(a.ccq AS DOUBLE) < st.mean - 2.0 * st.sd
       |ORDER BY a.vec_id""".stripMargin
  }

  private final val MmrK = 10
  private final val MmrPool = 30
  private final val MmrLambda = 0.7
  /** Maximal Marginal Relevance re-ranking (q184) — the diversity-aware
    * selection every retrieval/RAG pipeline runs AFTER top-k search
    * (Carbonell & Goldstein, SIGIR'98): greedily pick k results maximizing
    * λ·rel(c) − (1−λ)·max sim(c, already-selected), so near-duplicate hits
    * don't crowd the result list. The first pick is the plain relevance
    * argmax; ties break by vec_id.
    *
    * Scale shape: the candidate POOL per query is bounded (top-`MmrPool` from
    * the existing brute-force/ANN search — the expensive corpus-wide stage
    * that already has its own scale path), so the pool² pairwise-similarity
    * frame and the O(k·pool) greedy are per-query-bounded work: sims key
    * on query_id, and the greedy runs inside ONE `flatMapGroups` per query
    * — embarrassingly parallel across queries, no driver loop, no
    * corpus-sized state. All scoring arithmetic runs on 4dp-rounded
    * cosines (the q40 parity contract), so the entire greedy — every
    * intermediate argmax — is value-checked by the unrolled oracle. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cands = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 3).limit(3),
      "vec_id", "embedding", k = MmrPool)
    val cv = cands.join(e, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cos").as("rel"),
        col("embedding"))
    val a = cv.select(col("query_id"), col("vec_id").as("va"),
      col("rel").as("rel_a"), col("embedding").as("ea"))
    val b = cv.select(col("query_id"), col("vec_id").as("vb"),
      col("embedding").as("eb"))
    val sims = a.join(b, Seq("query_id")).filter(col("va") =!= col("vb"))
      .select(col("query_id"), col("va"), col("rel_a"), col("vb"),
        round(Ann.cosine(col("ea"), col("eb")), 4).as("sim"))
    import s.implicits._
    val picked = sims
      .select(col("query_id").cast("long"), col("va"), col("rel_a"),
        col("vb"), col("sim"))
      .as[(Long, Long, Double, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rows = it.toArray
        val rel = scala.collection.mutable.Map.empty[Long, Double]
        val sim = scala.collection.mutable.Map.empty[(Long, Long), Double]
        rows.foreach { case (_, va, ra, vb, sm) =>
          rel(va) = ra; sim((va, vb)) = sm
        }
        val remaining = scala.collection.mutable.SortedSet(rel.keys.toSeq: _*)
        val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        while (sel.size < MmrK && remaining.nonEmpty) {
          val best = remaining.iterator.map { c =>
            val sc =
              if (sel.isEmpty) rel(c)
              else MmrLambda * rel(c) -
                (1 - MmrLambda) * sel.iterator.map(x => sim((c, x._1))).max
            (c, sc)
          }.minBy { case (c, sc) => (-sc, c) }
          sel += best
          remaining -= best._1
        }
        sel.iterator.zipWithIndex.map { case ((v, sc), i) => (qid, v, i + 1, sc) }
      }
      .toDF("query_id", "vec_id", "rn", "mmr_raw")
    picked
      .select(col("query_id"), col("vec_id"), col("rn"),
        round(col("mmr_raw"), 4).as("mmr"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** q184 oracle: the greedy UNROLLED — k chained (max-sim, score, argmax)
    * CTE triples over the same 4dp-rounded pool/sims frames. */
  private def mmrOracle: String = {
    val steps = (2 to MmrK).map { i =>
      s"""m$i AS MATERIALIZED (
         |        SELECT s.query_id, s.va AS vec_id, MAX(s.sim) AS ms
         |        FROM sims s JOIN sel${i - 1} t
         |          ON s.query_id = t.query_id AND s.vb = t.vec_id
         |        WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
         |                          WHERE x.query_id = s.query_id
         |                            AND x.vec_id = s.va)
         |        GROUP BY 1, 2),
         |p$i AS MATERIALIZED (
         |        SELECT query_id, vec_id, sc FROM (
         |          SELECT m.query_id, m.vec_id,
         |                 $MmrLambda * p.rel - ${1 - MmrLambda} * m.ms AS sc,
         |                 ROW_NUMBER() OVER (PARTITION BY m.query_id
         |                   ORDER BY $MmrLambda * p.rel - ${1 - MmrLambda} * m.ms DESC,
         |                            m.vec_id) AS rn
         |          FROM m$i m JOIN pool p
         |            ON p.query_id = m.query_id AND p.vec_id = m.vec_id) z
         |        WHERE rn = 1),
         |sel$i AS MATERIALIZED (
         |          SELECT * FROM sel${i - 1}
         |          UNION ALL
         |          SELECT query_id, vec_id, sc AS mmr, $i AS rk FROM p$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ev AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |pool AS MATERIALIZED (
       |  SELECT query_id, vec_id, cos AS rel FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
       |           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                        CAST(q.embedding AS DOUBLE[])), 4)
       |             AS cos,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                          CAST(q.embedding AS DOUBLE[])), 4)
       |               DESC, e.vec_id) AS rn
       |    FROM ev e
       |    JOIN ev q ON q.vec_id < 3 AND e.vec_id <> q.vec_id) t
       |  WHERE rn <= $MmrPool),
       |sims AS MATERIALIZED (
       |  SELECT p1.query_id, p1.vec_id AS va, p2.vec_id AS vb,
       |         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                      CAST(eb.embedding AS DOUBLE[])), 4)
       |           AS sim
       |  FROM pool p1 JOIN pool p2
       |    ON p1.query_id = p2.query_id AND p1.vec_id <> p2.vec_id
       |  JOIN ev ea ON ea.vec_id = p1.vec_id
       |  JOIN ev eb ON eb.vec_id = p2.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, vec_id, rel AS mmr, 1 AS rk FROM (
       |    SELECT query_id, vec_id, rel,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, vec_id) AS rn
       |    FROM pool) z
       |  WHERE rn = 1),
       |$steps
       |SELECT query_id, vec_id, CAST(rk AS INT) AS rn, round(mmr, 4) AS mmr
       |FROM sel$MmrK
       |ORDER BY query_id, rk""".stripMargin
  }

  private final val KnnQueries = 40
  private final val KnnK = 10
  /** kNN label-agreement evaluation (q195) — the embedding-quality probe
    * an embedding-training pipeline runs per checkpoint: over a
    * count-capped query sample (first nQ vectors by (md5(id), id) — the
    * audit-sample discipline, O(nQ·N) at any corpus size, never N²),
    * take each query's exact cosine top-k and report, per query label:
    * hit rate (fraction of the k neighbours sharing the query's label)
    * and majority-vote accuracy (ties to the smallest label — the
    * deterministic kNN-classifier variant).
    *
    * Scale shape: the nQ queries BROADCAST into one corpus scan
    * (Ann.bruteForceTopK's shape); everything downstream operates on
    * nQ·k rows. All ratios divide exact integer counts; the vote argmax
    * is max(struct(cnt, -label)) — an aggregate, not a sort. */
  def knnLabelEval(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(KnnQueries)
      .ckpt // consumers: topk probe + label join
    // re-annotate the nQ bound: .ckpt severed the logical lineage (a
    // checkpointed frame has unknown maxRows) and the probe set feeds
    // bruteForceTopK's broadcast side
    val topk = Ann.bruteForceTopK(e,
      queries.select("vec_id", "embedding").limit(KnnQueries),
      "vec_id", "embedding", KnnK)
    val ql = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"))
    val votes = topk
      .join(e.select(col("vec_id"), col("label").as("nlabel")), Seq("vec_id"))
      .join(broadcast(ql), Seq("query_id"))
      .groupBy(col("query_id"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).as("c"))
    val perQuery = votes.groupBy(col("query_id"), col("qlabel"))
      .agg(
        max(struct(col("c"), (-col("nlabel")).as("nn"))).as("m"),
        sum(when(col("nlabel") === col("qlabel"), col("c"))
          .otherwise(lit(0L))).as("hits"))
      .select(col("query_id"), col("qlabel"), (-col("m.nn")).as("pred"),
        col("hits"))
    perQuery.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("hits")).cast("double") /
          (count(lit(1)) * lit(KnnK.toLong)), 4).as("hit_rate"),
        round(sum((col("pred") === col("qlabel")).cast("long"))
          .cast("double") / count(lit(1)), 4).as("vote_acc"))
      .orderBy(col("label"))
  }

  private def knnLabelEvalOracle: String =
    s"""WITH q AS (SELECT vec_id, embedding, label FROM embeddings
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KnnQueries),
       |topk AS (
       |  SELECT query_id, qlabel, nlabel FROM (
       |    SELECT q.vec_id AS query_id, q.label AS qlabel,
       |           e.label AS nlabel,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_cosine_similarity(
       |               CAST(e.embedding AS DOUBLE[]),
       |               CAST(q.embedding AS DOUBLE[])), 4) DESC,
       |             e.vec_id) AS rn
       |    FROM embeddings e JOIN q ON e.vec_id <> q.vec_id) t
       |  WHERE rn <= $KnnK),
       |votes AS (SELECT query_id, qlabel, nlabel, COUNT(*) AS c
       |          FROM topk GROUP BY 1, 2, 3),
       |pm AS (SELECT query_id, qlabel, nlabel AS pred FROM votes
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY c DESC, nlabel) = 1),
       |hits AS (SELECT query_id, qlabel,
       |                SUM(CASE WHEN nlabel = qlabel THEN c ELSE 0 END) AS h
       |         FROM votes GROUP BY 1, 2)
       |SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |       ROUND(CAST(SUM(h) AS DOUBLE) / (COUNT(*) * $KnnK), 4) AS hit_rate,
       |       ROUND(CAST(SUM(CASE WHEN pred = qlabel THEN 1 ELSE 0 END)
       |             AS DOUBLE) / COUNT(*), 4) AS vote_acc
       |FROM pm JOIN hits USING (query_id, qlabel)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Embedding-centroid drift (q216): the corpus split into two halves
    * by the md5 parity of vec_id (a deterministic 50/50 split — a SPLIT,
    * not a sample, so both halves scale linearly), per-label centroids
    * computed independently in each half, and the cosine between the two
    * half-centroids per label — the embedding-monitoring probe a feature
    * store runs between model versions or ingestion windows (cos ≪ 1 =
    * the label's representation moved).
    *
    * Determinism: elements quantize to micro-units before any sum (the
    * q137 rule); per-dim centroid MEANS are floor-divided exact longs
    * (~10⁶ scale), so the dot/norm sums are exact longs too (10¹² per
    * term × dims ≪ 2⁶³) and the single final cosine division runs on
    * identical integers in both engines — no float-summation-order
    * anywhere.
    *
    * Scale shape: ONE posexplode pass + one (label, half, dim) aggregate
    * with map-side partials (output is labels × 2 × dims rows — tiny);
    * the half-join is a self-join of that TINY frame. The corpus is
    * touched once. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val q = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        (substring(md5(col("vec_id").cast("string")), 32, 1)
          .isin("0", "2", "4", "6", "8", "a", "c", "e")).cast("int").as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("half"), col("dim"),
        floor(col("x").cast("double") * 1000000 + 0.5d).cast("long").as("xq"))
      .groupBy(col("label"), col("half"), col("dim"))
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
      // sign · (|sum| div n): embedding sums can be negative and Spark
      // `div` truncates while DuckDB `//` floors — agree on |sum| only
      .select(col("label"), col("half"), col("dim"),
        (signum(col("sq")).cast("long") * expr("abs(sq) div n")).as("m"),
        col("n"))
    val a = q.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("m").as("ma"), col("n").as("na"))
    val b = q.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("m").as("mb"), col("n").as("nb"))
    a.join(b, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("nrm_a"),
        sum(col("mb") * col("mb")).as("nrm_b"))
      .select(col("label"), col("na").as("n_a"), col("nb").as("n_b"),
        round(col("dot").cast("double") /
          (sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))),
          4).as("cos_4dp"))
      .orderBy(col("label"))
  }

  private val embeddingDriftOracle: String =
    """WITH q AS (
      |  SELECT label,
      |         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 32, 1)
      |                IN ('0','2','4','6','8','a','c','e')
      |              THEN 1 ELSE 0 END AS half,
      |         generate_subscripts(embedding, 1) - 1 AS dim,
      |         CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000 + 0.5)
      |              AS BIGINT) AS xq
      |  FROM embeddings),
      |c AS (SELECT label, half, dim,
      |             CAST(sign(SUM(xq)) AS BIGINT)
      |               * (abs(SUM(xq)) // COUNT(*)) AS m,
      |             CAST(COUNT(*) AS BIGINT) AS n
      |      FROM q GROUP BY 1, 2, 3),
      |j AS (SELECT a.label, a.dim, a.m AS ma, b.m AS mb, a.n AS na, b.n AS nb
      |      FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
      |      WHERE a.half = 1 AND b.half = 0)
      |SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
      |       round(CAST(SUM(ma * mb) AS DOUBLE) /
      |             (sqrt(CAST(SUM(ma * ma) AS DOUBLE)) *
      |              sqrt(CAST(SUM(mb * mb) AS DOUBLE))), 4) AS cos_4dp
      |FROM j GROUP BY label
      |ORDER BY label""".stripMargin

  /** Embedding class-separation audit (q234): per label, the mean
    * squared distance of its vectors to their OWN centroid (intra-class
    * scatter) next to the squared distance to the NEAREST other
    * centroid (inter-class margin) and their ratio — the
    * Davies-Bouldin-style compactness/separation probe run before
    * trusting labels for retrieval or kNN eval (ratio ≤ 10⁴ bp means
    * classes overlap more than they separate).
    *
    * Determinism: centroids are floor-divided exact micro-unit means
    * (the q216 rule, sign·abs); per-vector squared distances divide by
    * dims FIRST (`Σ(xq−m)² div 64`) so the per-label sum stays in long
    * range (~4·10¹² per vector — ceiling ~10⁶ vectors per label per
    * partition-free sum, document-not-guard); the ratio is exact bp.
    *
    * Scale shape: centroids from ONE posexplode aggregate (labels ×
    * dims rows, broadcast back); the scatter pass re-joins the corpus
    * to its own label's centroid rows and aggregates per label;
    * centroid-centroid distances are a |labels|² self-join of the tiny
    * frame. */
  def classSeparation(s: SparkSession, dir: String): DataFrame = {
    val q = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * 1000000 + 0.5d).cast("long").as("xq"))
      .ckpt // consumers: centroids + the scatter pass
    val cent = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (signum(col("sq")).cast("long") * expr("abs(sq) div n")).as("m"))
      .ckpt // consumers: scatter join + centroid pairs
    val intra = q.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(expr("sum((xq - m) * (xq - m)) div 64").as("d2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), expr("sum(d2) div count(1)").as("intra_sq"))
    val a = cent.select(col("label").as("la"), col("dim"), col("m").as("ma"))
    val b = cent.select(col("label").as("lb"), col("dim"), col("m").as("mb"))
    val inter = a.join(b, Seq("dim")).filter(col("la") =!= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(expr("sum((ma - mb) * (ma - mb)) div 64").as("cd2"))
      .groupBy(col("la")).agg(min(col("cd2")).as("inter_sq"))
      .select(col("la").as("label"), col("inter_sq"))
    intra.join(inter, Seq("label"))
      .select(col("label"), col("n_vecs"), col("intra_sq"), col("inter_sq"),
        expr("inter_sq * 10000 div intra_sq").as("separation_bp"))
      .orderBy(col("label"))
  }

  private val classSeparationOracle: String =
    """WITH q AS (
      |  SELECT vec_id, label,
      |         generate_subscripts(embedding, 1) - 1 AS dim,
      |         CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000 + 0.5)
      |              AS BIGINT) AS xq
      |  FROM embeddings),
      |cent AS (SELECT label, dim,
      |                CAST(sign(SUM(xq)) * (abs(SUM(xq)) // COUNT(*))
      |                     AS BIGINT) AS m
      |         FROM q GROUP BY 1, 2),
      |pv AS (SELECT q.label, q.vec_id,
      |              CAST(SUM((q.xq - c.m) * (q.xq - c.m)) // 64 AS BIGINT)
      |                AS d2
      |       FROM q JOIN cent c ON q.label = c.label AND q.dim = c.dim
      |       GROUP BY 1, 2),
      |ia AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |              CAST(SUM(d2) // COUNT(*) AS BIGINT) AS intra_sq
      |       FROM pv GROUP BY label),
      |ie AS (SELECT la AS label, CAST(MIN(cd2) AS BIGINT) AS inter_sq FROM (
      |         SELECT a.label AS la, b.label AS lb,
      |                CAST(SUM((a.m - b.m) * (a.m - b.m)) // 64 AS BIGINT)
      |                  AS cd2
      |         FROM cent a JOIN cent b
      |           ON a.dim = b.dim AND a.label <> b.label
      |         GROUP BY 1, 2) t
      |       GROUP BY la)
      |SELECT ia.label, ia.n_vecs, ia.intra_sq, ie.inter_sq,
      |       CAST(ie.inter_sq * 10000 // ia.intra_sq AS BIGINT)
      |         AS separation_bp
      |FROM ia JOIN ie ON ia.label = ie.label
      |ORDER BY ia.label""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q234_class_separation", (s, d) => classSeparation(s, d),
      Some(classSeparationOracle)),
    Q("q216_embedding_drift", (s, d) => embeddingDrift(s, d),
      Some(embeddingDriftOracle)),
    Q("q195_knn_label_eval", (s, d) => knnLabelEval(s, d),
      Some(knnLabelEvalOracle)),
    Q("q184_mmr_rerank", (s, d) => mmrRerank(s, d), Some(mmrOracle)),
    Q("q144_semantic_dedup", (s, d) => semanticDedup(s, d),
      Some(semanticDedupOracle)),
    Q("q146_pca_projection", (s, d) => pcaProjection(s, d),
      Some(pcaOracle())),
    Q("q150_hard_negatives", (s, d) => hardNegatives(s, d),
      Some(hardNegativesOracle())),
    Q("q147_semantic_decontamination", (s, d) => semanticDecontamination(s, d),
      Some(decontaminationOracle)),
    Q("q140_embedding_outliers", (s, d) => embeddingOutliers(s, d),
      Some(outlierOracle())),
    Q("q138_ivf_trained", (s, d) => annIvfTrained(s, d),
      Some(ivfTrainedOracle())),
    Q("q242_incremental_ivf", (s, d) => incrementalIvf(s, d),
      Some(incrementalIvfOracle())),
    Q("q252_ivf_rebalance", (s, d) => ivfRebalance(s, d),
      Some(ivfRebalanceOracle())),
    Q("q137_kmeans_train", (s, d) => kmeansCentroids(s, d),
      Some(kmeansOracle)),
    Q("q153_pq_search", (s, d) => pqSearch(s, d), Some(pqOracle())),
    Q("q156_ivfpq_search", (s, d) => ivfPqSearch(s, d), Some(ivfPqOracle())),
    Q("q125_quantized_recall", (s, d) => quantizedRecall(s, d),
      Some(quantizedRecallOracle)),
    Q("q250_matryoshka_recall", (s, d) => matryoshkaRecall(s, d),
      Some(matryoshkaOracle)),
    Q("q256_filtered_ann", (s, d) => filteredAnn(s, d),
      Some(filteredAnnOracle)),
    Q("q107_srp_portable", (s, d) => srpPortable(s, d),
      Some(srpPortableOracle)),
    Q("q75_embedding_neardup", (s, d) => embeddingNearDups(s, d), Some(
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       round(list_cosine_similarity(a.e, b.e), 4) AS cos
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.35
        |ORDER BY id1, id2""".stripMargin)),
    Q("q40_ann_topk", (s, d) => annTopK(s, d), Some(
      """SELECT query_id, vec_id, cos, rn FROM (
        |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])), 4) AS cos,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(q.embedding AS DOUBLE[])), 4) DESC,
        |           e.vec_id) AS rn
        |  FROM embeddings e
        |  JOIN embeddings q ON q.vec_id < 3 AND e.vec_id <> q.vec_id) t
        |WHERE rn <= 10
        |ORDER BY query_id, rn""".stripMargin)),
    Q("q41_ann_lsh", (s, d) => annLshPortable(s, d),
      Some(annLshPortableOracle)),
    Q("q85_ivf_topk", (s, d) => annIvf(s, d), Some(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, e AS cv FROM v ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, e, cell FROM (
        |    SELECT v.vec_id, v.e, c.cent_id AS cell,
        |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
        |             ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC,
        |                      c.cent_id) AS arn
        |    FROM v CROSS JOIN cents c) t WHERE arn = 1),
        |q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 3),
        |qcells AS (
        |  SELECT query_id, qv, cell FROM (
        |    SELECT q.query_id, q.qv, c.cent_id AS cell,
        |           ROW_NUMBER() OVER (PARTITION BY q.query_id
        |             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC,
        |                      c.cent_id) AS qrn
        |    FROM q CROSS JOIN cents c) t WHERE qrn <= 4),
        |scored AS (
        |  SELECT qc.query_id, a.vec_id,
        |         round(list_cosine_similarity(a.e, qc.qv), 4) AS cos
        |  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
        |  WHERE a.vec_id <> qc.query_id)
        |SELECT query_id, vec_id, cos, rn FROM (
        |  SELECT query_id, vec_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 10
        |ORDER BY query_id, rn""".stripMargin)),
    Q("q42_label_stats", (s, d) => labelStats(s, d), Some(
      """SELECT label, COUNT(*) AS cnt,
        |       round(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                       CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin))
  )
}
