package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH
  * bucketed variant as the scale path.
  *
  * Scale design: the query set is broadcast (it is small by construction),
  * so the scan side never shuffles — each partition scores its rows and
  * emits per-partition top-k; the final top-k merge moves only k rows per
  * query per partition. The LSH variant buckets both sides by signature
  * first, turning the all-pairs score into a bucket-equi-join (the IVF-ish
  * pruning trade: recall < 1 for ~1/2^bits of the work).
  *
  * All arithmetic is double (array ops fold left in element order), so
  * results are bit-stable across engines and partitionings.
  */
object Ann {

  /** Hook for memoizing trained codebooks/centroids across queries in
    * one session (d19, verdict r18 task 2): `(passName, hyperparamTag,
    * build) => frame`. The default trains fresh. `SimilarityQueries`
    * passes a ChainCache-backed memo — callers may do so ONLY when the
    * training input is the canonical corpus slice the pass name declares
    * (the name, not the frame, is the cache key); the tag travels to
    * `ChainCache.memo` so one pass name can never silently serve two
    * hyperparameter sets (same guard as the corpus trainings). */
  type BookMemo = (String, String, () => DataFrame) => DataFrame
  val freshBooks: BookMemo = (_, _, b) => b()

  /** Elementwise dot product — one primitive loop (custom expression;
    * the zip_with + fold composition is CodegenFallback and interpreted,
    * which dominates pair-scoring; values identical: same element order,
    * same double accumulation). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpr.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** -1.0 whenever the division cannot produce a real cosine — zero
    * norms (0/0 = NaN), NaN vector elements (denom NaN; note `NaN =!= 0`
    * is TRUE under Spark's NaN-largest semantics, so a denom check alone
    * misses it), and Inf elements (Inf/Inf = NaN). Spark orders NaN as
    * the LARGEST double, so one corrupt embedding would otherwise become
    * the rank-1 neighbor of EVERY query and pair with every row in
    * near-dup output. Pinned to -1.0 it bottom-ranks (and matches
    * DuckDB's list_cosine_similarity on the zero-vector case, keeping
    * the value-level oracle parity). The magnitude check bounds fp noise:
    * any |raw| beyond 1+1e-6 is corruption, not a cosine. */
  def cosine(a: Column, b: Column): Column =
    // try_divide: ANSI mode THROWS on double x/0 — null here, then pinned
    pinnedCos(try_divide(dot(a, b), norm(a) * norm(b)))

  /** The guard above, applied to an already-computed raw quotient (the
    * pair-scoring paths precompute norms once per row, so they divide
    * explicitly rather than calling `cosine`). */
  private[similarity] def pinnedCos(raw: Column): Column =
    when(!isnan(raw) && abs(raw) <= 1.000001d, raw).otherwise(lit(-1.0))

  /** Exact brute-force cosine top-k for each query vector.
    *
    * @param vectors  (idCol, vecCol) frame to search
    * @param queries  (idCol, vecCol) frame of query vectors (small; broadcast)
    * @param k        neighbors per query (self-matches excluded)
    * Output: query_id, vec_id, cos (rounded 4dp), rn — ordering and rank
    * use the ROUNDED score + id tiebreak so ranking is reproducible. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = vectors.join(broadcast(q), col(idCol) =!= col("query_id"))
      .withColumn("cos", round(cosine(col(vecCol), col("__qv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"), col("rn"))
  }

  /** Embedding-cosine near-dup pairs: all (id1 < id2) pairs with rounded
    * cosine ≥ `minCos`. Norms are computed ONCE per row before the
    * self-join (not per pair).
    *
    * CONTRACT: brute-force O(n²) — exact verifier for SUBSETS / candidate
    * sets that fit one executor's scoring budget (≤ ~100k rows). At corpus
    * scale, block first (LSH signature equi-join — `lshTopK`'s bucketing)
    * and feed only candidate pairs through the same scoring.
    *
    * @param broadcastRight force-broadcast the right side of the theta
    *   join. Default false: the planner/AQE picks broadcast-NL only when
    *   the side fits `autoBroadcastJoinThreshold`, so a large input degrades
    *   to a (slow but finite) cartesian rather than OOMing the driver. */
  def nearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      minCos: Double, broadcastRight: Boolean = false): DataFrame = {
    val withNorm = vectors.select(
      col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    val a = withNorm.select(col("id").as("id1"), col("v").as("v1"), col("n").as("n1"))
    val b0 = withNorm.select(col("id").as("id2"), col("v").as("v2"), col("n").as("n2"))
    val b = if (broadcastRight) broadcast(b0) else b0
    a.join(b, col("id1") < col("id2"))
      // same zero-norm/NaN/Inf guard as `cosine` (-1.0, never NaN —
      // NaN >= minCos is TRUE under Spark's NaN-largest comparison, so an
      // unguarded corrupt row would pair with the whole corpus)
      .withColumn("cos", round(pinnedCos(
        try_divide(dot(col("v1"), col("v2")), col("n1") * col("n2"))), 4))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Semantic-dedup verdicts, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540: k-means-cluster the embedding space, then search
    * for near-duplicates only WITHIN each cluster): assign every vector
    * to its nearest trained centroid (`kmeansTrain` output), score
    * pairwise cosine inside each cell, and mark the higher-id side of
    * every pair with rounded cosine ≥ `minCos` as a duplicate.
    *
    * Scale: this is the composition that makes embedding dedup survive
    * corpus scale — the quadratic term is bounded by the largest CELL,
    * never the corpus (`nearDupPairs`' contract pushed through a
    * clustering blocker, exactly like MinHash banding bounds the shingle
    * path). Centroids broadcast; the assignment is `ivfAssign`'s map-side
    * argmax (the one shuffle carries |V| pre-reduced rows); norms are
    * computed once per row BEFORE the self-join; the pair join is an
    * equi-join on the cell id. Skewed cells are visible in the cell
    * histogram and split by raising k — the standard SemDeDup knob.
    *
    * Output: one verdict row per input vector — (idCol, cell, is_dup
    * 0/1). Keeping `is_dup = 0` rows IS the deduplicated corpus; emitting
    * verdicts instead lets one oracle value-check training, assignment,
    * bounded pair scoring and the drop rule at once. */
  def semanticDupVerdicts(vectors: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, minCos: Double,
      prunedG: Option[Int] = None): DataFrame = {
    val c = cents.select(col("cent_id"), col("centroid").as("__cv"))
    // pinned: `assigned` is referenced THREE times below (both sides of
    // the cell pair join + the final verdict left join) — without the
    // pin each reference re-runs the whole assignment pass
    val assigned = graft.Ckpt(prunedG
      .map(g => prunedAssign(vectors, idCol, vecCol, c, g))
      .getOrElse(ivfAssign(vectors, idCol, vecCol, c))
      .withColumn("__n", norm(col(vecCol))))
    val l = assigned.select(col("__cell"), col(idCol).as("__id1"),
      col(vecCol).as("__v1"), col("__n").as("__n1"))
    val r = assigned.select(col("__cell"), col(idCol).as("__id2"),
      col(vecCol).as("__v2"), col("__n").as("__n2"))
    val dups = l.join(r, Seq("__cell"))
      .filter(col("__id1") < col("__id2"))
      .withColumn("__cos", round(pinnedCos(
        try_divide(dot(col("__v1"), col("__v2")), col("__n1") * col("__n2"))), 4))
      .filter(col("__cos") >= minCos)
      .select(col("__id2").as(idCol)).distinct()
    assigned.join(dups.withColumn("__d", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("__cell").as("cell"),
        coalesce(col("__d"), lit(0)).as("is_dup"))
  }

  /** Random-hyperplane LSH signature: `bits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes (component (p, i) is a
    * zero-mean value derived from a murmur mix — reproducible with no RNG
    * state). One primitive pass per row via the custom expression (the
    * per-plane zip_with/aggregate composition it replaces interpreted
    * bits × dim boxed lambdas per row). */
  def lshSignature(vec: Column, bits: Int = 8): Column =
    graft.functions.SigExpr.srpSignature(vec, bits)

  /** IVF (inverted-file) ANN: the scale path that PRUNES the scan instead
    * of scoring every row. Build: assign each vector to its nearest of
    * `nlist` coarse centroids (one broadcast-join pass — the "inverted
    * lists" are just a cell column, so the index is an ordinary
    * cell-partitioned table). Query: probe only the `nprobe` cells whose
    * centroids are nearest the query vector and exact-score the ~
    * nprobe/nlist fraction of the corpus inside them. Recall trades
    * against nprobe exactly as in FAISS-style IVF-Flat.
    *
    * Deterministic and cross-engine reproducible (unlike k-means with RNG
    * seeds): centroids are the `nlist` smallest-id vectors, and both the
    * cell assignment and the probe ranking order by the 4dp-ROUNDED
    * cosine with centroid-id tiebreak — so a SQL oracle can restate the
    * whole index build. (A production deployment would swap in k-means
    * centroids computed offline; every plan shape below is unchanged.)
    *
    * Scale: centroids broadcast (nlist rows); assignment is one
    * narrow pass over the corpus (|V| × nlist rounded cosines, the
    * standard IVF build cost); candidate scoring is an equi-join on the
    * cell id — shuffle-free on the corpus side when the index table is
    * written partitioned/bucketed by cell. */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = ivfCentroids(vectors, idCol, vecCol, nlist)
    ivfQuery(ivfAssign(vectors, idCol, vecCol, cents), cents,
      queries, idCol, vecCol, k, nprobe)
  }

  /** Deterministic coarse centroids: the nlist smallest-id vectors. */
  private def ivfCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame =
    vectors.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("cent_id"), col(vecCol).as("__cv"))

  /** IVF served from EXTERNALLY-TRAINED centroids (`kmeansTrain` output:
    * cent_id + centroid) — the production composition train → index →
    * query; build and probe plan shapes are identical to `ivfTopK`,
    * only the centroid source changes. */
  def ivfTopKWith(cents: DataFrame, vectors: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val c = cents.select(col("cent_id"), col("centroid").as("__cv"))
    ivfQuery(ivfAssign(vectors, idCol, vecCol, c), c,
      queries, idCol, vecCol, k, nprobe)
  }

  /** Two-level PRUNED argmax assignment — IVF coarse quantization
    * applied to the assignment step itself. The k centroids are grouped
    * under their `g` smallest-id peers (each centroid's nearest seed by
    * rounded cosine, seed-id tiebreak); a vector picks its best
    * OCCUPIED group first, then the best centroid within that group.
    * Cost per vector: g + |group| ≈ 2·√k rounded cosines at g = ⌈√k⌉,
    * vs k for the exact argmax — the difference between n·k (quadratic
    * when the SemDeDup knob scales k with the corpus) and n·√k.
    * Deterministic and SQL-restatable: every argmax is (rounded cosine
    * DESC, id ASC), the same discipline as `ivfAssign`; the seeds are
    * smallest-id, the `ivfCentroids` precedent. Approximate in the same
    * sense IVF probing is: a vector whose true-nearest centroid lives
    * in a non-chosen group lands in the runner-up cell — acceptable for
    * cell-BLOCKING (SemDeDup cells are themselves a heuristic blocker),
    * never used where exact argmax is the contract (q137/q242/q252
    * training, IVF index build). */
  private[similarity] def prunedAssign(vectors: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame, g: Int): DataFrame = {
    val seeds = cents.orderBy(col("cent_id")).limit(g)
      .select(col("cent_id").as("__sid"), col("__cv").as("__sv"))
    // group each fine centroid under its nearest seed (k×g, tiny)
    val grouped = cents.join(broadcast(seeds))
      .withColumn("__gc", round(cosine(col("__cv"), col("__sv")), 4))
      .groupBy(col("cent_id"))
      .agg(max_by(struct(col("__sid"), col("__cv").as("__m")),
        struct(col("__gc"), (-col("__sid")).as("__ns"))).as("__b"))
      .select(col("cent_id"), col("__b.__m").as("__cv"),
        col("__b.__sid").as("__grp"))
    // vectors must only coarse-pick groups that actually hold a
    // centroid (a seed can lose its own members to a tie — an empty
    // group would strand every vector that chose it)
    val occSeeds = grouped.select(col("__grp").as("__sid")).distinct()
      .join(broadcast(seeds), Seq("__sid"))
    val coarse = vectors.join(broadcast(occSeeds))
      .withColumn("__gc", round(cosine(col(vecCol), col("__sv")), 4))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("__sid"), col(vecCol).as("__v")),
        struct(col("__gc"), (-col("__sid")).as("__ns"))).as("__b"))
      .select(col(idCol), col("__b.__v").as(vecCol),
        col("__b.__sid").as("__grp"))
    // fine argmax within the chosen group: the broadcast side is the
    // grouped centroid table (≤ k rows), the equi-join on __grp fans
    // each vector out to its group's members only
    coarse.join(broadcast(grouped), Seq("__grp"))
      .withColumn("__cc", round(cosine(col(vecCol), col("__cv")), 4))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("cent_id"), col(vecCol).as("__v")),
        struct(col("__cc"), (-col("cent_id")).as("__nc"))).as("__best"))
      .select(col(idCol), col("__best.__v").as(vecCol),
        col("__best.cent_id").as("__cell"))
  }

  /** Nearest-centroid cell assignment (rounded cosine, centroid-id
    * tiebreak) — the IVF build pass. max_by aggregation, NOT a window:
    * the argmax combines map-side (partial max per partition), so the
    * only shuffle carries |V| pre-reduced rows — a row_number window
    * would shuffle AND sort the |V|×nlist exploded frame. Ordering key
    * (__cc, -cent_id) is total per vector (cent_id unique), so the
    * result is deterministic and identical to the window argmax. */
  private[similarity] def ivfAssign(vectors: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame): DataFrame =
    vectors.join(broadcast(cents))
      .withColumn("__cc", round(cosine(col(vecCol), col("__cv")), 4))
      .groupBy(col(idCol))
      .agg(
        max_by(struct(col("cent_id"), col(vecCol).as("__v")),
          struct(col("__cc"), (-col("cent_id")).as("__nc"))).as("__best"))
      .select(col(idCol), col("__best.__v").as(vecCol),
        col("__best.cent_id").as("__cell"))

  private def ivfQuery(assigned: DataFrame, cents: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__qc").desc, col("cent_id"))
    val qcells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(broadcast(cents))
      .withColumn("__qc", round(cosine(col("__qv"), col("__cv")), 4))
      .withColumn("__qrn", row_number().over(wProbe))
      .filter(col("__qrn") <= nprobe)
      .select(col("query_id"), col("__qv"), col("cent_id").as("__cell"))
    // a vector lives in exactly one cell and a query probes distinct
    // cells, so the candidate join yields no duplicate (query, vector)
    // pairs and needs no dedup
    val scored = assigned.join(broadcast(qcells), Seq("__cell"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(cosine(col(vecCol), col("__qv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"), col("rn"))
  }

  /** Materialize the IVF index as a parquet table PARTITIONED BY cell —
    * the persisted form of the inverted lists. Probing a stored index
    * reads only the probed cells' partitions (dynamic partition pruning
    * from the broadcast probe-cell join), i.e. ~nprobe/nlist of the
    * corpus bytes, which is the entire point of IVF at 100 TB. */
  def buildIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int, path: String): Unit =
    ivfAssign(vectors, idCol, vecCol, ivfCentroids(vectors, idCol, vecCol, nlist))
      .write.mode("overwrite").partitionBy("__cell").parquet(path)

  /** Query a stored IVF index. Centroids re-derive deterministically from
    * the indexed vectors themselves (smallest ids), so no side file is
    * needed; at production scale persist them next to the index. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val assigned = spark.read.parquet(path)
    val cents = ivfCentroids(
      assigned.select(col(idCol), col(vecCol)), idCol, vecCol, nlist)
    ivfQuery(assigned, cents, queries, idCol, vecCol, k, nprobe)
  }

  /** LSH-bucketed ANN: score only vectors whose signature matches the
    * query's bucket. Recall trades against bits; candidates within a
    * bucket are ranked exactly like the brute-force path. */
  def lshTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val sigd = vectors.withColumn("__sig", lshSignature(col(vecCol), bits))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__sig", lshSignature(col("__qv"), bits))
    val scored = sigd.join(broadcast(q), Seq("__sig"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(cosine(col(vecCol), col("__qv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"), col("rn"))
  }

  /** Distributed spherical k-means trainer (Lloyd's iterations) — the
    * offline centroid job `ivfTopK`'s scaladoc defers to ("a production
    * deployment would swap in k-means centroids computed offline").
    *
    * Each iteration is two distributed passes:
    *  1. ASSIGN: broadcast the k centroids onto the corpus and take the
    *     per-vector argmax cosine via `max_by` (map-side partial argmax;
    *     the one shuffle carries |V| pre-reduced rows — the same shape
    *     as `ivfAssign`, with the same 4dp-rounded cosine + centroid-id
    *     tiebreak so ties are deterministic);
    *  2. RECOMPUTE: per-element means via posexplode → (cell, dim)
    *     aggregate. Elements are quantized to integer micro-units BEFORE
    *     summing (floor(x·10⁶ + 0.5) as long), so the sum is exact and
    *     order-independent — double summation would drift with partition
    *     order and break cross-engine reproducibility; the mean divides
    *     the exact integer sum as a double, which every engine computes
    *     identically.
    *
    * Init is the k smallest-id vectors (the IVF convention — no RNG, so
    * a SQL oracle can restate the whole training run). A cluster that
    * loses every member simply disappears (classic Lloyd's; k shrinks).
    * Scale: centroids broadcast (k rows); each iteration is one narrow
    * corpus pass + one (k × dim)-sized aggregate — no corpus shuffle
    * beyond the |V|-row argmax reduction. */
  /** Top principal direction of the vector column by power iteration
    * over the EXACT integer covariance — the PCA-style statistic an
    * embedding pipeline runs for whitening/compression diagnostics.
    *
    * One corpus pass computes the micro-unit integer moments
    * (`GramMoments`: n, Σx, upper-tri Σxxᵀ — a ~17 KB buffer per
    * partition, merged map-side), so the scaled covariance derives
    * exactly as C = n·Σxxᵀ − (Σx)(Σx)ᵀ with zero float drift. The
    * power iteration then runs DRIVER-SIDE on the dim×dim BigInt
    * matrix (statistics-sized work, same adjudication as the sketch
    * merges in operators/Scale.scala) with a fully INTEGER rescale per
    * step — v ← ((C·v + m)·10⁶ div m) − 10⁶ where m = max|C·v| — so
    * every intermediate is an exact integer a SQL engine reproduces
    * (non-negative integer division is truncation everywhere; no
    * engine-specific int128→double rounding on the path).
    *
    * Returns the direction as integers scaled to max|v| = 10⁶ (sign
    * follows the all-ones start vector; deterministic). Zero-variance
    * input returns the zero vector. */
  def principalDirection(vectors: DataFrame, vecCol: String, dim: Int,
      iters: Int = 2): Array[Long] = {
    val r = vectors
      .agg(graft.functions.GramAgg.gramMoments(col(vecCol), dim).as("m"))
      .head().getStruct(0)
    val n = BigInt(r.getLong(0))
    val sums = r.getSeq[Long](1).map(BigInt(_))
    val prods = r.getSeq[Long](2).map(BigInt(_))
    def pidx(i: Int, j: Int): Int = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      a * dim - a * (a - 1) / 2 + (b - a)
    }
    val c = Array.tabulate(dim, dim)((i, j) => n * prods(pidx(i, j)) - sums(i) * sums(j))
    var v = Array.fill(dim)(BigInt(1))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => (x + m) * 1000000 / m - 1000000)
    }
    v.map(_.toLong)
  }

  /** Product quantization ANN (q153) — the compressed-corpus search gear
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): the vector splits into `m` subspaces, each trained to
    * its own `k`-codeword codebook via `kmeansTrain`; every corpus vector
    * is then ENCODED as m small codes (here m·⌈log₂k⌉ = 4 bits per
    * vector vs 64·32 for the raw floats), and queries score candidates
    * through an ADC lookup table — score(q, x) = Σₘ ⟨qₘ, cm[codeₘ(x)]⟩ —
    * without ever touching the original vectors again.
    *
    * Scale shape: training/encode are per-subspace broadcast-join passes
    * (codebooks are k rows); the search-time corpus state is ONLY the
    * codes table, and scoring is a map-only broadcast-LUT join over it
    * with a per-query bounded top-k — the point of PQ at 100 TB is that
    * this pass reads bytes-per-vector, not the embedding column.
    * Composes with IVF (q138) as IVF-PQ: cells prune which code rows are
    * scanned, unchanged here.
    *
    * Deterministic end to end (seeded codebooks, rounded-cosine argmax
    * encode with cent_id tiebreak, fixed summation order in the ADC
    * add), so the full train→encode→search run is value-checkable in
    * SQL. */
  /** Fresh PQ encode + query LUTs. `codes` carries ALL m subspace codes
    * per vector — (\_\_vid, \_\_c0 … \_\_c(m−1)) — from ONE corpus pass: the
    * m k-row codebooks union with a subspace tag, each vector fans out
    * over the m·k tagged codewords through ONE broadcast, and a single
    * per-vector aggregate takes the per-subspace argmax via conditional
    * `max_by` (null ordering keys are skipped, so subspace mi's argmax
    * sees only subspace mi's rows). The former per-subspace shape ran m
    * separate encode passes (m broadcasts + m per-vector aggregates)
    * and re-joined the m code frames on \_\_vid — m−1 extra corpus
    * shuffles the fused pass removes (guide §2.4); candidate-row volume
    * is the same m·k per vector either way. Values are identical: the
    * rounded-cosine argmax with cent_id tiebreak per subspace, the
    * ivfAssign discipline. LUTs stay per-subspace: (query_id, \_\_code,
    * \_\_d) query·codeword dots (|Q|·k rows, broadcast-sized by
    * construction). */
  private def pqEncoded(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, k: Int, iters: Int,
      memo: BookMemo = freshBooks): (DataFrame, Seq[DataFrame]) = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val books = (0 until m).map { mi =>
      val sv = vectors.select(col(idCol).as("__vid"),
        slice(col(vecCol), mi * sub + 1, sub).as("__sv"))
      memo(s"sim_pq_book_m${m}_k${k}_i${iters}_s$mi",
          s"k=$k,iters=$iters,pruned=false",
          () => kmeansTrain(sv, "__vid", "__sv", k, iters))
        // re-annotate the ≤k bound: a Ckpt-backed memo erases maxRows,
        // and PlanAudit proves the broadcast joins bounded from it
        .limit(k)
        .select(col("cent_id"), col("centroid").as("__cv"))
    }
    val tagged = books.zipWithIndex.map { case (b, mi) =>
      b.select(lit(mi).as("__mi"), col("cent_id"), col("__cv"))
    }.reduce(_ unionByName _)
    // pre-slice the m subvectors ONCE per vector (bound before the
    // broadcast fan-out, so the slice work is per vector, not per
    // candidate row); element_at picks the tagged row's subspace
    val sliced = vectors.select(col(idCol).as("__vid"),
      array((0 until m).map(mi =>
        slice(col(vecCol), mi * sub + 1, sub)): _*).as("__subs"))
    val codes = sliced.join(broadcast(tagged))
      .withColumn("__cc", round(
        cosine(element_at(col("__subs"), col("__mi") + 1), col("__cv")), 4))
      .groupBy(col("__vid"))
      .agg(
        max_by(col("cent_id"), when(col("__mi") === 0,
          struct(col("__cc"), (-col("cent_id")).as("__nc")))).as("__c0"),
        (1 until m).map { mi =>
          max_by(col("cent_id"), when(col("__mi") === mi,
            struct(col("__cc"), (-col("cent_id")).as("__nc")))).as(s"__c$mi")
        }: _*)
    val luts = books.zipWithIndex.map { case (book, mi) =>
      queries
        .select(col(idCol).as("query_id"),
          slice(col(vecCol), mi * sub + 1, sub).cast("array<double>").as("__qs"))
        .crossJoin(broadcast(book))
        .select(col("query_id"), col("cent_id").as("__code"),
          dot(col("__qs"), col("__cv")).as("__d"))
    }
    (codes, luts)
  }

  private def pqTail(scored: DataFrame, m: Int, topk: Int): DataFrame = {
    val adc = round((0 until m).map(mi => col(s"__d$mi")).reduce(_ + _), 4)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    scored
      .filter(col("__vid") =!= col("query_id"))
      .select(col("query_id"), col("__vid").as("vec_id"), adc.as("adc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topk)
      .orderBy(col("query_id"), col("rn"))
  }

  def pqTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int = 2, k: Int = 4, iters: Int = 2,
      topk: Int = 10, memo: BookMemo = freshBooks): DataFrame = {
    // every (vector, query) pair scores through the m broadcast LUTs on
    // the ONE fused codes frame — the former per-subspace (codes ⋈ LUT)
    // frames re-joined on (__vid, query_id) are gone with their shuffles
    val (codes, luts) = pqEncoded(vectors, queries, idCol, vecCol, dim, m,
      k, iters, memo)
    val scored = luts.zipWithIndex.foldLeft(codes) { case (acc, (lut, mi)) =>
      acc.join(broadcast(lut.select(col("query_id"),
          col("__code").as(s"__c$mi"), col("__d").as(s"__d$mi"))),
        if (mi == 0) Seq(s"__c$mi") else Seq("query_id", s"__c$mi"))
    }
    pqTail(scored, m, topk)
  }

  /** IVF-PQ (q156) — the FAISS IVFPQ composition (by_residual=false):
    * the trained coarse quantizer (q137/q138 gear) PRUNES which vectors
    * are scored at all (nprobe cells per query), and the PQ codes table
    * (q153 gear) supplies the scores via broadcast ADC LUTs — so the
    * query-time pass touches only the candidate slice of the corpus and
    * reads only codes, never the embedding column. Residual encoding
    * (codebooks trained on x − centroid) drops into `pqParts`'s `sv`
    * seam; every plan shape is unchanged.
    *
    * Candidate flow: cells(\_\_vid, \_\_cell) ⋈ broadcast probe list →
    * per-subspace code join + broadcast LUT join → bounded per-query
    * top-k. All corpus-sized frames are keyed by vector id or cell;
    * nothing quadratic, nothing corpus-wide-windowed. */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int = 2, k: Int = 4, iters: Int = 2,
      nlist: Int = 8, nprobe: Int = 3, topk: Int = 10,
      memo: BookMemo = freshBooks): DataFrame = {
    // the coarse quantizer shares q137's training when memoized — the
    // pass name asserts the input is the full canonical corpus
    val coarse = memo(s"sim_kmeans_corpus_k${nlist}_i$iters",
        s"k=$nlist,iters=$iters,pruned=false",
        () => kmeansTrain(vectors, idCol, vecCol, nlist, iters))
      .limit(nlist) // re-annotate the ≤nlist bound a Ckpt memo erases
      .select(col("cent_id"), col("centroid").as("__cv"))
    val cells = ivfAssign(vectors, idCol, vecCol, coarse)
      .select(col(idCol).as("__vid"), col("__cell"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__qc").desc, col("cent_id"))
    val qcells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(broadcast(coarse))
      .withColumn("__qc", round(cosine(col("__qv"), col("__cv")), 4))
      .withColumn("__qrn", row_number().over(wProbe))
      .filter(col("__qrn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("__cell"))
    val cand = cells.join(broadcast(qcells), Seq("__cell"))
      .select(col("__vid"), col("query_id"))
    // ONE join attaches all m codes to the candidate slice (the fused
    // pqEncoded frame), then the m broadcast LUT probes score it
    val (codes, luts) = pqEncoded(vectors, queries, idCol, vecCol, dim, m,
      k, iters, memo)
    val scored = luts.zipWithIndex.foldLeft(cand.join(codes, Seq("__vid"))) {
      case (acc, (lut, mi)) =>
        acc.join(broadcast(lut
            .select(col("query_id"), col("__code").as(s"__c$mi"),
              col("__d").as(s"__d$mi"))),
          Seq("query_id", s"__c$mi"))
    }
    pqTail(scored, m, topk)
  }

  def kmeansTrain(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    lloyd(vectors, idCol, vecCol, k, iters) { (v, cents) =>
      v.join(broadcast(cents))
        .withColumn("__cc", round(cosine(col("__v"), col("__cv")), 4))
        .groupBy(col("__vid"))
        .agg(max_by(struct(col("cent_id"), col("__v").as("__m")),
          struct(col("__cc"), (-col("cent_id")).as("__nc"))).as("__best"))
        .select(col("__best.cent_id").as("cent_id"), col("__best.__m").as("__v"))
    }

  /** `kmeansTrain` with the assignment step of every Lloyd iteration
    * routed through [[prunedAssign]] (g = ⌈√k⌉): the corpus-scaled
    * SemDeDup path where k ∝ n made exact assignment n·k — quadratic in
    * the corpus. Identical seeding, mean arithmetic and determinism;
    * only the argmax is coarse-pruned. The d19 sf10 probe measured the
    * exact form at time exponent 1.83 (473 s at sf10); this form bounds
    * assignment at n·2√k. */
  def kmeansTrainPruned(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    lloyd(vectors, idCol, vecCol, k, iters) { (v, cents) =>
      prunedAssign(v, "__vid", "__v", cents, g)
        .select(col("__cell").as("cent_id"), col("__v"))
    }
  }

  /** Lloyd's iteration from the k smallest-id vectors; `assign` maps the
    * (__vid, __v) rows and (cent_id, __cv) centroids to (cent_id, __v).
    * Each iteration reads a driver-local copy of the ≤k centroids
    * (`Iterate.Localize`, the MLlib KMeans shape), so none carries or,
    * through `prunedAssign`'s two broadcast subtrees, re-executes the
    * previous one (d20: q144 34 jobs → 8). */
  private def lloyd(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int)(assign: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val v = vectors.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    val seeds = v.orderBy(col("__vid")).limit(k)
      .select(col("__vid").as("cent_id"), col("__v").as("centroid"))
    graft.Iterate(seeds, iters, graft.Iterate.Localize) { cents =>
      recomputeMeans(
        assign(v, cents.select(col("cent_id"), col("centroid").as("__cv"))), k)
    }
  }

  /** Lloyd mean recompute from (cent_id, __v) assignment rows, in the
    * repo's exact-integer micro discipline (floor(x·1e6 + 0.5) per
    * component, mean over longs — no float summation-order drift). */
  private def recomputeMeans(assigned: DataFrame, k: Int): DataFrame =
    assigned
      .select(col("cent_id"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .withColumn("__xq", floor(col("__x") * 1000000d + 0.5d).cast("long"))
      .groupBy(col("cent_id"), col("__pos"))
      .agg(sum(col("__xq")).as("__s"), count(lit(1)).as("__n"))
      .withColumn("__m", col("__s").cast("double") / col("__n") / 1000000d)
      .groupBy(col("cent_id"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__pm"))
      .select(col("cent_id"), expr("transform(__pm, p -> p.__m)").as("centroid"))
      // no-op cardinality ANNOTATION: cent_id ranges over the ≤k seed
      // ids, so this passes every row — but it writes the ≤k bound
      // into the plan (`maxRows`), which is what lets PlanAudit prove
      // every downstream broadcast(cents) nested-loop join pairs each
      // corpus row with a FIXED number of rows rather than trusting a
      // docstring. Costs one k-row gather per iteration — noise.
      .limit(k)
}
