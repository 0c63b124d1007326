package graft.text
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the documents table: the ranked-search
  * counterpart of the reference's LINQ term search (`ApplySearchTerm`,
  * `LinqCatalogSearchService.cs:556-600`, which only filters) and of the
  * indexed-search provider seam (`dsl/SearchProvider.scala`). Where the
  * reference delegates relevance to Lucene (the external "MegaSearch"
  * module), a Spark-native engine ranks relationally: a distributed
  * inverted index (one token-keyed aggregate), broadcast query terms, and
  * a bounded-heap top-k — the retrieval pass a training-data pipeline
  * runs for corpus exploration and eval-set mining.
  */
object Retrieval {

  /** The fixed benchmark query set. One shared definition generates both
    * the Spark literal frame and the DuckDB VALUES clause, so engine and
    * oracle can never drift. Terms are already in the corpus-normal form
    * (lowercase, single-space) — `TextFunctions.normalize` is identity on
    * them, keeping query tokenization trivially identical in both engines. */
  private val benchQueries: Seq[(Int, String)] = Seq(
    0 -> "spark join shuffle",
    1 -> "hash table scan",
    2 -> "customer order line",
    3 -> "stream window batch",
    4 -> "vector")

  private[text] def queryTerms: Seq[(Int, String)] =
    benchQueries.flatMap { case (id, text) => text.split(' ').distinct.map(id -> _) }

  private final val Bm25K = 10
  /** BM25 top-k retrieval (q148): Okapi BM25 with k1=1.2, b=0.75 and the
    * +1-smoothed idf `ln((N - df + 0.5)/(df + 0.5) + 1)` (the Lucene
    * variant, non-negative by construction).
    *
    * Determinism across engines (the q122/q96 discipline): every per-term
    * contribution is computed over doubles derived from EXACT integer
    * aggregates (tf, df, dl, N, total-token count) and engine-identical
    * literals, then quantized to an integer (×10000, round) BEFORE the
    * per-document sum — so the only cross-row accumulation is integer and
    * order-independent, and the top-k ranks on (integer score, doc_id),
    * a total order no float tie can perturb.
    *
    * Plan shape, and why it scales: the corpus is tokenized ONCE into the
    * doc×term frame (one shuffle — this IS the inverted index, Parquet- or
    * bucket-persisted in a deployment); per-doc lengths fall out of the
    * same frame (partial-aggregated doc_id sum); the df table is
    * vocabulary-sized (≪ corpus) and broadcasts; the query set broadcasts
    * and its hash-join kills every non-matching posting row map-side, so
    * the only rows that reach the doc-length join and the scoring
    * aggregate are postings of query terms (the selective path of a real
    * search engine); top-k per query is the bounded-heap aggregate
    * (`TopKAgg.topK`) — ≤k rows shuffle per (task × query), never a
    * per-query sort of the full candidate set. */
  def bm25TopK(s: SparkSession, dir: String, k: Int = Bm25K): DataFrame =
    // the integer score frame is pinned once per session (memo) — the
    // index-scoring pass of a search engine runs once, each consumer
    // (q148's k=10 register, q257's kIn=20 fusion arm) takes its own
    // bounded-heap top-k over it
    bm25TopKOf(graft.etl.ChainCache.memo(s, dir, "ret_bm25_scores") {
      bm25Scores(s, Tables.documents(s, dir), queryTerms)
    }, k)

  /** Core BM25 over any (doc_id, text) frame and (query_id, token) term
    * set — separated so specs can rank a hand-built corpus against an
    * independently-computed expectation. */
  def bm25(s: SparkSession, docs: DataFrame, terms: Seq[(Int, String)],
      k: Int): DataFrame =
    bm25TopKOf(bm25Scores(s, docs, terms), k)

  private def bm25TopKOf(scores: DataFrame, k: Int): DataFrame =
    scores
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("iscore")).as("neg"), col("doc_id").as("doc_id")), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rn"),
        ((-col("col.neg")) / 10000.0).as("score"))
      .orderBy(col("query_id"), col("rn"))

  /** The integer BM25 score frame (query_id, doc_id, iscore) BEFORE the
    * per-query top-k — exposed so compositions (q248 chunk retrieval)
    * can roll scores up to a parent grain first. */
  def bm25Scores(s: SparkSession, docs: DataFrame,
      terms: Seq[(Int, String)]): DataFrame = {
    import s.implicits._
    val tf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .ckpt // feeds df, doclen AND the scoring join
    val doclen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = doclen.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val qt = terms.toDF("query_id", "token")

    val contrib = tf
      .join(broadcast(qt), Seq("token"))
      .join(doclen, Seq("doc_id"))
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + 0.5) /
          (col("df").cast("double") + 0.5) + 1))
      .withColumn("tfc",
        col("tf").cast("double") * 2.2 /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .select(col("query_id"), col("doc_id"),
        round(col("idf") * col("tfc") * 10000, 0).cast("long").as("c"))

    contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("iscore"))
  }

  private def queryTermsValuesSql: String =
    queryTerms.map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  private def bm25OracleSql(k: Int): String = {
    val toksSql = TextQueries.toksSql
    s"""WITH qt(query_id, token) AS (VALUES $queryTermsValuesSql),
       |tf AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents) u
       |       GROUP BY doc_id, tok),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
       |c AS (SELECT qt.query_id, tf.doc_id,
       |             CAST(round(
       |               ln((CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
       |                  / (CAST(df.df AS DOUBLE) + 0.5) + 1)
       |               * (CAST(tf.tf AS DOUBLE) * 2.2
       |                  / (CAST(tf.tf AS DOUBLE)
       |                     + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
       |                              / (CAST(st.total_tokens AS DOUBLE)
       |                                 / CAST(st.n_docs AS DOUBLE)))))
       |               * 10000, 0) AS BIGINT) AS c
       |      FROM tf JOIN qt USING (token)
       |           JOIN dl USING (doc_id) JOIN df USING (token), st),
       |sc AS (SELECT query_id, doc_id, SUM(c) AS iscore
       |       FROM c GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, iscore,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |               ORDER BY iscore DESC, doc_id) AS rn
       |      FROM sc)
       |SELECT query_id, doc_id, CAST(rn AS INT) AS rn, iscore / 10000.0 AS score
       |FROM r WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin
  }

  private final val HeavyHittersK = 50
  private final val HeavyHittersSketchCap = 200
  /** Heavy hitters with an exact answer (q181): a Misra–Gries sketch pass
    * proposes candidates (cap-bounded state, map-side mergeable — the
    * vocabulary never shuffles), then an exact count confirms them over a
    * broadcast-filtered corpus and keeps tokens with cnt · k > n. The
    * sketch cap (200) exceeds k (50), so the n/cap undercount bound
    * guarantees no true heavy hitter is missed — the final output is
    * EXACT, the sketch only prunes the key space (the LSH-then-verify
    * discipline applied to frequency estimation; at 100 TB the exact
    * full-vocabulary aggregate this replaces is itself TB-sized state). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokensOf(
        TextFunctions.normalize(col("text")))).as("token"))
      .ckpt // two passes: sketch, exact confirm
    val sketch = toks.agg(
      graft.functions.MisraGriesAgg.mgCandidates(col("token"), HeavyHittersSketchCap)
        .as("cand"),
      count(lit(1)).as("n_tokens"))
    val cands = sketch.select(explode(col("cand")).as("token"),
      col("n_tokens"))
    toks.join(broadcast(cands), Seq("token"))
      .groupBy(col("token"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HeavyHittersK > col("n_tokens"))
      .select(col("token"), col("cnt"), col("n_tokens"))
      .orderBy(col("cnt").desc, col("token"))
  }

  private def heavyHittersOracle: String =
    s"""WITH tok AS (SELECT unnest(${TextQueries.toksSql}) AS token
       |             FROM documents),
       |n AS (SELECT COUNT(*) AS n_tokens FROM tok),
       |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
       |SELECT c.token, c.cnt, n.n_tokens
       |FROM c, n
       |WHERE c.cnt * $HeavyHittersK > n.n_tokens
       |ORDER BY c.cnt DESC, c.token""".stripMargin

  private final val Phrase = "big order scan"
  /** Positional phrase search (q182): exact consecutive-token phrase
    * matching through a positional inverted index — the retrieval
    * operation BM25's bag-of-words scoring cannot express. Postings are
    * (doc, pos) pairs for the PHRASE'S OWN TERMS only (the filter prunes
    * before anything shuffles); term i joins the anchor on
    * (doc, pos − i), so every join is equi-keyed on the same
    * (doc_id, pos) pair — after the first shuffle the remaining joins
    * reuse the partitioning. Overlapping matches count per start
    * position. */
  def phraseSearch(s: SparkSession, dir: String,
      phrase: String = Phrase): DataFrame = {
    val words = phrase.split(" ").toSeq
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(TextFunctions.tokensOf(
        TextFunctions.normalize(col("text")))).as(Seq("pos", "token")))
      .filter(col("token").isin(words: _*))
      .ckpt // one consumer per phrase term
    var m = postings.filter(col("token") === words.head)
      .select(col("doc_id"), col("pos"))
    for (i <- 1 until words.size) {
      m = m.join(
        postings.filter(col("token") === words(i))
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
    m.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  private def phraseSearchOracle: String = {
    val words = Phrase.split(" ")
    val joins = (1 until words.length).map(i =>
      s"JOIN t t$i ON t$i.doc_id = p0.doc_id AND t$i.pos = p0.pos + $i " +
        s"AND t$i.token = '${words(i)}'").mkString("\n|       ")
    s"""WITH d AS (SELECT doc_id, ${TextQueries.toksSql} AS toks
       |           FROM documents),
       |t AS (SELECT doc_id, i AS pos, toks[i] AS token
       |      FROM d, LATERAL unnest(generate_series(1, len(toks))) AS u(i)),
       |p0 AS (SELECT doc_id, pos FROM t WHERE token = '${words(0)}'),
       |m AS (SELECT p0.doc_id, p0.pos
       |      FROM p0
       |       $joins)
       |SELECT doc_id, COUNT(*) AS n_matches
       |FROM m GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Composite chunk key multiplier: a chunk would alias across
    * documents only past 10⁶ chunks/doc (~48M tokens at stride 48 —
    * no real document); the encode guard below still fails loudly
    * rather than aliasing if one ever appears. */
  private val ChunkKeyMult = 1000000L

  private final val ChunkedK = 5
  /** Chunked retrieval with document rollup (q248): the complete RAG
    * read path — the q245 chunk frame becomes the retrieval unit, BM25
    * scores each (query, chunk) with chunk-level df/length statistics,
    * and scores roll up to the PARENT document (doc relevance = its best
    * chunk, the standard max-pooling attribution), reporting top-k docs
    * per query with the winning chunk index as provenance.
    *
    * Scale shape: the chunk explosion is map-side (q245); BM25 runs the
    * q148 inverted-index shape over chunks (term-keyed join, broadcast
    * query terms); the rollup adds ONE (query, doc) aggregate over the
    * already-reduced score frame and a bounded-heap top-k — no new
    * corpus-sized shuffle beyond q148's own. */
  def chunkedRetrieval(s: SparkSession, dir: String,
      k: Int = ChunkedK): DataFrame =
    // the per-(query, parent-doc) rolled score frame is pinned once per
    // session (memo); q248's k=5 register and q257's kIn=20 fusion arm
    // each take their own bounded-heap top-k over it
    chunkTopKOf(graft.etl.ChainCache.memo(s, dir, "ret_chunk_scores") {
      chunkDocScores(s, dir)
    }, k)

  /** The (query_id, parent, iscore, best_chunk) frame before the
    * per-query top-k: chunk explosion, chunk-grain BM25, max-pooling
    * rollup to the parent document. */
  private def chunkDocScores(s: SparkSession, dir: String): DataFrame = {
    val chunks = TextQueries.chunkFrame(s, dir)
      .select((col("doc_id") * ChunkKeyMult +
        when(col("chunk_idx") < ChunkKeyMult, col("chunk_idx"))
          .otherwise(raise_error(concat(
            lit(s"chunk_idx >= $ChunkKeyMult aliases the composite key: "),
            col("chunk_idx"))))).as("doc_id"),
        array_join(col("ctoks"), " ").as("text"))
    bm25Scores(s, chunks, queryTerms)
      .select(col("query_id"),
        expr(s"doc_id div $ChunkKeyMult").as("parent"),
        expr(s"cast(doc_id % $ChunkKeyMult as int)").as("cidx"),
        col("iscore"))
      .groupBy(col("query_id"), col("parent"))
      .agg(max(struct(col("iscore"), (-col("cidx")).as("nc"))).as("best"))
      .select(col("query_id"), col("parent"),
        col("best.iscore").as("iscore"),
        (-col("best.nc")).cast("int").as("best_chunk"))
  }

  private def chunkTopKOf(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("iscore")).as("neg"), col("parent").as("doc_id"),
          col("best_chunk")), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rn"),
        ((-col("col.neg")) / 10000.0).as("score"),
        col("col.best_chunk").as("best_chunk"))
      .orderBy(col("query_id"), col("rn"))

  private def chunkedRetrievalOracle(k: Int): String = {
    val toksSql = TextQueries.toksSql
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |t0 AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
       |ch AS (SELECT doc_id * 1000000 + k AS ck,
       |              toks[CAST(k * 48 + 1 AS INT) : CAST(k * 48 + 64 AS INT)]
       |                AS ctoks
       |       FROM t0, unnest(range(0, (n + 47) // 48)) u(k)),
       |qt(query_id, token) AS (VALUES $queryTermsValuesSql),
       |tf AS (SELECT ck, tok AS token, COUNT(*) AS tf
       |       FROM (SELECT ck, unnest(ctoks) AS tok FROM ch) u
       |       GROUP BY ck, tok),
       |dl AS (SELECT ck, SUM(tf) AS dl FROM tf GROUP BY ck),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
       |c AS (SELECT qt.query_id, tf.ck,
       |             CAST(round(
       |               ln((CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
       |                  / (CAST(df.df AS DOUBLE) + 0.5) + 1)
       |               * (CAST(tf.tf AS DOUBLE) * 2.2
       |                  / (CAST(tf.tf AS DOUBLE)
       |                     + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
       |                              / (CAST(st.total_tokens AS DOUBLE)
       |                                 / CAST(st.n_docs AS DOUBLE)))))
       |               * 10000, 0) AS BIGINT) AS c
       |      FROM tf JOIN qt USING (token)
       |           JOIN dl USING (ck) JOIN df USING (token), st),
       |sc AS (SELECT query_id, ck, SUM(c) AS iscore
       |       FROM c GROUP BY query_id, ck),
       |pb AS (SELECT query_id, ck // 1000000 AS doc_id,
       |              CAST(ck % 1000000 AS INT) AS cidx, iscore FROM sc),
       |best AS (SELECT query_id, doc_id, iscore, cidx,
       |               ROW_NUMBER() OVER (PARTITION BY query_id, doc_id
       |                 ORDER BY iscore DESC, cidx) AS brn
       |         FROM pb),
       |r AS (SELECT query_id, doc_id, iscore, cidx AS best_chunk,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |               ORDER BY iscore DESC, doc_id) AS rn
       |      FROM best WHERE brn = 1)
       |SELECT query_id, doc_id, CAST(rn AS INT) AS rn,
       |       iscore / 10000.0 AS score, best_chunk
       |FROM r WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin
  }

  private final val RrfK = 10
  private final val RrfKIn = 20
  /** Reciprocal-rank-fusion hybrid retrieval (q257): the two retrieval
    * strategies the suite already gates — whole-document BM25 (q148)
    * and chunk-grain BM25 with max-pooling rollup (q248) — fused per
    * query with RRF (Cormack et al. 2009: score = Σ 1/(60 + rank)),
    * the standard hybrid-search combiner. Exact integer form:
    * `10⁶ div (60 + rank)` summed over the lists a doc appears in, so
    * both engines rank on identical longs. Docs surfacing in either
    * list fuse via a full-outer join on (query, doc).
    *
    * Scale shape: both arms are the q148 inverted-index shape; fusion
    * adds one (query, doc)-keyed outer join over two k-bounded lists —
    * per-query-constant rows — and a bounded-heap top-k. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val a = bm25TopK(s, dir, RrfKIn)
      .select(col("query_id"), col("doc_id"), col("rn").as("rn_a"))
    val b = chunkedRetrieval(s, dir, RrfKIn)
      .select(col("query_id"), col("doc_id"), col("rn").as("rn_b"))
    a.join(b, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr("1000000 div (60 + rn_a)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rn_b)"), lit(0L)))
          .as("rrf_micro"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("rrf_micro")).as("neg"), col("doc_id").as("doc_id")),
        RrfK).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rn"),
        (-col("col.neg")).as("rrf_micro"))
      .orderBy(col("query_id"), col("rn"))
  }

  private def rrfFusionOracle: String =
    s"""WITH a AS (${bm25OracleSql(RrfKIn)}),
       |b AS (${chunkedRetrievalOracle(RrfKIn)}),
       |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
       |             COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |             COALESCE(1000000 // (60 + a.rn), 0)
       |               + COALESCE(1000000 // (60 + b.rn), 0) AS rrf_micro
       |      FROM a FULL JOIN b
       |        ON a.query_id = b.query_id AND a.doc_id = b.doc_id)
       |SELECT query_id, doc_id, CAST(rn AS INT) AS rn,
       |       CAST(rrf_micro AS BIGINT) AS rrf_micro
       |FROM (SELECT query_id, doc_id, rrf_micro,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |               ORDER BY rrf_micro DESC, doc_id) AS rn
       |      FROM f) t
       |WHERE rn <= $RrfK
       |ORDER BY query_id, rn""".stripMargin

  def qs: Seq[Q] = Seq(
    Q("q257_rrf_fusion", (s, d) => rrfFusion(s, d),
      Some(rrfFusionOracle)),
    Q("q248_chunked_retrieval", (s, d) => chunkedRetrieval(s, d),
      Some(chunkedRetrievalOracle(ChunkedK))),
    Q("q148_bm25_topk", (s, d) => bm25TopK(s, d), Some(bm25OracleSql(Bm25K))),
    Q("q181_heavy_hitters", (s, d) => heavyHitters(s, d),
      Some(heavyHittersOracle)),
    Q("q182_phrase_search", (s, d) => phraseSearch(s, d),
      Some(phraseSearchOracle)))
}
