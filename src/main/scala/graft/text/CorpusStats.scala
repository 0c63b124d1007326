package graft.text
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level distribution statistics — the monitoring passes a
  * training-data pipeline runs per ingest batch: distribution drift per
  * source (chi-square homogeneity) and vocabulary-growth curves
  * (Heaps-law probe). Complements the per-document quality gear
  * (q32/q158) and the per-source datasheet (q169) with CROSS-source
  * statistics.
  */
object CorpusStats {

  private final val Chi2MinFreq = 5
  /** Chi-square token-distribution drift per source (q196): for each
    * source s, χ² = Σ_{t ∈ V} (o_st − e_st)² / e_st against the pooled
    * corpus distribution (e_st = n_s · c_t / N), over the bounded
    * vocabulary V = tokens with global count ≥ minFreq. The standard
    * homogeneity statistic a drift monitor tracks per batch — a source
    * whose token mix diverges from the pool scores high.
    *
    * Determinism: o, c_t, n_s, N are exact longs; each observed term
    * (o−e)²/e quantizes to micro-units (floor(x·1e6 + 0.5), identical
    * doubles → identical longs) BEFORE the sum, so no float-summation-
    * order drift. Unobserved (o=0) vocabulary terms contribute Σ e =
    * n_s·C_V/N − Σ_observed e analytically — they never materialize as
    * rows (the join stays |observed pairs|-sized, not |sources|·|V|).
    *
    * Scale shape: one (source, token)-keyed aggregate over the corpus
    * (map-side partials), the vocabulary frame aggregates once and
    * BROADCASTS, per-source totals are |sources| rows. Nothing
    * corpus-quadratic; the final statistic is sources-sized. */
  def chi2SourceDrift(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("o"))
      .ckpt // consumers: vocab counts + per-source join
    val vocab = st.groupBy(col("tok")).agg(sum(col("o")).as("ct"))
      .filter(col("ct") >= Chi2MinFreq)
    val bySrc = st.groupBy(col("source")).agg(sum(col("o")).as("ns"))
    val totals = vocab.agg(sum(col("ct")).as("cv"))
      .crossJoin(st.agg(sum(col("o")).as("nn")))
    // observed-term micro-units; e = ns*ct/N exactly once per pair
    val obs = st.join(broadcast(vocab), Seq("tok"))
      .join(broadcast(bySrc), Seq("source"))
      .crossJoin(broadcast(totals))
      .select(col("source"), col("ns"), col("cv"), col("nn"),
        floor(
          (col("o") - col("ns") * col("ct") / col("nn")) *
            (col("o") - col("ns") * col("ct") / col("nn")) /
            (col("ns") * col("ct") / col("nn")) * 1e6 + 0.5d)
          .cast("long").as("term_micro"),
        floor((col("ns") * col("ct") / col("nn")) * 1e6 + 0.5d)
          .cast("long").as("e_micro"))
    obs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_observed"),
        (sum(col("term_micro")) +
          floor(max(col("ns")) * max(col("cv")) / max(col("nn")) * 1e6 + 0.5d)
            .cast("long") -
          sum(col("e_micro"))).as("chi2_micro"))
      .orderBy(col("source"))
  }

  private def chi2Oracle: String =
    s"""WITH st AS (
       |  SELECT source, tok, COUNT(*) AS o
       |  FROM (SELECT source, unnest(${TextQueries.toksSql}) AS tok
       |        FROM documents) u
       |  GROUP BY 1, 2),
       |vocab AS (SELECT tok, SUM(o) AS ct FROM st GROUP BY tok
       |          HAVING SUM(o) >= $Chi2MinFreq),
       |bysrc AS (SELECT source, SUM(o) AS ns FROM st GROUP BY source),
       |tot AS (SELECT (SELECT SUM(ct) FROM vocab) AS cv,
       |               (SELECT SUM(o) FROM st) AS nn),
       |obs AS (
       |  SELECT st.source, b.ns, t.cv, t.nn,
       |         CAST(floor((st.o - b.ns * v.ct / t.nn)
       |                * (st.o - b.ns * v.ct / t.nn)
       |                / (b.ns * v.ct / t.nn) * 1e6 + 0.5) AS BIGINT)
       |           AS term_micro,
       |         CAST(floor((b.ns * v.ct / t.nn) * 1e6 + 0.5) AS BIGINT)
       |           AS e_micro
       |  FROM st JOIN vocab v USING (tok)
       |          JOIN bysrc b USING (source), tot t)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_observed,
       |       CAST(SUM(term_micro)
       |            + CAST(floor(MAX(ns) * MAX(cv) / MAX(nn) * 1e6 + 0.5)
       |                   AS BIGINT)
       |            - SUM(e_micro) AS BIGINT) AS chi2_micro
       |FROM obs GROUP BY source
       |ORDER BY source""".stripMargin

  /** Vocabulary-growth curve (q198) — the Heaps-law probe: distinct
    * token count and total token mass over NESTED deterministic corpus
    * samples (md5-bucket thresholds at 10/25/50/100% — the q126 split
    * discipline, so tier_10 ⊂ tier_25 ⊂ tier_50 ⊂ all). Sub-linear
    * vocabulary growth across tiers is the expected curve; a corpus
    * whose vocab grows linearly is template spam (each new doc mints
    * new tokens).
    *
    * Scale shape: docs get their tier map-side from the md5 bucket;
    * ONE (token)-keyed aggregate computes each token's FIRST tier and
    * per-tier masses; the cumulative walk then runs over the 4-row
    * tier frame. No count_distinct Expand, no corpus-wide window. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int")
    // smallest tier containing the doc (nested samples by md5 bucket)
    val tier = when(bucket < 6554, 10).when(bucket < 16384, 25)
      .when(bucket < 32768, 50).otherwise(100)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), tier.as("tier"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
    val perTok = toks.groupBy(col("tok"))
      .agg(min(col("tier")).as("first_tier"))
    val newVocab = perTok.groupBy(col("first_tier").as("tier"))
      .agg(count(lit(1)).as("new_types"))
    val mass = toks.groupBy(col("tier")).agg(count(lit(1)).as("toks"))
    // doc counts from the un-exploded frame (empty docs still count;
    // also keeps count_distinct's Expand out of the token aggregate)
    val docCounts = Tables.documents(s, dir).select(tier.as("tier"))
      .groupBy(col("tier")).agg(count(lit(1)).as("docs"))
    import org.apache.spark.sql.expressions.Window
    docCounts.join(mass, Seq("tier"), "left_outer")
      .join(newVocab, Seq("tier"), "left_outer")
      .na.fill(0L, Seq("toks", "new_types"))
      // 4-row frame: the cumulative window is tier-count-sized
      .withColumn("n_docs", sum(col("docs")).over(Window.orderBy(col("tier"))))
      .withColumn("n_tokens", sum(col("toks")).over(Window.orderBy(col("tier"))))
      .withColumn("n_types", sum(col("new_types")).over(Window.orderBy(col("tier"))))
      .select(col("tier").as("sample_pct"), col("n_docs"), col("n_tokens"),
        col("n_types"))
      .orderBy(col("sample_pct"))
  }

  private def vocabGrowthOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT < 6554 THEN 10
       |              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT < 16384 THEN 25
       |              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT < 32768 THEN 50
       |              ELSE 100 END AS tier,
       |         ${TextQueries.toksSql} AS ts
       |  FROM documents),
       |toks AS (SELECT doc_id, tier, unnest(ts) AS tok FROM d),
       |pertok AS (SELECT tok, MIN(tier) AS first_tier, COUNT(*) AS n
       |           FROM toks GROUP BY tok),
       |newv AS (SELECT first_tier AS tier, COUNT(*) AS new_types
       |         FROM pertok GROUP BY 1),
       |mass AS (SELECT tier, COUNT(*) AS toks FROM toks GROUP BY tier),
       |dc AS (SELECT tier, COUNT(*) AS docs FROM d GROUP BY tier)
       |SELECT tier AS sample_pct,
       |       CAST(SUM(docs) OVER (ORDER BY tier) AS BIGINT) AS n_docs,
       |       CAST(SUM(COALESCE(toks, 0)) OVER (ORDER BY tier) AS BIGINT)
       |         AS n_tokens,
       |       CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY tier)
       |            AS BIGINT) AS n_types
       |FROM dc LEFT JOIN mass USING (tier) LEFT JOIN newv USING (tier)
       |ORDER BY sample_pct""".stripMargin

  /** Corpus source-diversity audit (q231): per-source token shares and
    * the Herfindahl–Hirschman concentration index — Σ share² — in basis
    * points, plus the implied effective source count `10⁴·10⁴ div hhi`
    * (= 1/HHI). The one-number answer to "is this corpus really
    * multi-source, or one crawl wearing twenty names?".
    *
    * Determinism: shares floor-quantize to basis points BEFORE squaring
    * (both engines floor identically on non-negative longs), so the
    * index is exact — the Σ tok²/T² rational form would overflow at
    * ~10¹² corpus tokens.
    *
    * Scale shape: one corpus aggregate to per-source token counts
    * (|sources| rows), 1-row total broadcast, arithmetic on the tiny
    * frame. */
  def sourceDiversity(s: SparkSession, dir: String): DataFrame = {
    val bySrc = graft.Tables.documents(s, dir)
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("toks"))
    val tot = bySrc.agg(sum(col("toks")).as("t"), count(lit(1)).as("n_sources"))
    val shares = bySrc.crossJoin(broadcast(tot))
      .select(col("n_sources"), col("t"),
        expr("toks * 10000 div t").as("share_bp"))
    shares
      .groupBy(col("n_sources"), col("t"))
      .agg(max(col("share_bp")).as("max_share_bp"),
        expr("sum(share_bp * share_bp) div 10000").as("hhi_bp"))
      .select(col("n_sources"), col("t").as("total_tokens"),
        col("max_share_bp"), col("hhi_bp"),
        expr("100000000 div nullif(hhi_bp, 0)").as("effective_sources_c"))
  }

  private val sourceDiversityOracle: String =
    s"""WITH b AS (
       |  SELECT source, CAST(SUM(len(${TextQueries.toksSql})) AS BIGINT) AS toks
       |  FROM documents GROUP BY source),
       |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS t,
       |             CAST(COUNT(*) AS BIGINT) AS n_sources FROM b),
       |sh AS (SELECT t.n_sources, t.t,
       |              CAST(toks * 10000 // t.t AS BIGINT) AS share_bp
       |       FROM b, t)
       |SELECT n_sources, t AS total_tokens,
       |       CAST(MAX(share_bp) AS BIGINT) AS max_share_bp,
       |       CAST(SUM(share_bp * share_bp) // 10000 AS BIGINT) AS hhi_bp,
       |       CAST(100000000 // nullif(SUM(share_bp * share_bp) // 10000, 0)
       |            AS BIGINT) AS effective_sources_c
       |FROM sh
       |GROUP BY n_sources, t""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q231_source_diversity", (s, d) => sourceDiversity(s, d),
      Some(sourceDiversityOracle)),
    Q("q196_chi2_drift", (s, d) => chi2SourceDrift(s, d),
      Some(chi2Oracle)),
    Q("q198_vocab_growth", (s, d) => vocabGrowth(s, d),
      Some(vocabGrowthOracle)))
}
