package graft.text
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skip-gram training-pair generation (q192) — the word2vec-style
  * (center, context) extraction pass of an embedding-training pipeline
  * (Mikolov et al.: frequency subsampling, then pairs within a window
  * over the COMPACTED surviving sequence).
  *
  * Subsampling is the deterministic md5-threshold variant of the
  * word2vec rule: an occurrence of token w survives iff
  * bucket(md5(doc_id:pos)) < floor(min(1, √(t·total/freq(w))) · 65536)
  * — the q71/q113 sampling discipline, so the oracle reproduces every
  * kept occurrence bit-for-bit (√ is IEEE-correctly-rounded in both
  * engines; its operands are quotients of identical longs).
  *
  * Scale shape: tokenization is a map-side posexplode; the frequency
  * table is one token-keyed aggregate that BROADCASTS back (vocabulary-
  * sized); survivor re-indexing is a per-document window (bounded by
  * document length, the q186 discipline); pair generation is an
  * EQUI-join on (doc_id, index) after a 2·window-per-token offset
  * explode — never a per-document cross join, so long documents cost
  * O(len·window), not O(len²). Pair counting is the standard hash
  * aggregate with map-side partials; top-k is TakeOrderedAndProject. */
object SkipGram {

  private final val SkipGramWindow = 2
  private final val SkipGramT = 1e-3
  private final val SkipGramK = 50
  /** q192: top-k skip-gram pairs (window ±2, subsample t = 1e-3). */
  def skipgramPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .ckpt // consumers: freq table + survivor filter
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val tot = toks.agg(count(lit(1)).as("total"))
    val rates = freq.crossJoin(broadcast(tot))
      .withColumn("thr", floor(
        least(lit(1.0),
          sqrt(lit(SkipGramT) * col("total") / col("freq"))) * 65536).cast("int"))
      .select(col("tok"), col("thr"))
    val bucket = conv(substring(md5(
      concat_ws(":", col("doc_id"), col("pos"))), 1, 4), 16, 10).cast("int")
    val kept = toks.join(broadcast(rates), Seq("tok"))
      .filter(bucket < col("thr"))
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))))
      .select(col("doc_id"), col("idx"), col("tok"))
      .ckpt // consumers: center side + context side
    val offsets = (-SkipGramWindow to SkipGramWindow).filter(_ != 0)
    val centers = kept
      .select(col("doc_id"), col("tok").as("center"), col("idx"),
        explode(array(offsets.map(lit(_)): _*)).as("off"))
      .select(col("doc_id"), col("center"), (col("idx") + col("off")).as("idx"))
    centers.join(
        kept.select(col("doc_id"), col("idx"), col("tok").as("context")),
        Seq("doc_id", "idx"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy(col("pairs").desc, col("center"), col("context"))
      .limit(SkipGramK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pairs").desc, col("center"), col("context"))))
      .orderBy(col("rn"))
  }

  private def skipgramOracle: String = {
    val offs = (-SkipGramWindow to SkipGramWindow).filter(_ != 0).mkString(", ")
    s"""WITH d AS (SELECT doc_id, ${TextQueries.toksSql} AS ts
       |           FROM documents),
       |toks AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM d, LATERAL unnest(generate_series(1, len(ts))) AS u(i)),
       |freq AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
       |tot AS (SELECT COUNT(*) AS total FROM toks),
       |rates AS (
       |  SELECT tok, CAST(floor(LEAST(1.0,
       |           sqrt($SkipGramT * total / freq)) * 65536) AS INT) AS thr
       |  FROM freq, tot),
       |kept AS (
       |  SELECT doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS idx,
       |         t.tok
       |  FROM toks t JOIN rates r ON t.tok = r.tok
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |           CAST(pos AS VARCHAR)), 1, 4))::INT < r.thr),
       |pairs AS (
       |  SELECT c.tok AS center, x.tok AS context, COUNT(*) AS pairs
       |  FROM kept c
       |  CROSS JOIN (SELECT unnest([$offs]) AS off) o
       |  JOIN kept x ON x.doc_id = c.doc_id AND x.idx = c.idx + o.off
       |  GROUP BY 1, 2)
       |SELECT center, context, CAST(pairs AS BIGINT) AS pairs, rn FROM (
       |  SELECT center, context, pairs,
       |         CAST(ROW_NUMBER() OVER (ORDER BY pairs DESC, center, context)
       |              AS INT) AS rn
       |  FROM pairs) p
       |WHERE rn <= $SkipGramK
       |ORDER BY rn""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("q192_skipgram_pairs", (s, d) => skipgramPairs(s, d),
      Some(skipgramOracle)))
}
