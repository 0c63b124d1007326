package graft.text
import graft.Ckpt.Ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH banding, SimHash, and n-gram Jaccard
  * verification. Designed scale-first:
  *
  *  - exact dedup is one hash-aggregate shuffle on the content hash;
  *  - MinHash signatures are pure per-row expressions (no shuffle); the
  *    LSH band self-join shuffles on (band, signature) — candidate pairs
  *    only, never the full O(n²) cross product;
  *  - the token-level Jaccard verifier is reserved for candidate pairs /
  *    small subsets (its token self-join explodes on frequent tokens —
  *    that blow-up is exactly what LSH avoids at 100 TB).
  *
  * All hashes are deterministic (xxhash64 + fixed affine constants), so
  * results are reproducible across runs and cluster sizes.
  */
object Dedup {

  /** Exact dedup groups: content hash → keeper id (min) + group size.
    * The reference's per-segment dedup keeps the first id
    * (`DataExporter.cs:630-655`); we keep the minimum id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(TextFunctions.normalize(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_cnt"))

  /** Keep only the keeper row per exact-duplicate group. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** MinHash signature column: array of k minima over the shingle-hash
    * set, computed by the custom primitive-loop Catalyst expression
    * (graft.functions.MinHashShingleSig) — the higher-order-function
    * composition is CodegenFallback in Spark and ~100× slower. */
  def minhashSignature(textCol: Column, k: Int = 16, shingleN: Int = 3): Column =
    graft.functions.MinHashExpr.minhashOfTokens(
      TextFunctions.tokens(textCol), k, shingleN)

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k),
    * bucket-join on (band index, band hash), emit distinct id pairs with
    * the estimated Jaccard (signature agreement fraction).
    *
    * Shuffles: one explode+hash per row (narrow), one self-join keyed on
    * the band bucket, one distinct. No cross product. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, minEstJaccard: Double = 0.0,
      maxBucketSize: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    // empty/whitespace-only documents all share one degenerate signature
    // (zero shingles hash identically) — at crawl scale that is millions
    // of docs in ONE bucket, i.e. a quadratic candidate clique; route
    // them out (exact dedup handles identical empties)
    val sigs = df
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), k).as("sig"))
    // NOTE: this operator materializes the banded-signature frame when
    // called (localCheckpoint below) — the signature pass runs once, not
    // once per downstream consumer
    val banded0 = sigs.select(col("id"), col("sig"),
        explode(array((0 until bands).map(lit): _*)).as("band"))
      .withColumn("bucket", xxhash64(col("band"),
        concat_ws(",", slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)))))
    // standard LSH guard: a bucket of M near-identical docs would emit
    // M²/2 pairs from the self-join; skip over-full buckets (the docs
    // inside them are candidates via their OTHER bands, and boilerplate
    // cliques belong to exact dedup, not pairwise scoring).
    // Broadcast ANTI-JOIN against the over-full bucket ids, not a
    // count-over-window: the window form shuffles AND sorts the whole
    // banded frame an extra time, while the aggregate's map-side partials
    // shuffle one row per (band, bucket) and the over-full set — rare by
    // construction — broadcasts back onto the unshuffled frame.
    // the banded frame is consumed three times (guard count + both join
    // sides); materialize it ONCE — it is (docs × bands) rows of
    // (id, sig, bucket), the frame a cluster deployment would persist to
    // storage between the signature and join stages anyway. Without this
    // every consumer recomputes tokenize+minhash over the corpus.
    val bandedM = banded0.ckpt
    val overFull = bandedM.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .select(col("band"), col("bucket"))
    val banded = bandedM.join(broadcast(overFull), Seq("band", "bucket"), "left_anti")
    val a = banded.select(col("id").as("id1"), col("sig").as("sig1"),
      col("band"), col("bucket"))
    val b = banded.select(col("id").as("id2"), col("sig").as("sig2"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(graft.functions.SigExpr.agreement(col("sig1"), col("sig2")), 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard) // prune before the dedup shuffle
      .distinct()
  }

  /** 32-bit SimHash over the token multiset: per bit, sum +1/-1 weighted by
    * token-hash bit; bit set where the sum is positive. One primitive pass
    * per row via the custom Catalyst expression (the `bits` ×
    * `aggregate(...)` HOF composition it replaces re-hashed every token
    * once per bit, interpreted — ~100× slower; values are identical). */
  def simhash(textCol: Column, bits: Int = 32): Column =
    graft.functions.SimHashExpr.simhashOfTokens(TextFunctions.tokens(textCol), bits)

  /** Connected components over an undirected edge list: each node labeled
    * with the MINIMUM node id reachable from it — the near-dup CLUSTER
    * step that follows LSH + verification in a dedup pipeline (the
    * component label IS the keeper id).
    *
    * Iterative min-label propagation with pointer jumping (each round:
    * take the min over neighbor labels, then follow label→label twice),
    * so convergence is O(log component-diameter) rounds, each round one
    * join + aggregate — the standard scalable formulation (alternating
    * star-contraction refines this further at extreme scale). Runs until
    * fixpoint with a cheap emptiness probe per round; throws
    * `IllegalStateException` if `maxIter` rounds do not reach it. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .ckpt
    // pin every round (the convergent form): untruncated, the joins
    // double the plan per round; the pinned round carries `changed`, so
    // the probe is a narrow scan of cached partitions, not a join job
    graft.Iterate.until(nodes.select(col("id"), col("id").as("label")).ckpt,
        maxIter)(ccStep(sym))(_.filter(col("changed")).isEmpty)
      .select(col("id"), col("label").as("component"))
  }

  /** One min-label round over the symmetrized edges `sym`: (id, label)
    * → (id, label, changed). */
  private def ccStep(sym: DataFrame)(state: DataFrame): DataFrame = {
    val labels = state.select(col("id"), col("label"))
    // part 1: min over own + neighbor labels (unpinned: part 2's two
    // identical subtrees land on one ReusedExchange)
    val nbrMin = sym.join(labels, sym("dst") === labels("id"))
      .groupBy(sym("src").as("nid")).agg(min(col("label")).as("nbr"))
    val stepped = labels.join(nbrMin, labels("id") === col("nid"), "left")
      .select(labels("id"), col("label").as("old"),
        least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
    // part 2: DOUBLE pointer jump (label := label's label, twice; d19):
    // one more node-sized self-join per round compresses label chains 4×
    // instead of 2×, halving the rounds of edge-sized joins, pins and
    // probes. The fixpoint (min-reachable labels) is unique, so results
    // are unchanged.
    val asMap = stepped.select(col("id").as("mid"), col("label").as("mlabel"))
    val j1 = stepped.join(asMap, stepped("label") === col("mid"), "left")
      .select(stepped("id"), col("old"),
        coalesce(col("mlabel"), stepped("label")).as("label"))
    val asMap2 = stepped.select(col("id").as("mid2"), col("label").as("mlabel2"))
    j1.join(asMap2, j1("label") === col("mid2"), "left")
      .select(j1("id"),
        coalesce(col("mlabel2"), j1("label")).as("label"),
        (coalesce(col("mlabel2"), j1("label")) =!= col("old")).as("changed"))
  }

  /** Token-level Jaccard similarity for all pairs within a (small) frame —
    * the exact verifier. Join keyed on shared tokens; quadratic in docs
    * sharing a token, so feed it candidates or sampled subsets only. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("tok"))
    val sizes = t.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = t.select(col("id").as("id1"), col("tok"))
      .join(t.select(col("id").as("id2"), col("tok")), Seq("tok"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jaccard", round(col("i").cast(DoubleType) /
        (col("n1") + col("n2") - col("i")).cast(DoubleType), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))
  }
}
