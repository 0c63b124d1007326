package graft.reports
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the co-purchase graph — the "related
  * products" ranking a catalog pipeline runs offline (the reference's
  * also-purchased surface, `ProductService.cs` cross-sell, generalized
  * from q03's one-hop form to a whole-graph fixpoint).
  *
  * PageRank here is the Pregel-on-DataFrames shape: a persisted edge
  * frame, a rank frame re-derived per superstep by one co-partitioned
  * join + one key aggregate, no driver-side graph state. All arithmetic
  * is integer micro-units with floor division — deterministic at any
  * parallelism and engine-portable (Spark `div` == DuckDB `//` on
  * non-negative longs), so the whole 3-iteration run is value-checkable
  * against the oracle, like the BPE trainer (q141) and k-means (q137).
  */
object Graph {

  /** Undirected distinct co-purchase edges, both directions: (src, dst)
    * with per-src degree attached. Same basket bound as q55 — pairs come
    * from the sorted per-order part set via suffix-slice explode (emits
    * each a<b pair once; bounded by order size, never corpus-quadratic).
    */
  private def adjacency(s: SparkSession, dir: String): DataFrame = {
    // distinct pairs are the key set of the pinned support frame (the
    // aggregate key IS (a, b)) — no second pair generation
    val half = pairSupportM(s, dir).select(col("a"), col("b"))
    half.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(half.select(col("b").as("src"), col("a").as("dst")))
  }

  // ---------------------------------------------------------------------
  // d19 OPTIMIZATION ROUND: the co-purchase pair graph is ONE
  // deterministic frame every query in this family derives from — the
  // per-order sorted-set suffix-slice explode aggregated to
  // (a, b, support). It is session-pinned via ChainCache (the same
  // "build the graph once, run the analyses on it" a production
  // deployment does) and each member derives its view with narrow
  // filters/projections. Bench owner: q152 (first consumer in bench
  // order, reports cold incl. materialization).
  // ---------------------------------------------------------------------

  /** (a, b, support): distinct co-purchase pairs (a < b) with the count
    * of distinct orders containing both. */
  private[reports] def pairSupportM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "gr_pair_support") {
      graft.Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(posexplode(col("parts")).as(Seq("i", "a")), col("parts"))
        .select(col("a"),
          explode(slice(col("parts"), col("i") + 2, size(col("parts")))).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }

  /** The distinct (l_orderkey, l_partkey) frame (q183's L3 probes, q224's
    * basket stats, q295's audit arm). */
  private def opDistinctM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "gr_op_distinct") {
      graft.Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
    }

  /** 1-row (s_mass, s_keys) pair-support stats — the corpus-derived
    * support-floor inputs (q183/q224/q295). Derived from the PINNED
    * support frame, so its build is one cheap cached-scan aggregate. */
  private def pairStatsM(s: SparkSession, dir: String): DataFrame =
    graft.etl.ChainCache.memo(s, dir, "gr_pair_stats") {
      pairSupportM(s, dir)
        .agg(sum(col("support")).as("s_mass"), count(lit(1)).as("s_keys"))
    }

  /** The corpus-derived support floor from the pinned stats frame:
    * max(minSupport, minSupport · s_mass div max(s_keys, 1)) — the exact
    * integer derivation the oracles restate. The 2-scalar driver read is
    * bounded by construction (1 pinned row — the BPE-argmax class);
    * it replaces the per-query `observe` ride (the observation belonged
    * to each query's own build, which the memo now runs only once). */
  private def statsFloorOf(s: SparkSession, dir: String,
      minSupport: Int): Long = {
    val r = pairStatsM(s, dir).head()
    val sMass = if (r.isNullAt(0)) 0L else r.getLong(0)
    val sKeys = if (r.isNullAt(1)) 0L else r.getLong(1)
    math.max(minSupport.toLong, minSupport * sMass / math.max(sKeys, 1L))
  }

  private final val PageRankIters = 3
  private final val PageRankK = 20
  /** PageRank (q152): 3 damped supersteps over the co-purchase graph,
    * top-20 parts by final rank.
    *
    * Integer semantics (both engines): rank₀ = 10⁶ per node; each
    * superstep sends `rank div degree` along every out-edge and sets
    * rank' = 150000 + (85 · Σ contributions) div 100 — the 0.15/0.85
    * damping in exact micro-units. The symmetrized graph has no dangling
    * nodes (every node has degree ≥ 1 and receives ≥ 1 contribution), so
    * no dangling-mass redistribution term is needed.
    *
    * Scale shape: the edge frame (derived from the pinned pair-support
    * frame) is the only corpus-sized state; each superstep broadcasts the
    * node-sized rank frame into the edges (never re-shuffled) and runs the
    * ONE dst-keyed partial-sum aggregate PageRank needs. The top-k is
    * TakeOrderedAndProject (sort+limit), never a corpus-wide window. */
  def copurchasePageRank(s: SparkSession, dir: String): DataFrame = {
    // degree rides the broadcast NODE-sized rank frame (1e7 nodes ≈
    // 240 MB; past that, join edges pre-partitioned by src). Edges
    // re-derive per superstep from the PINNED pair-support frame: two
    // cached-block scans, cheaper than pinning a second copy (d19)
    val edges = adjacency(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .ckpt
    // pin every 4th superstep (d19): a rank frame has ONE consumer, so a
    // 3-step run plans as one job and lineage stays bounded at any count
    val ranks = graft.Iterate(deg.withColumn("rank", lit(1000000L)),
        PageRankIters, graft.Iterate.PinEvery(4)) { ranks =>
      val contrib = edges.join(broadcast(ranks), edges("src") === ranks("node"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("85 * sc div 100")).as("rank"))
      // re-attach the static degree for the next superstep's broadcast
      deg.join(contrib, Seq("node"))
    }
    val top = ranks
      .orderBy(col("rank").desc, col("node"))
      .limit(PageRankK)
    top.withColumn("rn",
        row_number().over(Window.orderBy(col("rank").desc, col("node"))))
      .select(col("node").as("part_id"), col("deg"),
        col("rank").as("rank3"), col("rn"))
      .orderBy(col("rn"))
  }

  /** q152 oracle: the whole integer PageRank run unrolled — edge build,
    * degrees, and all three supersteps — in DuckDB SQL. */
  private def pagerankOracle: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT e.dst AS node,
         |         CAST(150000 + (85 * CAST(SUM(r.rank // d.deg) AS BIGINT))
         |              // 100 AS BIGINT) AS rank
         |  FROM e JOIN $prev r ON e.src = r.node
         |         JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    val steps = (1 to PageRankIters).map(i => step(s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH p AS (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e AS (SELECT a AS src, b AS dst FROM p
       |      UNION ALL SELECT b AS src, a AS dst FROM p),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
       |$steps
       |SELECT part_id, deg, rank3, rn FROM (
       |  SELECT r.node AS part_id, d.deg AS deg, r.rank AS rank3,
       |         CAST(ROW_NUMBER() OVER (ORDER BY r.rank DESC, r.node)
       |              AS INT) AS rn
       |  FROM r$PageRankIters r JOIN deg d ON r.node = d.src) t
       |WHERE rn <= $PageRankK
       |ORDER BY rn""".stripMargin
  }

  /** Orders two parts must share to form an edge of the q175/q188-q197
    * graph or a frequent pair of q183 (q295 audits that floor). */
  private final val MinSupport = 2

  private final val TrianglesK = 10
  /** Triangle counting (q175) over the SUPPORT-FILTERED co-purchase
    * graph: an edge {a,b} exists when parts a and b appear together in at
    * least `MinSupport` distinct orders (the standard noise filter before
    * clustering-coefficient / community analysis of a cross-sell graph —
    * one shared basket is coincidence, repeated co-purchase is signal).
    * Output: the top-k parts by triangle participation (each triangle
    * counted at all three corners) plus the global triangle total.
    *
    * Scale shape: pairs come from the same per-order sorted-set
    * suffix-slice explode as q55/q152 (bounded by basket size, never
    * corpus-quadratic), and support filtering happens IN the same
    * aggregate that dedups pairs — one shuffle builds the graph. The
    * wedge enumeration is DEGREE-ORIENTED (each undirected edge is
    * directed from its (degree, id)-smaller endpoint, ties by id), the
    * classic bound that caps per-node wedge fan-out at O(√m) on any
    * degree distribution — an id-ordered orientation would instead let
    * one popular part generate degree² wedges. The closing-edge probe is
    * an equi-join on (u, v), which is exactly one oriented direction
    * because orientation is a total order. Triangle identity is
    * orientation-invariant, so the id-ordered DuckDB oracle reproduces
    * the result set exactly. */
  def copurchaseTriangles(s: SparkSession, dir: String): DataFrame = {
    // support filter over the pinned pair frame (memo); the ckpt stays
    // because three consumers (deg + both orientation joins) read the
    // FILTERED set
    val pairs = pairSupportM(s, dir)
      .filter(col("support") >= MinSupport)
      .select(col("a"), col("b"))
      .ckpt
    val deg = pairs.select(col("a").as("n"))
      .unionByName(pairs.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // direct each edge from its (degree, id)-smaller endpoint; carry the
    // dst endpoint's (degree, id) so the wedge join can order endpoints
    // by the SAME total order without a global relabeling pass
    val da = deg.select(col("n").as("a"), col("d").as("dda"))
    val db = deg.select(col("n").as("b"), col("d").as("ddb"))
    val oriented = pairs.join(da, "a").join(db, "b")
      .select(
        when(col("dda") < col("ddb") ||
          (col("dda") === col("ddb") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("ddb").as("dd")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"), col("dda").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .ckpt
    val e1 = oriented.select(col("src"), col("dst").as("u"), col("dd").as("du"))
    val e2 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("src").as("x"), col("u"), col("v"))
    val tris = wedges.join(
        oriented.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"))
      .select(col("x"), col("u"), col("v"))
      .ckpt
    val total = tris.agg(count(lit(1)).as("total_tris"))
    val corners = tris.select(explode(array(col("x"), col("u"), col("v"))).as("part_id"))
      .groupBy(col("part_id")).agg(count(lit(1)).as("tris"))
    // top-k first (TakeOrderedAndProject), THEN the rank window over the
    // k-row result — never a corpus-wide single-partition window
    corners
      .orderBy(col("tris").desc, col("part_id"))
      .limit(TrianglesK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("tris").desc, col("part_id"))))
      .crossJoin(broadcast(total))
      .select(col("part_id"), col("tris"), col("total_tris"), col("rn"))
      .orderBy(col("rn"))
  }

  /** q175 oracle: id-ordered triangle enumeration (orientation-invariant
    * — must equal the degree-oriented distributed run exactly). */
  private def trianglesOracle: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS (SELECT a.l_partkey AS a, b.l_partkey AS b
       |      FROM op a JOIN op b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |t AS (SELECT e1.a AS x, e1.b AS u, e2.b AS v
       |      FROM p e1 JOIN p e2 ON e1.a = e2.a AND e1.b < e2.b
       |      JOIN p e3 ON e3.a = e1.b AND e3.b = e2.b),
       |corners AS (SELECT x AS part_id FROM t
       |            UNION ALL SELECT u FROM t
       |            UNION ALL SELECT v FROM t),
       |pc AS (SELECT part_id, CAST(COUNT(*) AS BIGINT) AS tris
       |       FROM corners GROUP BY part_id),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_tris FROM t)
       |SELECT part_id, tris, total_tris, rn FROM (
       |  SELECT part_id, tris,
       |         CAST(ROW_NUMBER() OVER (ORDER BY tris DESC, part_id) AS INT) AS rn
       |  FROM pc) r, tot
       |WHERE rn <= $TrianglesK
       |ORDER BY rn""".stripMargin

  private final val ItemsetsK = 20
  /** Frequent itemsets via Apriori (q183): L2 = co-purchase pairs with
    * support ≥ minSupport; candidate triples C3 = L2-wedges whose closing
    * pair is ALSO in L2 (the Apriori pruning rule: every subset of a
    * frequent set is frequent); L3 = C3 support-counted against the
    * transactions. Output: top-k of each size (size-2 rows carry NULL c).
    *
    * Scale shape — the pruning is the point: raw basket-triple
    * generation is Σ (basket choose 3) rows (8× the pair volume here and
    * cubic in basket size generally); the candidate-first plan instead
    * counts support ONLY for C3 (triangle-closure candidates of the
    * support-filtered pair graph — a few hundred rows that BROADCAST),
    * so the transaction table is probed by three narrowing equi-joins
    * and nothing basket-cubed is ever built. L2 itself reuses the
    * bounded per-order sorted-set explode (q55/q152/q175). Measured in
    * the DuckDB oracle at sf0.1: 0.23 s candidate-pruned vs 8.2 s raw
    * triple enumeration — the same ratio the distributed plan banks on. */
  def frequentItemsets(s: SparkSession, dir: String): DataFrame = {
    // op and the pair-support frame are the pinned shared passes (d19
    // memo; this query owns gr_op_distinct + gr_pair_stats, consumes
    // q152's gr_pair_support). The corpus-derived support floor (see
    // basketLift — mean-pair-support scaled, constant-identical on
    // non-densifying corpora) reads the pinned 1-row stats frame;
    // derivation and oracle unchanged.
    val op = opDistinctM(s, dir)
    val floorV = statsFloorOf(s, dir, MinSupport)
    val l2 = pairSupportM(s, dir)
      .filter(col("support") >= lit(floorV)).ckpt
    val e1 = l2.select(col("a"), col("b").as("u"))
    val e2 = l2.select(col("a"), col("b").as("v"))
    val c3 = e1.join(e2, Seq("a")).filter(col("u") < col("v"))
      .join(l2.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"))
      .select(col("a"), col("u").as("b"), col("v").as("c"))
    val l3 = broadcast(c3)
      .join(op.select(col("l_orderkey"), col("l_partkey").as("a")), Seq("a"))
      .join(op.select(col("l_orderkey"), col("l_partkey").as("b")),
        Seq("l_orderkey", "b"))
      .join(op.select(col("l_orderkey"), col("l_partkey").as("c")),
        Seq("l_orderkey", "c"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= lit(floorV))
    val l2top = l2
      .orderBy(col("support").desc, col("a"), col("b")).limit(ItemsetsK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("support").desc, col("a"), col("b"))))
      .select(lit(2).as("isize"), col("a"), col("b"),
        lit(null).cast("long").as("c"), col("support"), col("rn"))
    val l3top = l3
      .orderBy(col("support").desc, col("a"), col("b"), col("c")).limit(ItemsetsK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("support").desc, col("a"), col("b"), col("c"))))
      .select(lit(3).as("isize"), col("a"), col("b"), col("c"),
        col("support"), col("rn"))
    l2top.unionByName(l3top).orderBy(col("isize"), col("rn"))
  }

  private def itemsetsOracle: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |l20 AS (SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS support
       |        FROM op a JOIN op b
       |          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |        GROUP BY 1, 2),
       |st AS (SELECT SUM(support) AS s_mass, COUNT(*) AS s_keys FROM l20),
       |fl AS (SELECT GREATEST($MinSupport,
       |                       $MinSupport * (SELECT s_mass FROM st)
       |                         // GREATEST((SELECT s_keys FROM st), 1))
       |         AS floor_v),
       |l2 AS (SELECT * FROM l20
       |       WHERE support >= (SELECT floor_v FROM fl)),
       |c3 AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |       FROM l2 e1 JOIN l2 e2 ON e1.a = e2.a AND e1.b < e2.b
       |       JOIN l2 e3 ON e3.a = e1.b AND e3.b = e2.b),
       |t3 AS (SELECT c3.a AS a, c3.b AS b, c3.c AS c, COUNT(*) AS support
       |       FROM c3
       |       JOIN op x ON x.l_partkey = c3.a
       |       JOIN op y ON y.l_orderkey = x.l_orderkey AND y.l_partkey = c3.b
       |       JOIN op z ON z.l_orderkey = x.l_orderkey AND z.l_partkey = c3.c
       |       GROUP BY 1, 2, 3
       |       HAVING COUNT(*) >= (SELECT floor_v FROM fl)),
       |l2top AS (SELECT 2 AS isize, a, b, CAST(NULL AS BIGINT) AS c, support,
       |                 CAST(ROW_NUMBER() OVER (ORDER BY support DESC, a, b)
       |                      AS INT) AS rn
       |          FROM l2),
       |l3top AS (SELECT 3 AS isize, a, b, c, support,
       |                 CAST(ROW_NUMBER() OVER (ORDER BY support DESC, a, b, c)
       |                      AS INT) AS rn
       |          FROM t3)
       |SELECT isize, a, b, c, CAST(support AS BIGINT) AS support, rn
       |FROM (SELECT * FROM l2top WHERE rn <= $ItemsetsK
       |      UNION ALL SELECT * FROM l3top WHERE rn <= $ItemsetsK)
       |ORDER BY isize, rn""".stripMargin

  /** Support-filtered symmetrized co-purchase edges (the q175 graph,
    * shared by LPA / BFS / k-core / link prediction): edge {a,b} iff the
    * parts co-occur in ≥ minSupport distinct orders; emitted in BOTH
    * directions. A narrow filter + mirror-union of the pinned
    * pair-support frame; each caller pins it once per query. */
  private[graft] def supportEdges(s: SparkSession, dir: String,
      minSupport: Int): DataFrame = {
    // support filter + symmetrize over the pinned pair frame (memo)
    val pairs = pairSupportM(s, dir)
      .filter(col("support") >= minSupport)
      .select(col("a"), col("b"))
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  private final val LpaRounds = 3
  private final val LpaK = 20
  /** Community detection via SYNCHRONOUS label propagation (q188):
    * label₀(v) = v; each round every node adopts the most frequent label
    * among its neighbours' previous-round labels, ties broken by the
    * SMALLEST label — the deterministic LPA variant (Raghavan et al.'s
    * async coin-flip LPA is not value-checkable; synchronous min-tie is,
    * and a FIXED round count sidesteps its known 2-cycle oscillation).
    * Output: the top-k communities of the final labelling by size.
    *
    * Scale shape: per round exactly ONE node-keyed aggregate pair — the
    * (dst, label) count and the per-dst argmax, both map-side-partial
    * hash aggregates; the node-sized label frame BROADCASTS into the
    * static edge frame (edges are never re-shuffled, the q152 superstep
    * shape). The argmax is max(struct(cnt, -label)) — an aggregate, not
    * a partitioned window sort. */
  def lpaCommunities(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir, MinSupport).ckpt
    val init = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab")).ckpt
    // pin every 4th round, as q152 (d19): a label frame has ONE consumer
    val labels = graft.Iterate(init, LpaRounds, graft.Iterate.PinEvery(4))(
      lpaStep(edges))
    labels.groupBy(col("lab")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("lab"))
      .limit(LpaK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_members").desc, col("lab"))))
      .select(col("lab").as("community"), col("n_members"), col("rn"))
      .orderBy(col("rn"))
  }

  /** One synchronous LPA round: (node, lab) → (node, lab). */
  private[graft] def lpaStep(edges: DataFrame)(labels: DataFrame): DataFrame =
    edges
      .join(broadcast(labels), edges("src") === labels("node"))
      .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
      .select(col("dst").as("node"), (-col("m.nl")).as("lab"))

  /** q188 oracle: the synchronous rounds unrolled — per-round label
    * counts with a QUALIFY argmax (cnt DESC, lab ASC = the same
    * (cnt, -lab) struct-max order). */
  private def lpaOracle: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT e.dst AS node, r.lab AS lab
         |  FROM e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst, r.lab
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.dst
         |    ORDER BY COUNT(*) DESC, r.lab) = 1)""".stripMargin
    val steps = (1 to LpaRounds).map(i => step(s"l${i - 1}", s"l$i"))
      .mkString(",\n")
    s"""WITH p AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |e AS (SELECT a AS src, b AS dst FROM p
       |      UNION ALL SELECT b AS src, a AS dst FROM p),
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
       |$steps
       |SELECT community, n_members, rn FROM (
       |  SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       |         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lab) AS INT)
       |           AS rn
       |  FROM l$LpaRounds GROUP BY lab) t
       |WHERE rn <= $LpaK
       |ORDER BY rn""".stripMargin
  }

  private final val BfsSeeds = 3
  private final val BfsMaxHops = 3
  /** Multi-source BFS hop distances (q189): distance from the seed set
    * (the `BfsSeeds` smallest part ids in the graph — deterministic at any
    * SF) within `BfsMaxHops` rounds, reported as a hop-count histogram with
    * `-1` = not reached within the horizon.
    *
    * Scale shape: the frontier-free "relax all" formulation — per round
    * dist' = min(dist, min over in-neighbours dist+1) — is one broadcast
    * join of the node-sized distance frame into the static edges plus
    * one dst-keyed min aggregate; rounds = maxHops, so the edge frame is
    * scanned maxHops times and never re-shuffled. (A frontier-delta
    * formulation sends less data per round but adds a set-difference
    * join; at a fixed 3-hop horizon relax-all is strictly fewer
    * shuffles.) */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir, MinSupport).ckpt
    val nodes = edges.select(col("src").as("node")).distinct().ckpt
    val seeds = nodes.orderBy(col("node")).limit(BfsSeeds)
      .select(col("node"), lit(0).as("dist")).ckpt
    // pin every round: the next round reads it twice (broadcast + union)
    val dist = graft.Iterate(seeds, BfsMaxHops, graft.Iterate.PinEvery(1))(
      bfsStep(edges))
    nodes.join(dist, Seq("node"), "left_outer")
      .select(coalesce(col("dist"), lit(-1)).as("hops"))
      .groupBy(col("hops")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hops"))
  }

  /** One relax-all round: (node, dist) → (node, dist). */
  private[graft] def bfsStep(edges: DataFrame)(dist: DataFrame): DataFrame =
    edges
      .join(broadcast(dist), edges("src") === dist("node"))
      .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      .unionByName(dist.select(col("node"), col("dist")))
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /** q189 oracle: relax-all rounds unrolled in CTEs over the same
    * support-filtered graph. */
  private def bfsOracle: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT e.dst AS node, r.dist + 1 AS dist
         |    FROM e JOIN $prev r ON e.src = r.node
         |    UNION ALL SELECT node, dist FROM $prev) u
         |  GROUP BY node)""".stripMargin
    val steps = (1 to BfsMaxHops).map(i => step(s"d${i - 1}", s"d$i"))
      .mkString(",\n")
    s"""WITH p AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |e AS (SELECT a AS src, b AS dst FROM p
       |      UNION ALL SELECT b AS src, a AS dst FROM p),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |d0 AS (SELECT node, 0 AS dist FROM nodes
       |       ORDER BY node LIMIT $BfsSeeds),
       |$steps
       |SELECT hops, n_nodes FROM (
       |  SELECT CAST(COALESCE(d.dist, -1) AS INT) AS hops,
       |         CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM nodes n LEFT JOIN d$BfsMaxHops d ON n.node = d.node
       |  GROUP BY 1) t
       |ORDER BY hops""".stripMargin
  }

  private final val LinkPredictionK = 20
  /** Link prediction via the Resource-Allocation index (q190): for every
    * NON-adjacent pair (u < v) with at least one common neighbour,
    * RA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/deg(z) — Zhou/Lü/Zhang's
    * resource-allocation variant of Adamic-Adar (1/deg instead of
    * 1/ln deg), chosen because the reciprocal quantizes EXACTLY:
    * per-term micro-units `1000000 div deg(z)` make the whole score an
    * integer sum, engine-portable with no float-summation or
    * ln-ulp drift. Output: top-k candidate edges by score.
    *
    * Scale shape: common neighbours enumerate as wedges u—z—v from the
    * SUPPORT-FILTERED graph (the same Σ deg² bound the triangle count
    * rides; support filtering is what keeps hub fan-out bounded), one
    * (u,v)-keyed aggregate sums the scores, and existing edges drop out
    * via a left-anti join onto the oriented edge list. Nothing
    * corpus-quadratic: candidates are wedge-generated, never all-pairs. */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir, MinSupport).ckpt
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("z"), col("deg"))
    // wedges through z, endpoints id-ordered u < v
    val n1 = edges.select(col("src").as("z"), col("dst").as("u"))
    val n2 = edges.select(col("src").as("z"), col("dst").as("v"))
    val scored = n1.join(n2, Seq("z")).filter(col("u") < col("v"))
      .join(broadcast(deg), Seq("z"))
      .select(col("u"), col("v"), expr("1000000 div deg").as("w"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("w")).as("ra_micro"))
    val existing = edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    scored.join(existing, Seq("u", "v"), "left_anti")
      .orderBy(col("ra_micro").desc, col("u"), col("v"))
      .limit(LinkPredictionK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ra_micro").desc, col("u"), col("v"))))
      .select(col("u"), col("v"), col("cn"), col("ra_micro"), col("rn"))
      .orderBy(col("rn"))
  }

  /** q190 oracle: id-ordered wedge enumeration with the same integer
    * micro-unit scoring. */
  private def linkPredictionOracle: String =
    s"""WITH p AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |e AS (SELECT a AS src, b AS dst FROM p
       |      UNION ALL SELECT b AS src, a AS dst FROM p),
       |deg AS (SELECT src AS z, COUNT(*) AS deg FROM e GROUP BY src),
       |w AS (SELECT n1.dst AS u, n2.dst AS v,
       |             CAST(COUNT(*) AS BIGINT) AS cn,
       |             CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_micro
       |      FROM e n1 JOIN e n2 ON n1.src = n2.src AND n1.dst < n2.dst
       |      JOIN deg d ON d.z = n1.src
       |      GROUP BY 1, 2),
       |cand AS (SELECT w.* FROM w
       |         WHERE NOT EXISTS (SELECT 1 FROM p
       |                           WHERE p.a = w.u AND p.b = w.v))
       |SELECT u, v, cn, ra_micro, rn FROM (
       |  SELECT u, v, cn, ra_micro,
       |         CAST(ROW_NUMBER() OVER (ORDER BY ra_micro DESC, u, v) AS INT)
       |           AS rn
       |  FROM cand) t
       |WHERE rn <= $LinkPredictionK
       |ORDER BY rn""".stripMargin

  private final val KCoreK = 3
  private final val KCoreRounds = 4
  /** k-core decomposition by iterative peeling (q197): starting from the
    * support-filtered co-purchase graph, each round removes every node
    * with current degree < k and keeps only edges between survivors; a
    * FIXED round count (like q188's LPA horizon) keeps the run
    * oracle-unrollable — the per-round (n_nodes, n_edges) trace shows
    * convergence directly (equal consecutive rows = fixpoint reached).
    * The k-core is the densely-connected catalog backbone cross-sell
    * clustering runs on after stripping coincidental fringe.
    *
    * Scale shape: per round ONE degree aggregate (node-sized result,
    * BROADCASTS) and two semi-joins that filter the edge frame by
    * surviving endpoints; the stats rows are 1-row aggregates. No
    * driver-side graph state. */
  def kCorePeeling(s: SparkSession, dir: String): DataFrame = {
    // pin every round: read by the next round's degree, semi-joins, stats
    val edges = graft.Iterate.trace(supportEdges(s, dir, MinSupport).ckpt,
      KCoreRounds, graft.Iterate.PinEvery(1))(kCoreStep(KCoreK))
    edges.zipWithIndex.map { case (e, round) =>
      e.agg(countDistinct(col("src")).as("n_nodes"),
          (count(lit(1)) / 2).cast("long").as("n_edges"))
        .select(lit(round).as("round"), col("n_nodes"), col("n_edges"))
    }.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** One peeling round: the edges whose endpoints both have degree ≥ k. */
  private[graft] def kCoreStep(k: Int)(edges: DataFrame): DataFrame = {
    val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("src").as("node"))
    edges
      .join(broadcast(keep.select(col("node").as("src"))), Seq("src"),
        "left_semi")
      .join(broadcast(keep.select(col("node").as("dst"))), Seq("dst"),
        "left_semi")
      .select(col("src"), col("dst"))
  }

  /** q197 oracle: the peeling rounds unrolled. */
  private def kCoreOracle: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT e.src, e.dst FROM $prev e
         |  WHERE e.src IN (SELECT src FROM $prev GROUP BY src
         |                  HAVING COUNT(*) >= $KCoreK)
         |    AND e.dst IN (SELECT src FROM $prev GROUP BY src
         |                  HAVING COUNT(*) >= $KCoreK))""".stripMargin
    val steps = (1 to KCoreRounds).map(i => step(s"e${i - 1}", s"e$i"))
      .mkString(",\n")
    val arms = (0 to KCoreRounds).map(i =>
      s"""SELECT $i AS round,
         |       CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
         |       CAST(COUNT(*) // 2 AS BIGINT) AS n_edges FROM e$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH p AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |e0 AS (SELECT a AS src, b AS dst FROM p
       |       UNION ALL SELECT b AS src, a AS dst FROM p),
       |$steps
       |SELECT round, n_nodes, n_edges FROM ($arms)
       |ORDER BY round""".stripMargin
  }

  private final val HitsIters = 2
  private final val HitsK = 10
  /** HITS hubs/authorities (q201) over the BIPARTITE customer→part
    * purchase graph (Kleinberg's algorithm on the natural two-mode graph:
    * authority parts = products bought by well-connected customers, hub
    * customers = buyers of authoritative products — the catalog-curation
    * twin of q152's one-mode PageRank). Two full iterations, each half-step
    * max-normalized so scores stay bounded.
    *
    * Integer semantics (both engines): h₀(c) = 10⁶; per half-step the raw
    * score is an exact long sum over the opposite side, then rescales as
    * `raw · 10⁶ div max(raw)` — floor division against a 1-row broadcast
    * max, so the whole run is deterministic at any parallelism and
    * engine-portable (no float normalization drift; the conventional
    * L2 norm is irrational and would never value-check).
    *
    * Scale shape: the distinct (customer, part) edge frame is pinned
    * ONCE (the only corpus-sized state). Each half-step
    * is the q152 superstep shape — the node-sized score frame BROADCASTS
    * into the static edges (never re-shuffled) and one key aggregate with
    * map-side partials builds the opposite side's raw scores; the max is
    * a 1-row scalar-aggregate broadcast. Overflow ceiling: raw ≤
    * max-degree · 10⁶ < 2⁶³ for any degree below 9·10¹². Final top-k per
    * side is sort+limit (TakeOrderedAndProject), never a corpus window. */
  def purchaseHits(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .ckpt
    // per half-step: the RAW sums checkpoint (one edge-join
    // materialization), the max is a cheap node-sized job over the
    // checkpointed frame, and the rescaled output stays LAZY — it is
    // consumed exactly once, by the next half-step's broadcast (or the
    // final top-k). Checkpointing after the rescale instead re-runs the
    // edge join per half-step (A/B in PLANS.md: ~2× superstep cost).
    def halfStep(scores: DataFrame, joinKey: String, outKey: String): DataFrame = {
      val raw = edges.join(broadcast(scores), Seq(joinKey))
        .groupBy(col(outKey)).agg(sum(col("score")).as("raw"))
        .ckpt
      val mx = raw.agg(max(col("raw")).as("mx"))
      raw.crossJoin(broadcast(mx))
        // q219 overflow class: raw ≤ degree·10⁶, so raw·10⁶ exceeds
        // LONG at ~10⁷-degree hubs — widen the product (oracle: HUGEINT)
        .select(col(outKey),
          expr("cast(cast(raw as decimal(38,0)) * 1000000 div mx as bigint)")
            .as("score"))
    }
    // not on graft.Iterate: the pins sit inside the half-step, and the
    // result needs the last authority half-step as well as the last hubs
    var hubs = edges.select(col("c")).distinct()
      .select(col("c"), lit(1000000L).as("score"))
    var auths: DataFrame = null
    for (_ <- 1 to HitsIters) {
      auths = halfStep(hubs, "c", "p")
      hubs = halfStep(auths, "p", "c")
    }
    def top(df: DataFrame, key: String, side: String): DataFrame = df
      .orderBy(col("score").desc, col(key)).limit(HitsK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col(key))))
      .select(lit(side).as("side"), col(key).as("node_id"),
        col("score"), col("rn"))
    top(auths, "p", "authority").unionByName(top(hubs, "c", "hub"))
      .orderBy(col("side"), col("rn"))
  }

  /** q201 oracle: the max-normalized integer half-steps unrolled. */
  private def hitsOracle: String = {
    def auth(prevH: String, out: String): String =
      s"""${out}r AS (SELECT e.p, SUM(h.score) AS raw
         |  FROM e JOIN $prevH h ON e.c = h.c GROUP BY e.p),
         |$out AS (SELECT p, CAST(raw AS HUGEINT) * 1000000 // (SELECT MAX(raw) FROM ${out}r)
         |           AS score FROM ${out}r)""".stripMargin
    def hub(prevA: String, out: String): String =
      s"""${out}r AS (SELECT e.c, SUM(a.score) AS raw
         |  FROM e JOIN $prevA a ON e.p = a.p GROUP BY e.c),
         |$out AS (SELECT c, CAST(raw AS HUGEINT) * 1000000 // (SELECT MAX(raw) FROM ${out}r)
         |           AS score FROM ${out}r)""".stripMargin
    val steps = (1 to HitsIters).map(i =>
      auth(s"h${i - 1}", s"a$i") + ",\n" + hub(s"a$i", s"h$i")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS score FROM e),
       |$steps
       |SELECT side, node_id, score, rn FROM (
       |  SELECT 'authority' AS side, p AS node_id, CAST(score AS BIGINT) AS score,
       |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, p) AS INT) AS rn
       |  FROM a$HitsIters
       |  UNION ALL
       |  SELECT 'hub', c, CAST(score AS BIGINT),
       |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, c) AS INT)
       |  FROM h$HitsIters) t
       |WHERE rn <= $HitsK
       |ORDER BY side, rn""".stripMargin
  }

  private final val LiftMinSupport = 3
  private final val LiftK = 15
  /** Basket-affinity lift (q224): for co-purchased part pairs with
    * support ≥ minSupport, lift = P(a,b)/(P(a)·P(b)) ranked by the EXACT
    * integer key `support·N·10⁶ div (fa·fb)` — the association-rule
    * ordering q55's raw counts and q183's support alone cannot express
    * (high-support pairs of two ubiquitous parts are not interesting;
    * high-lift pairs are). Cross-multiplied integer ranking keeps the
    * ratio exact (overflow ceiling ~10⁴-support × 10⁹ baskets — audit
    * precision, documented).
    *
    * Scale shape: pair support from the bounded per-order sorted-set
    * explode (the q55/q183 machinery — never corpus-quadratic);
    * per-part basket frequencies are one aggregate of the distinct
    * (order, part) frame and BROADCAST onto the support-filtered pair
    * table; N is a 1-row broadcast; top-k is TakeOrderedAndProject. */
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    // op and the pair-support frame are the pinned shared passes (d19
    // memo: gr_op_distinct owned by q183, gr_pair_support by q152)
    val op = opDistinctM(s, dir)
    val n = op.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    // support floor derived from the corpus (d17 pair-mass envelope):
    // when co-purchases DENSIFY (fixed catalog, growing baskets — every
    // pair's support grows with the corpus), an absolute floor admits
    // ever more noise pairs into the lift joins. The floor scales with
    // the OBSERVED mean pair support, max(minSupport, minSupport ·
    // Σsupport/|pairs|) — the corpus itself reports its regime: on
    // catalog-scaling data mean support stays ~1 and the floor IS the
    // constant (gate SFs and the sf1 fixture are bitwise unchanged),
    // while on densifying data the floor rises proportionally, keeping
    // the surviving pair density stable. A baskets-count-based floor was
    // A/B'd and REJECTED: it empties the result set on catalog-scaling
    // corpora (sf1 audit: floor 14 over flat support ≈ 1 kept 0 of
    // 11.96M pairs). The q144 scaled-k discipline. The floor now reads
    // the pinned 1-row stats frame (statsFloorOf); derivation and
    // oracle unchanged.
    val pairs = pairSupportM(s, dir)
      .filter(col("support") >= lit(statsFloorOf(s, dir, LiftMinSupport)))
      .crossJoin(broadcast(n))
    val freq = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
    pairs
      .join(broadcast(freq.select(col("l_partkey").as("a"), col("f").as("fa"))),
        Seq("a"))
      .join(broadcast(freq.select(col("l_partkey").as("b"), col("f").as("fb"))),
        Seq("b"))
      .select(col("a"), col("b"), col("support"), col("fa"), col("fb"),
        // the q219 overflow class: support·n·10⁶ reaches 0.85·2⁶³ at the
        // 1000× (100 TB) regime on this data — widen the product to
        // decimal(38,0) (oracle: HUGEINT) before the floor division
        expr("cast(cast(support as decimal(38,0)) * n_baskets * 1000000" +
          " div (fa * fb) as bigint)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("a"), col("b"))
      .limit(LiftK)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("lift_micro").desc, col("a"), col("b"))))
      .orderBy(col("rn"))
  }

  /** q295: the pair/posting-mass envelope audit (d17 verdict item 4).
    * The q55/q224/q183 family shares one scale behavior — candidate-pair
    * mass superlinear in corpus density — and q159's gram postings are
    * the text-side analog. One row per family member at the given SF:
    * n_units (baskets / docs), n_keys (distinct pairs / grams), mass
    * (generated pair slots Σ sz·(sz−1)/2 / posting mass Σ df), the
    * corpus-derived support floor where one applies, and kept (keys
    * surviving the floor / the df = 1 novelty set). Reading the audit
    * at two SFs gives the family's empirical mass exponent and the
    * floor's hit rate — the envelope PLANS.md tracks. The audit derives
    * masses from the SAME op/shingle frames the queries use, so it
    * audits the actual plans, not a model of them. */
  def pairMassAudit(s: SparkSession, dir: String): DataFrame = {
    // the audit reads the SAME pinned frames the audited queries consume
    // (d19 memo) — "derives masses from the SAME op/shingle frames the
    // queries use" now holds literally: one materialization serves both
    // the family and its audit
    val op = opDistinctM(s, dir)
    val bstats = op.groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_units"),
        sum(expr("sz * (sz - 1) div 2")).as("mass"))
    val sup = pairSupportM(s, dir)
    // mean-pair-support floors (Σ support over distinct pairs == Σ
    // sz·(sz−1)/2 pair slots — every slot increments exactly one pair's
    // support — so mass/n_keys IS the mean support). The limit(1)
    // restores the 1-row maxRows bound the memo's checkpoint erases, so
    // the broadcast cross join below stays PlanAudit-provably bounded
    val supStats = pairStatsM(s, dir).limit(1)
    val cap224 = greatest(lit(LiftMinSupport.toLong),
      expr(s"$LiftMinSupport * s_mass div greatest(s_keys, 1)"))
    val cap183 = greatest(lit(MinSupport.toLong),
      expr(s"$MinSupport * s_mass div greatest(s_keys, 1)"))
    val stats = sup.crossJoin(broadcast(supStats))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("support") >= cap224, 1L).otherwise(0L)).as("kept224"),
        sum(when(col("support") >= cap183, 1L).otherwise(0L)).as("kept183"),
        max(cap224).as("cap224"), max(cap183).as("cap183"))
      .crossJoin(broadcast(bstats))
    def row(q: String, cap: Option[String], kept: org.apache.spark.sql.Column) =
      stats.select(lit(q).as("query"), col("n_units"), col("n_keys"),
        col("mass"),
        cap.map(col).getOrElse(lit(null).cast("long")).as("cap"),
        kept.as("kept"))
    row("q224_basket_lift", Some("cap224"), col("kept224"))
      .unionByName(row("q183_frequent_itemsets", Some("cap183"), col("kept183")))
      .unionByName(row("q55_copurchase_topk", None, col("n_keys")))
      // the q159 AND q171/q194 audit rows read the one pinned gram frame
      .unionByName(graft.text.TextQueries.ngramPostingStats(s, dir))
      .unionByName(graft.text.TextQueries.postingMassStats(s, dir))
      .orderBy(col("query"))
  }

  private val pairMassAuditOracle: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |b AS (SELECT l_orderkey, COUNT(*) AS sz FROM op GROUP BY 1),
       |bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
       |              CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS mass
       |       FROM b),
       |sup AS (SELECT a.l_partkey AS a, b2.l_partkey AS b, COUNT(*) AS support
       |        FROM op a JOIN op b2
       |          ON a.l_orderkey = b2.l_orderkey
       |         AND a.l_partkey < b2.l_partkey
       |        GROUP BY 1, 2),
       |st AS (SELECT SUM(support) AS s_mass, COUNT(*) AS s_keys FROM sup),
       |caps AS (SELECT GREATEST($LiftMinSupport, $LiftMinSupport * s_mass // GREATEST(s_keys, 1))
       |                  AS cap224,
       |                GREATEST($MinSupport, $MinSupport * s_mass // GREATEST(s_keys, 1))
       |                  AS cap183
       |         FROM st),
       |ss AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |              CAST(SUM(CASE WHEN support >=
       |                     (SELECT cap224 FROM caps)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept224,
       |              CAST(SUM(CASE WHEN support >=
       |                     (SELECT cap183 FROM caps)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept183
       |       FROM sup)
       |SELECT * FROM (
       |  SELECT 'q224_basket_lift' AS query, bs.n_units, ss.n_keys, bs.mass,
       |         CAST(caps.cap224 AS BIGINT) AS cap,
       |         ss.kept224 AS kept
       |  FROM bs, ss, caps
       |  UNION ALL
       |  SELECT 'q183_frequent_itemsets', bs.n_units, ss.n_keys, bs.mass,
       |         CAST(caps.cap183 AS BIGINT),
       |         ss.kept183
       |  FROM bs, ss, caps
       |  UNION ALL
       |  SELECT 'q55_copurchase_topk', bs.n_units, ss.n_keys, bs.mass,
       |         CAST(NULL AS BIGINT), ss.n_keys
       |  FROM bs, ss
       |  UNION ALL
       |  SELECT * FROM (${graft.text.TextQueries.ngramPostingStatsSql}) t159
       |  UNION ALL
       |  SELECT * FROM (${graft.text.TextQueries.postingMassStatsSql}) tpm)
       |ORDER BY query""".stripMargin

  private def basketLiftOracle: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p0 AS (SELECT a.l_partkey AS a, b.l_partkey AS b,
       |              CAST(COUNT(*) AS BIGINT) AS support
       |       FROM op a JOIN op b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2),
       |st AS (SELECT SUM(support) AS s_mass, COUNT(*) AS s_keys FROM p0),
       |p AS (SELECT * FROM p0
       |      WHERE support >= GREATEST($LiftMinSupport,
       |        $LiftMinSupport * (SELECT s_mass FROM st)
       |          // GREATEST((SELECT s_keys FROM st), 1))),
       |f AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS f
       |      FROM op GROUP BY 1),
       |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
       |       FROM op)
       |SELECT a, b, support, fa, fb, lift_micro, rn FROM (
       |  SELECT p.a, p.b, p.support, fa.f AS fa, fb.f AS fb,
       |         CAST(CAST(p.support AS HUGEINT) * nb.n_baskets * 1000000
       |              // (fa.f * fb.f)
       |              AS BIGINT) AS lift_micro,
       |         CAST(ROW_NUMBER() OVER (ORDER BY
       |                CAST(p.support AS HUGEINT) * nb.n_baskets * 1000000
       |                // (fa.f * fb.f)
       |                DESC, p.a, p.b) AS INT) AS rn
       |  FROM p JOIN f fa ON p.a = fa.l_partkey
       |         JOIN f fb ON p.b = fb.l_partkey, nb) t
       |WHERE rn <= $LiftK
       |ORDER BY rn""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q224_basket_lift", (s, d) => basketLift(s, d),
      Some(basketLiftOracle)),
    Q("q201_hits_scores", (s, d) => purchaseHits(s, d),
      Some(hitsOracle)),
    Q("q197_kcore_peeling", (s, d) => kCorePeeling(s, d),
      Some(kCoreOracle)),
    Q("q152_copurchase_pagerank", (s, d) => copurchasePageRank(s, d),
      Some(pagerankOracle)),
    Q("q175_triangle_count", (s, d) => copurchaseTriangles(s, d),
      Some(trianglesOracle)),
    Q("q183_frequent_itemsets", (s, d) => frequentItemsets(s, d),
      Some(itemsetsOracle)),
    Q("q188_lpa_communities", (s, d) => lpaCommunities(s, d),
      Some(lpaOracle)),
    Q("q189_bfs_hops", (s, d) => bfsHops(s, d),
      Some(bfsOracle)),
    Q("q190_link_prediction", (s, d) => linkPrediction(s, d),
      Some(linkPredictionOracle)),
    Q("q295_pair_mass_audit", (s, d) => pairMassAudit(s, d),
      Some(pairMassAuditOracle)))
}
