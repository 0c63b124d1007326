package graft

import graft.similarity.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search tests: exact cosine math, brute-force ranking, and
  * LSH bucket behavior (identical vectors share buckets; top hit found). */
class AnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("zero-norm vectors rank last (null cosine), never first as NaN would") {
    val withZero = vecs.union(Seq((9L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val top = Ann.bruteForceTopK(withZero, withZero.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3)
      .collect().map(_.getLong(1))
    assert(!top.contains(9L)) // an unguarded NaN would outrank everything
    val pairs = Ann.nearDupPairs(withZero, "vec_id", "embedding", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 9L || p._2 == 9L))
  }

  test("cosine: orthogonal 0, identical 1, opposite -1") {
    val got = vecs.filter(col("vec_id") =!= 0)
      .crossJoin(vecs.filter(col("vec_id") === 0)
        .select(col("embedding").as("q")))
      .select(col("vec_id"), round(Ann.cosine(col("embedding"), col("q")), 4).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(4L) == 1.0)
    assert(got(2L) == 0.0)
    assert(got(3L) == -1.0)
    assert(got(1L) > 0.99 && got(1L) < 1.0)
  }

  test("bruteForceTopK ranks by rounded cosine with id tiebreak, excludes self") {
    val top = Ann.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.toSeq == Seq((4L, 1), (1L, 2), (2L, 3)))
  }

  test("LSH: identical vectors share a signature; top hit survives bucketing") {
    val sigs = vecs.select(col("vec_id"), Ann.lshSignature(col("embedding")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(4L))
    val top = Ann.lshTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3)
      .collect().map(_.getLong(1))
    assert(top.contains(4L))
  }

  test("IVF: full probe equals brute force; pruned probe scores only probed cells") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val q = e.filter(col("vec_id") < 2)
    // nprobe == nlist → every cell probed → identical to the exact scan
    val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val full = Ann.ivfTopK(e, q, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == exact)
    // pruned probe: k rows per query with consecutive ranks, and scores
    // never exceed the exact top-1 (candidates are a subset of the corpus)
    val exactBest = Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pruned = Ann.ivfTopK(e, q, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    for (qid <- Seq(0L, 1L)) {
      val rows = pruned.filter(_._1 == qid).sortBy(_._4)
      assert(rows.map(_._4).toSeq == (1 to 5), s"query $qid ranks")
      assert(rows.forall(_._3 <= exactBest(qid)), s"query $qid scores")
    }
  }

  test("stored IVF index: cell-partitioned layout, probe prunes partitions, same results") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val q = e.filter(col("vec_id") < 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ann.buildIvfIndex(e, "vec_id", "embedding", nlist = 8, path = path)
    // physical layout IS the inverted-list structure
    val cellDirs = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("__cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8, cellDirs.mkString(","))
    val indexed = Ann.ivfTopKIndexed(spark, path, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 2)
    // probe scans only the probed cells: the broadcast cell join drives
    // dynamic partition pruning into the index scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters"), plan)
    val direct = Ann.ivfTopK(e, q, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 2)
    assert(indexed.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("primitive dot expression equals the zip_with fold and the near-dup verifier works") {
    import org.apache.spark.sql.types.DoubleType
    val hofDot = aggregate(
      zip_with(col("embedding"), col("e2"), (x, y) =>
        x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)
    val both = vecs.crossJoin(vecs.select(col("embedding").as("e2")))
      .select(Ann.dot(col("embedding"), col("e2")).as("fast"), hofDot.as("ref"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    val pairs = Ann.nearDupPairs(vecs, "vec_id", "embedding", minCos = 0.995)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (0,1)/(1,4) score 0.9937 — below 0.995; only the identical pair stays
    assert(pairs == Set((0L, 4L)))
  }

  test("QuantDequantI8 primitive loop == the HOF round trip, element for element") {
    import graft.functions.VectorExpr
    import graft.similarity.SimilarityQueries
    // real embeddings (float, 64-dim) — the actual q125 input, not a toy
    val e = Tables.embeddings(spark, TestSpark.sfDir).limit(200)
    val both = e.select(
        VectorExpr.quantDequantI8(col("embedding")).as("fast"),
        SimilarityQueries.quantDequantHof(col("embedding")).as("ref"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val fast = r.getSeq[Double](0)
      val ref = r.getSeq[Double](1)
      assert(fast.length == ref.length)
      fast.zip(ref).foreach { case (a, b) =>
        assert(java.lang.Double.compare(a, b) == 0, s"$a != $b") }
    }
    // zero vector (scale 0): the expression yields DEFINED NaN elements;
    // the HOF form dies on ANSI divide-by-zero — one more reason the
    // primitive loop is the production path
    val zv = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val z = zv.select(VectorExpr.quantDequantI8(col("embedding")).as("fast")).head()
    assert(z.getSeq[Double](0).forall(_.isNaN))
    intercept[ArithmeticException] {
      zv.select(SimilarityQueries.quantDequantHof(col("embedding")).as("ref")).head()
    }
    // null elements propagate (ADVICE r8): [3.0, null, -1.5] keeps its
    // null and scales off the non-null max, matching the HOF form where
    // transform null-propagates and greatest skips nulls
    val nv = Seq(Tuple1(Array[java.lang.Double](3.0, null, -1.5)))
      .toDF("embedding")
    val nRes = nv.select(VectorExpr.quantDequantI8(col("embedding")).as("fast"))
      .head().getSeq[java.lang.Double](0)
    val nRef = nv.select(SimilarityQueries.quantDequantHof(col("embedding")).as("ref"))
      .head().getSeq[java.lang.Double](0)
    assert(nRes(1) == null && nRef(1) == null)
    assert(nRes.zip(nRef).forall { case (a, b) =>
      (a == null && b == null) || java.lang.Double.compare(a, b) == 0 })
  }

  test("kmeansTrain recovers planted directional clusters") {
    // three tight direction cones; ids arranged so the three smallest-id
    // seeds land one in each cone (0→+x, 1→+y, 2→+z)
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, j) => x + 0.01f * ((i + j) % 3) }
    val xs = Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val data = (0 until 30).map(i => (i.toLong, jitter(xs(i % 3), i)))
      .toDF("vec_id", "embedding")
    val cents = graft.similarity.Ann.kmeansTrain(
      data, "vec_id", "embedding", k = 3, iters = 3).collect()
    assert(cents.length == 3)
    // each centroid points at its cone's axis: the dominant component is
    // ~10, the off-axis components stay near the jitter scale
    cents.foreach { r =>
      val c = r.getSeq[Double](1)
      val mx = c.max
      assert(mx > 9.0 && c.count(_ > 1.0) == 1, c.mkString(","))
    }
    // the three dominant axes are distinct (one centroid per cone)
    val axes = cents.map(_.getSeq[Double](1).zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1, 2))
    // k larger than the data: no empty-cluster rows are invented
    val tiny = (0 until 2).map(i => (i.toLong, xs(i))).toDF("vec_id", "embedding")
    assert(graft.similarity.Ann.kmeansTrain(
      tiny, "vec_id", "embedding", k = 5, iters = 2).count() <= 2)
  }

  test("kmeansTrainPruned recovers planted clusters and equals the exact " +
      "trainer where the groups separate") {
    // four cones in two well-separated pairs (a1/a2 near +x, b1/b2 near
    // +z); ids put the g = ⌈√4⌉ = 2 group seeds in different pairs
    // (0→a1, 1→b1) and the other two seeds (2→a2, 3→b2) in the pair of
    // their nearest group seed, so the coarse group pick never loses a
    // vector's true-nearest centroid and pruned equals exact
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, j) => x + 0.01f * ((i + j) % 3) }
    val xs = Seq(Array(10f, 1f, 0f), Array(0f, 1f, 10f),
      Array(10f, -1f, 0f), Array(0f, -1f, 10f))
    val data = (0 until 40).map(i => (i.toLong, jitter(xs(i % 4), i)))
      .toDF("vec_id", "embedding")
    def train(pruned: Boolean) = {
      val f = if (pruned) Ann.kmeansTrainPruned _ else Ann.kmeansTrain _
      f(data, "vec_id", "embedding", 4, 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    }
    val pruned = train(pruned = true)
    assert(pruned.keySet == Set(0L, 1L, 2L, 3L))
    // each centroid sits on its cone: within jitter of the planted base
    pruned.foreach { case (id, c) =>
      val base = xs(id.toInt).map(_.toDouble)
      assert(c.zip(base).forall { case (a, b) => math.abs(a - b) < 0.05 },
        s"centroid $id = ${c.mkString(",")}")
    }
    assert(pruned == train(pruned = false))
  }

  test("semanticDupVerdicts: within-cell drop rule, lowest id kept, " +
      "cross-cell twins untouched") {
    // three direction cones (one cell each): 20/21 duplicate 10 inside
    // the +x cone, 31 duplicates 11 inside the +y cone, 12 sits alone
    val data = Seq(
      (10L, Array(10f, 0f, 0f)), (20L, Array(10f, 0.01f, 0f)),
      (21L, Array(10f, 0f, 0.01f)),
      (11L, Array(0f, 10f, 0f)), (31L, Array(0f, 10f, 0.01f)),
      (12L, Array(0f, 0f, 10f))
    ).toDF("vec_id", "embedding")
    val cents = graft.similarity.Ann.kmeansTrain(
      data, "vec_id", "embedding", k = 3, iters = 2)
    val v = graft.similarity.Ann.semanticDupVerdicts(
        data, "vec_id", "embedding", cents, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(v.size == 6)                      // one verdict row per vector
    assert(v(10L) == 0 && v(20L) == 1 && v(21L) == 1) // +x cone: keep lowest id
    assert(v(11L) == 0 && v(31L) == 1)                // +y cone: keep lowest id
    assert(v(12L) == 0)                               // singleton cell
    // a LOOSE threshold still cannot pair across cells: orthogonal
    // exemplars stay kept even at minCos = -1 because the pair join is
    // cell-keyed (the quadratic term is cell-bounded by construction)
    val loose = graft.similarity.Ann.semanticDupVerdicts(
        data, "vec_id", "embedding", cents, minCos = -1.0)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(loose(10L) == 0 && loose(11L) == 0 && loose(12L) == 0)
  }

  test("pqTopK: ADC ranks the planted near-twin first and scores through " +
      "codes only") {
    // two clean directions per subspace → 4 planted groups; 100/101 are
    // near-twins of query 0 in BOTH subspaces, 102 matches in neither
    def v(a: Float, b: Float, c: Float, d: Float) =
      Array(a, b, c, d)
    val data = Seq(
      (0L, v(10f, 0f, 10f, 0f)), (1L, v(0f, 10f, 0f, 10f)),
      (2L, v(10f, 0f, 0f, 10f)), (3L, v(0f, 10f, 10f, 0f)),
      (100L, v(9f, 0.5f, 9f, 0.5f)), (101L, v(8f, 0.2f, 8f, 0.4f)),
      (102L, v(0.1f, 9f, 0.2f, 9f))
    ).toDF("vec_id", "embedding")
    val out = Ann.pqTopK(data, data.filter(col("vec_id") === 0L),
        "vec_id", "embedding", dim = 4, m = 2, k = 4, iters = 2, topk = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // twins (and the seed vector sharing both codes) outrank the
    // opposite-direction vector, which must not make top-3
    val top = out.map(_._1).toSet
    assert(out.nonEmpty && !top.contains(102L))
    assert(top.intersect(Set(100L, 101L)).nonEmpty)
  }

  test("ivfPqTopK with nprobe = nlist degenerates to exactly pqTopK") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val q = e.filter(col("vec_id") < 3)
    val full = Ann.pqTopK(e, q, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, topk = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val probed = Ann.ivfPqTopK(e, q, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, nlist = 8, nprobe = 8, topk = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(probed.toSeq == full.toSeq) // pruning off ⇒ identical ranking
  }

  test("hardNegatives oracle is generated from the shared defaults and " +
      "non-default parameters actually bind") {
    // ADVICE r9: the registered oracle must be the interpolated form so a
    // non-default call can regenerate a matching oracle instead of
    // silently diverging from a hardcoded one.
    val registered = Registry.all.find(_.name == "q150_hard_negatives").get
    assert(registered.oracle.contains(
      graft.similarity.SimilarityQueries.hardNegativesOracle()))
    val rows = graft.similarity.SimilarityQueries
      .hardNegatives(spark, TestSpark.sfDir,
        minCos = 0.05, k = 3, anchorBound = 4)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) < 4))          // anchorBound
    assert(rows.forall(_.getInt(4) <= 3))          // k
    assert(rows.forall(_.getDouble(3) >= 0.05))    // minCos
  }

  test("q216 embedding drift == driver centroid recomputation; " +
      "same-distribution halves stay near cos 1") {
    val vecs = Tables.embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def q(x: Double): Long = math.floor(x * 1000000 + 0.5).toLong
    val exp = vecs.groupBy(_._2).toSeq.sortBy(_._1).map { case (label, rs) =>
      val (ha, hb) = rs.partition(v =>
        "02468ace".contains(md5hex(v._1.toString).last))
      def centroid(g: Array[(Long, Int, Array[Double])]): Array[Long] = {
        val dims = g.head._3.length
        Array.tabulate(dims) { d =>
          val sum = g.map(v => q(v._3(d))).sum
          java.lang.Long.signum(sum).toLong * (math.abs(sum) / g.length)
        }
      }
      val (ca, cb) = (centroid(ha.toArray), centroid(hb.toArray))
      val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      val na = ca.map(x => x * x).sum; val nb = cb.map(x => x * x).sum
      val cos = BigDecimal(dot.toDouble / (math.sqrt(na.toDouble) *
        math.sqrt(nb.toDouble)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (label, ha.size.toLong, hb.size.toLong, cos)
    }
    val got = graft.similarity.SimilarityQueries
      .embeddingDrift(spark, TestSpark.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == exp)
    // label centroids in this generator sit near the origin, so the
    // half-cosine is a noise reading — bound it, don't assume no-drift
    got.foreach { case (label, _, _, cos) =>
      assert(cos >= -1.0001 && cos <= 1.0001, s"label $label cos out of range")
    }
  }

  test("q234 class separation == driver scatter recomputation") {
    val vecs = Tables.embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).map(v =>
        math.floor(v.toDouble * 1000000 + 0.5).toLong).toArray))
    val cent = vecs.groupBy(_._1).view.mapValues { g =>
      val dims = g.head._2.length
      Array.tabulate(dims) { d =>
        val s = g.map(_._2(d)).sum
        java.lang.Long.signum(s).toLong * (math.abs(s) / g.length)
      }
    }.toMap
    val intra = vecs.groupBy(_._1).view.mapValues { g =>
      val m = cent(g.head._1)
      val d2s = g.map(v =>
        v._2.zip(m).map { case (x, c) => (x - c) * (x - c) }.sum / 64)
      (g.size.toLong, d2s.sum / g.size)
    }.toMap
    val labels = cent.keys.toSeq.sorted
    val exp = labels.map { l =>
      val inter = labels.filter(_ != l).map { o =>
        cent(l).zip(cent(o)).map { case (a, b) => (a - b) * (a - b) }.sum / 64
      }.min
      val (n, ia) = intra(l)
      (l, n, ia, inter, inter * 10000 / ia)
    }
    val got = graft.similarity.SimilarityQueries
      .classSeparation(spark, TestSpark.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == exp)
  }
}
