package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the ChainCache registration discipline (ADVICE r18): the memo
  * call sites and the declared pass→owner map cannot drift apart. */
class ChainCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("memo rejects unregistered pass names") {
    val ex = intercept[IllegalArgumentException] {
      etl.ChainCache.memo(spark, dir, "not_a_registered_pass")(
        spark.range(1).toDF())
    }
    assert(ex.getMessage.contains("unregistered"))
  }

  test("every declared owner and consumer is a registered query") {
    val known = Registry.queries.keySet ++ Registry.benchExtras.map(_.name)
    val missingOwners = etl.ChainCache.ownerQueryNames.diff(known)
    assert(missingOwners.isEmpty, s"owners not in registry: $missingOwners")
    val missingConsumers = etl.ChainCache.consumerQueryNames.diff(known)
    assert(missingConsumers.isEmpty,
      s"consumers not in registry: $missingConsumers")
  }

  test("Registry.memoizedNames derives from the cache's own registration") {
    assert(Registry.memoizedNames == etl.ChainCache.passOwner.values.toSet)
  }

  test("driving each owner query populates its declared pass names") {
    // run every owner once; afterwards the session cache must hold every
    // registered pass name (proving the call sites actually key into the
    // names the map declares — a renamed call site fails here)
    etl.ChainCache.passOwner.values.toSet[String].foreach { qn =>
      Registry.queries(qn)(spark, dir).count()
    }
    val cached = etl.ChainCache.cachedPassNames(spark)
    val expected = etl.ChainCache.passOwner.keySet
    val missing = expected.diff(cached)
    assert(missing.isEmpty, s"declared passes never cached: $missing")
    val unregistered = cached.diff(expected)
    assert(unregistered.isEmpty, s"cached but undeclared: $unregistered")
  }

  test("memo builds once per (session, dir, name) and returns the pinned frame") {
    // a registered name against a throwaway dir keys a fresh entry
    // without disturbing the other tests' session state
    val tmp = java.nio.file.Files.createTempDirectory("chaincache-spec")
      .toFile.getAbsolutePath
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF() }
    val name = "sim_kmeans_hotcell_k2_i1"
    val a = etl.ChainCache.memo(spark, tmp, name, tag = "k=2,iters=1")(build())
    val b = etl.ChainCache.memo(spark, tmp, name, tag = "k=2,iters=1")(build())
    assert(builds == 1, "second memo call must serve the pinned frame")
    assert(a eq b, "both calls must return the SAME pinned frame")
    // one name + two hyperparameter tags must fail loudly, never serve
    // the other param set's frame (the wrong-k-centroids hazard)
    val ex = intercept[IllegalArgumentException] {
      etl.ChainCache.memo(spark, tmp, name, tag = "k=4,iters=1")(build())
    }
    assert(ex.getMessage.contains("hyperparameter"))
    assert(builds == 1)
  }

  test("memo passes hold no heap blocks; per-query pins stay in memory") {
    import graft.Ckpt.Ops
    val s2 = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("chaincache-disk")
      .toFile.getAbsolutePath
    val pass = etl.ChainCache.memo(s2, tmp, "sim_kmeans_hotcell_k2_i1",
      tag = "k=2,iters=1")(s2.range(1000).toDF())
    val pin = s2.range(1000).toDF().ckpt
    def storage(df: org.apache.spark.sql.DataFrame) = {
      val id = df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(id.isDefined, df.queryExecution.logical.toString)
      s2.sparkContext.getRDDStorageInfo.find(_.id == id.get)
    }
    val reliable =
      s2.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean
    if (reliable) {
      // a reliable checkpoint lives in the checkpoint dir, never in blocks
      assert(storage(pass).forall(_.memSize == 0), storage(pass))
    } else {
      val p = storage(pass)
      assert(p.exists(i => i.memSize == 0 && i.diskSize > 0),
        s"memo pass must sit on disk only: $p")
      val q = storage(pin)
      assert(q.exists(i => i.storageLevel.useMemory && i.memSize > 0),
        s"a per-query pin must keep its memory storage level: $q")
    }
    assert(pass.count() == 1000 && pin.count() == 1000)
  }

  test("every pass's owner sorts before all its consumers (bench cold-ownership)") {
    // Bench reports owners' COLD first-in-session times, which is only
    // true if the owner runs before any consumer of its pass — and Bench
    // runs queries sorted by full name. Derive actual consumption by
    // driving every owner and consumer in its OWN fresh session and
    // inspecting which passes it pinned: any pass a query pins but does
    // not own must belong to an owner that sorts strictly before it.
    val runs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] =
      (Registry.all ++ Registry.benchExtras).map(q => q.name -> q.run).toMap
    (etl.ChainCache.ownerQueryNames ++ etl.ChainCache.consumerQueryNames)
      .foreach { qn =>
        val s2 = spark.newSession()
        runs(qn)(s2, dir).count()
        etl.ChainCache.cachedPassNames(s2).foreach { pass =>
          val owner = etl.ChainCache.passOwner(pass)
          assert(owner <= qn,
            s"$qn pins pass '$pass' but its owner $owner sorts AFTER it — " +
              "the owner's reported cold time would exclude materialization")
        }
      }
  }

  test("memoized trainings are reused within a session (training runs once)") {
    val s2 = spark.newSession()
    val a = similarity.SimilarityQueries.kmeansCentroids(s2, dir)
    assert(a.count() > 0)
    val pinned = etl.ChainCache.cachedPassNames(s2)
    assert(pinned.contains("sim_kmeans_corpus_k8_i2"))
    // q138 consumes q137's corpus training: it must run against the
    // ALREADY-PINNED pass (no new pass names appear — a rebuild under a
    // different name would show up here; exact values are the oracle
    // gate's job)
    val b = similarity.SimilarityQueries.annIvfTrained(s2, dir)
    assert(b.count() > 0)
    assert(etl.ChainCache.cachedPassNames(s2) == pinned,
      "q138 must consume q137's pinned training, not pin new passes")
  }
}
