package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark job structure of the iterative families, the upsert
  * loader and the memoized dedup/curation chains: how many jobs each
  * query fires while it is built (`q.run` — eager pins, collects,
  * probes) and while its result executes. Job counts are deterministic
  * for a fixed SF and config, so a change to a loop's pinning or
  * localization policy shows here as a count, not as a timing.
  *
  * Each query runs on a fresh `newSession()`, so the ChainCache and
  * `Tables` caches start empty and memo owners build in-query. Jobs are
  * attributed by a thread-local property (broadcast and subquery threads
  * inherit it), and the listener bus is drained before counts are read. */
class JobStructureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** query -> (construction jobs, execution jobs) at sf0.001, local[4]. */
  private val expected: Seq[(String, (Int, Int))] = Seq(
    "q152_copurchase_pagerank" -> (6, 7),
    "q188_lpa_communities" -> (7, 11),
    "q189_bfs_hops" -> (17, 7),
    "q197_kcore_peeling" -> (21, 11),
    "q201_hits_scores" -> (24, 5),
    "q137_kmeans_train" -> (12, 2),
    "q144_semantic_dedup" -> (31, 8),
    "q131_lsh_dedup_pipeline" -> (33, 3),
    "q26_upsert_customers" -> (11, 7),
    "q157_dsir_weights" -> (11, 1),
    "q159_ngram_novelty" -> (3, 6),
    "q167_curation_decision" -> (29, 10),
    "q174_winnow_candidates" -> (3, 8),
    "q262_image_neardup" -> (9, 6),
    "q263_image_dedup_decision" -> (51, 6),
    "q275_dedup_canonical" -> (40, 8),
    "q277_cross_source_dups" -> (8, 5),
    "q295_pair_mass_audit" -> (13, 22))

  private val Tag = "graft.jobstructure.phase"

  private def jobCounts(name: String): (Int, Int) = {
    val q = Registry.all.find(_.name == name)
      .getOrElse(fail(s"no registered query $name"))
    val s = spark.newSession()
    val sc = s.sparkContext
    val counts = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(ph => counts.computeIfAbsent(ph, _ => new AtomicInteger).incrementAndGet())
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "construct")
      val df = q.run(s, TestSpark.sfDir)
      sc.setLocalProperty(Tag, "exec")
      df.queryExecution.toRdd.count()
    } finally {
      sc.setLocalProperty(Tag, null)
      GraftBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    def n(ph: String) = Option(counts.get(ph)).map(_.get).getOrElse(0)
    (n("construct"), n("exec"))
  }

  expected.foreach { case (name, want) =>
    test(s"$name: construction/execution job counts") {
      assume(!spark.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean,
        "a reliable checkpoint adds one write job per pin; the counts are " +
          "recorded for localCheckpoint")
      val got = jobCounts(name)
      assert(got == want, s"$name (construct, exec) jobs: got $got, want $want")
    }
  }
}
