package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests (see PLANS.md): assert the executed
  * plans keep the shapes the 100 TB design depends on — broadcasts for
  * dimension joins, pushdown + pruning at the scans, partial top-k, and
  * semi/anti join forms. A passing test run means a refactor has not
  * silently degraded a plan. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  test("q01: dim side broadcasts, status filter pushed, columns pruned") {
    val p = plan("q01_bestsellers")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderstatus,F)"))
    assert(!p.contains("l_shipdate"), "scan reads columns the query never uses")
  }

  test("q12: semi join form") {
    assert(plan("q12_active_customers").contains("LeftSemi"))
  }

  test("q04: anti join form") {
    assert(plan("q04_never_sold").contains("LeftAnti"))
  }

  test("q40: partial top-k below the shuffle (WindowGroupLimit)") {
    val p = plan("q40_ann_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("Partial"))
  }

  test("q02: top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("q02_top_customers").contains("TakeOrderedAndProject"))
  }

  test("q45: filters reach the scan as data filters") {
    val p = plan("q45_search_page")
    assert(p.contains("isnotnull(p_size"))
    assert(p.contains("Contains(lower(p_name"))
  }

  test("q86: benchmark shingles broadcast; corpus side joins without a pre-shuffle") {
    val p = plan("q86_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q88: the only unpartitioned window runs over shard totals, not the corpus") {
    val p = plan("q88_token_pack")
    // per-doc cumsum windows are shard-partitioned...
    assert(p.contains("Window") && p.contains("partitionBy") ||
      "Window \\[.*\\bshard\\b".r.findFirstIn(p).isDefined, p)
    // ...and the shard-offset window's input is the post-aggregate frame
    // (one row per shard): its Window node sits above the HashAggregate
    val windowOverCorpus = p.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("doc_id ASC") && !l.contains("shard"))
    assert(!windowOverCorpus, s"global-order window over the corpus:\n$p")
  }

  test("q85: IVF centroids + probe cells broadcast; candidate join is not a cross product") {
    val p = plan("q85_ivf_topk")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q54: lineitem never shuffles before aggregation (all-broadcast star)") {
    val p = plan("q54_local_supplier_revenue")
    // the only hash-partitioning exchanges allowed are the final n_name
    // aggregate and the output range sort
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 aggregate shuffle, plan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
  }

  test("q147: benchmark side broadcasts, rollup partial-aggregates below the shuffle") {
    val p = plan("q147_semantic_decontamination")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_max") || p.contains("Partial"), p)
    // the one hashpartitioning exchange is the |corpus|-row pre-reduced rollup
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q151: no Expand from distinct-doc counting; segment frame scans once") {
    val p = plan("q151_boilerplate")
    assert(!p.contains("Expand"), "count_distinct Expand crept in:\n" + p)
    // the checkpointed segment frame appears as scans of an existing RDD
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"), p)
  }

  test("q153/q156: ADC LUTs and probe lists broadcast; no cartesian product") {
    Seq("q153_pq_search", "q156_ivfpq_search").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q157: the bucket weight table broadcasts back onto token rows") {
    // the registered query serves the session-pinned frame (d19 memo),
    // whose plan is a checkpoint scan — assert the BUILD plan, which is
    // what production executes once per corpus
    val p = text.TextQueries.dsirWeightsImpl(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q161: the anomaly window rides ONE user-keyed exchange") {
    val p = plan("q161_value_anomaly")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q165: context filter broadcasts; ranking window is post-filter") {
    val p = plan("q165_bigram_lm")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-context pick
  }

  test("q166: epoch explode is a broadcast nested-loop, ranks partition by " +
      "(epoch, shard)") {
    val p = plan("q166_epoch_shuffle")
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning\\(epoch".r.findFirstIn(p).isDefined, p)
  }

  test("q176: cohort sizes broadcast; the corpus shuffles on user keys only") {
    val p = plan("q176_retention_cohorts")
    assert(p.contains("BroadcastHashJoin"), p)
    // no exchange keyed on the (cohort, offset) cell grid's join key —
    // the only hash exchanges carry user_id or aggregate keys
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q178: the weighted draw is TakeOrderedAndProject, never a global sort") {
    val p = plan("q178_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!"Exchange rangepartitioning".r.findFirstIn(
      p.linesIterator.takeWhile(!_.contains("TakeOrdered")).mkString).isDefined, p)
  }

  test("q180: the rate table broadcasts; selection is a map-side filter") {
    val p = plan("q180_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q174: pair join keys on fingerprint hash, never a cross product") {
    // the sketch frame is checkpointed (fingerprinting already ran map-side
    // in the checkpoint job — WinnowSpec covers the expression); here guard
    // the pairing: hash-keyed joins only
    val p = plan("q174_winnow_candidates")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin \\[h#".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\(h#".r.findFirstIn(p).isDefined, p)
  }

  test("q175: the support filter prunes inside the pair aggregate; " +
      "top-k is sort+limit not a corpus window") {
    val p = plan("q175_triangle_count")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q187: every same-table constraint folds into one aggregate pass; " +
      "the referential check is an anti join") {
    val p = plan("q187_constraint_audit")
    assert(p.contains("LeftAnti"), p)
    // 4 tables (customer, orders x2 — audit + referential child, lineitem)
    // feed 4 aggregate pairs; no per-constraint rescans: scan count stays
    // at the table count, not the constraint count (9)
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 5, s"expected <=5 scans, got $scans\n$p")
  }

  // one round's step on its own: production pins between rounds, which
  // hides the round joins from the FINAL plan
  private lazy val supportEdges =
    reports.Graph.supportEdges(spark, TestSpark.sfDir, minSupport = 2)

  test("q188/q189: per-round label/distance frames broadcast into the " +
      "static edges; no cartesian anywhere") {
    val nodes = supportEdges.select(col("src").as("node")).distinct()
    Seq(
      reports.Graph.lpaStep(supportEdges)(
        nodes.select(col("node"), col("node").as("lab"))),
      reports.Graph.bfsStep(supportEdges)(
        nodes.orderBy(col("node")).limit(3)
          .select(col("node"), lit(0).as("dist")))).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q190: degree table broadcasts into the wedge join; existing edges " +
      "drop via anti join; top-k is sort+limit") {
    val p = plan("q190_link_prediction")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q191: quartile cuts broadcast back; no corpus-sized window (the " +
      "only windows run over value histograms)") {
    val p = plan("q191_rfm_segments")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the histogram windows sit above a HashAggregate (value-keyed),
    // never directly over the orders scan
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }

  test("q192: the vocabulary rate table broadcasts; pair generation is an " +
      "equi-join on (doc, index), not a per-doc cross join") {
    // the rates broadcast happens inside the survivor checkpoint job;
    // the FINAL plan shows the (doc, index) pair join over ExistingRDDs
    val p = plan("q192_skipgram_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert("hashpartitioning\\(doc_id#\\d+L, idx#".r.findFirstIn(p).isDefined ||
      "BroadcastHashJoin \\[doc_id#\\d+L, idx#".r.findFirstIn(p).isDefined, p)
  }

  test("q193: the lag pairing is a day-keyed join over the day histogram") {
    val p = plan("q193_daily_autocorr")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q194: candidates only through shared grams (gram-keyed join), " +
      "sizes join back by id") {
    val p = plan("q194_containment_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert("hashpartitioning\\(g#".r.findFirstIn(p).isDefined ||
      "BroadcastHashJoin \\[g#".r.findFirstIn(p).isDefined, p)
  }

  test("q195: the query sample broadcasts into one corpus scan") {
    val p = plan("q195_knn_label_eval")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q196: vocabulary and per-source totals broadcast; one corpus " +
      "token aggregate") {
    val p = plan("q196_chi2_drift")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q197: survivor sets broadcast into the edge frame as semi joins") {
    val p = reports.Graph.kCoreStep(k = 3)(supportEdges)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q199: sessionization and both touch lookups ride one user-keyed " +
      "exchange") {
    val p = plan("q199_attribution")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges <= 1, s"expected <=1 user exchange, got $userExchanges\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q200: the only unpartitioned window runs over the day histogram") {
    val p = plan("q200_cusum_changepoint")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }

  test("q204: cube plans as one orders scan through Expand, customer " +
      "broadcasts") {
    val p = plan("q204_sales_cube")
    assert(p.contains("Expand"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val ordersScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet"))
    assert(ordersScans == 1, s"expected 1 orders scan, got $ordersScans\n$p")
  }

  test("q211: digit extraction is map-side; one 9-row aggregate, total " +
      "broadcasts back") {
    val p = plan("q211_benford_audit")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val aggExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges <= 2, s"expected <=2 exchanges, got $aggExchanges\n$p")
  }

  test("q202: the at-risk cumulative window runs over the lifetime " +
      "histogram, never the orders scan") {
    val p = plan("q202_churn_lifetable")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }

  test("q203: sessionization + LEAD ride one user-keyed exchange; " +
      "marginals broadcast onto the transition matrix") {
    val p = plan("q203_markov_transitions")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges <= 1, s"expected <=1 user exchange, got $userExchanges\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q212: interval coverage is a map-side Generate into a minute " +
      "aggregate — no interval self-join, no cross product") {
    val p = plan("q212_session_concurrency")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q205: one event_type aggregate; the split day is a 1-row " +
      "broadcast, not a per-row subquery") {
    val p = plan("q205_snapshot_drift")
    assert(!p.contains("SortMergeJoin"), p)
    val typeExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(event_type"))
    assert(typeExchanges <= 1, s"expected <=1 event_type exchange\n$p")
  }

  test("q206: pseudonym derivation adds no shuffle — the link join keys " +
      "on the derived pseudonym like the original keyed join") {
    val p = plan("q206_pseudonymize")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Expand"), "count_distinct Expand leaked in\n" + p)
  }

  test("q210: cuts come from event_type-partitioned windows over the " +
      "CHECKPOINTED histogram and broadcast back; no parquet rescan") {
    val p = plan("q210_winsorized_stats")
    assert(p.contains("BroadcastHashJoin"), p)
    // both windows partition by event_type — never corpus-wide
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("windowspecdefinition(event_type"), l))
    // the window input is the checkpointed histogram, not a fresh scan
    assert(!p.contains("FileScan parquet"),
      "winsorize re-scanned parquet instead of the checkpointed histogram\n" + p)
  }

  test("q207: cap thresholds come from a bounded-heap aggregate and " +
      "broadcast back — no per-source sort window") {
    val p = plan("q207_source_caps")
    assert(!p.contains("Window"), "per-source row_number sort leaked in\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ObjectHashAggregate"), "TopKAgg heap missing\n" + p)
  }

  test("q208: readability is map-only signals + one bucket aggregate — " +
      "no joins") {
    val p = plan("q208_readability")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges\n$p")
  }

  test("q209: the encoded vocabulary broadcasts onto the per-language " +
      "counts") {
    val p = plan("q209_tokenizer_fertility")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q213: one key aggregate; top-k is TakeOrderedAndProject, totals " +
      "a 1-row broadcast") {
    val p = plan("q213_skew_audit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q214: the trailing window runs over the month histogram (above " +
      "an aggregate), never the orders scan") {
    val p = plan("q214_seasonality")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }

  test("q215: marginals re-aggregate the checkpointed cell table and " +
      "broadcast back — the corpus joins once") {
    val p = plan("q215_contingency")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("FileScan parquet"),
      "marginals re-scanned parquet instead of the checkpointed cells\n" + p)
  }

  test("q216: one corpus posexplode pass into the (label, half, dim) " +
      "aggregate; the half join runs on the tiny centroid frame") {
    val p = plan("q216_embedding_drift")
    assert(!p.contains("CartesianProduct"), p)
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("embeddings.parquet"))
    assert(scans <= 2, s"expected <=2 embedding scans, got $scans\n$p")
  }

  test("q217: the fact-fact join reduces straight to the (priority, days)" +
      " histogram; percentile windows partition by priority") {
    val p = plan("q217_sla_percentiles")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("windowspecdefinition(priority"), l))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q218: one user-keyed aggregate reduces events; the rest is " +
      "2-row arithmetic") {
    val p = plan("q218_ab_test")
    assert(!p.contains("Join"), p)
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges <= 1, s"expected <=1 user exchange\n$p")
  }

  test("q219: the Lorenz windows run over the value-bounded dollar " +
      "histogram (above an aggregate), never per-customer rows") {
    val p = plan("q219_revenue_concentration")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }

  test("q220: unigram table and context totals broadcast; the only " +
      "shuffled join keys on the shared (w1, w2)") {
    val p = plan("q220_holdout_lm_eval")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q222: decile cuts broadcast as one row; the score windows run " +
      "over the checkpointed histogram, never a corpus NTILE") {
    val p = plan("q222_calibration_curve")
    assert(!p.contains("FileScan parquet"),
      "calibration re-scanned parquet instead of the checkpointed frame\n" + p)
    assert(!p.contains("ntile"), p)
  }

  test("q224: part frequencies and basket total broadcast onto the " +
      "support-filtered pairs; top-k is TakeOrderedAndProject") {
    val p = plan("q224_basket_lift")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q225: one corpus shuffle builds the distinct (user, day) frame; " +
      "no count_distinct Expand") {
    val p = plan("q225_stickiness")
    assert(!p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q223: the percentile walk runs over the checkpointed latency " +
      "frame, not a corpus window") {
    val p = plan("q223_conversion_latency")
    assert(!p.contains("FileScan parquet"),
      "latency walk re-scanned parquet instead of the checkpointed frame\n" + p)
  }

  test("q236: the partition predicate prunes directories — " +
      "PartitionFilters carries it, DataFilters does not re-check it") {
    val p = plan("q236_partitioned_read")
    val scanLine = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("partitioned_events"))
    assert(scanLine.isDefined, p)
    assert(scanLine.get.contains("PartitionFilters") &&
      scanLine.get.replaceAll(".*PartitionFilters", "")
        .takeWhile(_ != ']').contains("purchase"),
      s"partition filter not pushed to directory pruning\n${scanLine.get}")
  }

  test("q237: the dashboard assembles 1-row frames — every join is a " +
      "broadcast nested loop over single rows, no shuffle join") {
    val p = plan("q237_event_dashboard")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("q264-q266: the video codec chain is one work-spread round-robin " +
      "exchange into shuffle-free mapPartitions — no join, no hash " +
      "shuffle before the per-clip aggregate rows") {
    for (q <- Seq("q264_video_frame_stats", "q265_video_scene_cuts",
        "q266_video_keyframe_stats")) {
      val p = plan(q)
      assert(p.contains("MapPartitions"), s"$q lost the codec stage:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"),
        s"$q plans a join it does not need:\n$p")
      // exactly the deliberate exchanges: the work-spreading round robin
      // (codec CPU ≫ id bytes) and the final result sort
      assert(p.contains("RoundRobinPartitioning"),
        s"$q dropped the work spread:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"$q shuffles by key before the aggregate:\n$p")
    }
  }

  test("q268: the sketch rollup aggregates BUCKET rows, not fact rows — " +
      "partial kll aggregates run map-side before the only exchange") {
    val p = plan("q268_kll_quantile_rollup")
    // two-phase hash aggregate around one exchange: partial sketches
    // combine map-side, so the shuffle moves |buckets| sketch rows
    assert(p.contains("kll_sketch_agg_bigint"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"), p)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"q268 plans $exchanges exchanges:\n$p")
  }

  test("upsert insert numbering: a distributed range shuffle, never a " +
      "single-partition exchange") {
    val ins = Tables.customer(spark, TestSpark.sfDir)
    val p = etl.Upsert.orderedInserts(ins, Seq("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"),
      s"insert numbering serializes on one partition:\n$p")
  }

  test("q260: bucketed snapshot feeds the merge's full-outer join with " +
      "ZERO snapshot-side exchange (raw q26 shuffles that side)") {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def tree(q: String): SparkPlan =
      SparkEntry.queries(q)(spark, TestSpark.sfDir)
        .queryExecution.executedPlan match {
        // initialPlan (not inputPlan): exchanges exist only after
        // EnsureRequirements, which runs in the stage-preparation rules
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    def mergeJoin(p: SparkPlan): SortMergeJoinExec =
      p.collect { case j: SortMergeJoinExec if j.joinType == FullOuter => j }
        .head
    def shuffles(p: SparkPlan): Int =
      p.collect { case e: ShuffleExchangeExec => e }.size
    def hasBucketedScan(p: SparkPlan): Boolean =
      p.collect { case s: FileSourceScanExec if s.bucketedScan => s }.nonEmpty
    // merge is `snap.join(inc, …)` — left child is the snapshot branch
    val raw = mergeJoin(tree("q26_upsert_customers"))
    assert(shuffles(raw.left) >= 1,
      "raw baseline lost its snapshot-side exchange — A/B is vacuous")
    val bucketed = mergeJoin(tree("q260_upsert_bucketed"))
    assert(hasBucketedScan(bucketed.left),
      "merge join does not read the bucketed snapshot scan")
    assert(shuffles(bucketed.left) == 0,
      s"bucketed snapshot side still exchanges:\n${bucketed.left}")
  }

  test("q269: the SCD2 merge reads the landed dimension partition-pruned " +
      "(history partition never scanned by the join) and, in the shuffle " +
      "regime, exchange-free off the bucketed current partition") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def tree(s: org.apache.spark.sql.SparkSession): SparkPlan =
      SparkEntry.queries("q269_scd2_merge")(s, TestSpark.sfDir)
        .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
    // match on the table identity, not the file-index paths: the
    // history partition of a freshly-landed snapshot holds ZERO files,
    // so its (perfectly pruned) scan has an empty path list
    def dimScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case sc: FileSourceScanExec
          if sc.tableIdentifier.exists(_.table.startsWith("graft_scd2_dim")) =>
        sc }
    // default regime: EVERY read of the landed table is partition-pruned —
    // the merge's join arms prune to is_current=true, the pass-through
    // history arm to is_current=false; no scan reads both partitions
    val scans = dimScans(tree(spark))
    assert(scans.nonEmpty, "merge lost the landed-table scans")
    assert(scans.forall(_.partitionFilters.exists(
        _.toString.contains("is_current"))),
      s"a landed-table scan reads both partitions:\n${scans.mkString("\n")}")
    val (historyScans, currentScans) = scans.partition(
      _.partitionFilters.exists(_.toString.contains("NOT is_current")))
    assert(currentScans.nonEmpty && historyScans.nonEmpty,
      s"expected both a current-pruned and a history-pruned scan:\n$scans")
    // shuffle regime (batch side not broadcastable): the merge joins read
    // the CURRENT partition through its bucketed layout with ZERO
    // snapshot-side exchange — the q260 property on the SCD2 store
    val noBc = spark.newSession()
    noBc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p2 = tree(noBc)
    val joins = p2.collect { case j: SortMergeJoinExec => j }
    assert(joins.nonEmpty, s"no sort-merge join under broadcast-off:\n$p2")
    joins.foreach { j =>
      val snapSide = dimScans(j.left)
      assert(snapSide.nonEmpty && snapSide.forall(_.bucketedScan),
        s"merge join does not read the bucketed current partition:\n$j")
      assert(j.left.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"snapshot side still exchanges:\n${j.left}")
    }
  }

  test("q198: tier assignment is map-side (no join before the token " +
      "aggregate); the cumulative window runs over the 4-row tier frame") {
    val p = plan("q198_vocab_growth")
    assert(!p.contains("CartesianProduct"), p)
    // the window's input side contains an aggregate on tier — never the
    // raw documents scan
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")), p)
  }
}
