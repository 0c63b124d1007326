package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming wrapper over the event operators (SURVEY §2.10:
  * the reference is batch-only — cron-scheduled re-runs; this is the
  * stretch-goal streaming expression of the same shapes, so a pipeline can
  * move from scheduled batch to continuous without changing semantics).
  *
  * The transforms are shared with the batch path: windowed counts with
  * watermarked event time. At scale, state lives in the state store keyed
  * by (window, type) — bounded by the watermark horizon.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** File-based stream source over an events directory (parquet drops). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Streaming exact dedup: watermarked dropDuplicates on the key — the
    * streaming twin of Dedup.dropExactDuplicates. State holds one entry
    * per key within the watermark horizon (bounded); late duplicates
    * beyond the horizon pass through (the documented Spark trade-off). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String = "ts", delay: String = "1 hour"): DataFrame =
    events.withWatermark(watermarkCol, delay)
      // dedup on the KEY ALONE: appending the watermark column would let a
      // redelivered event with a restamped timestamp sail through (the
      // batch twin dedups per key); WithinWatermark keeps state bounded
      .dropDuplicatesWithinWatermark(keyCols)

  /** Tumbling-window counts per event type with late-data watermark —
    * shared shape with EventQueries.dailyByType. */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      // decimal sum like the batch twin (dailyByType): a raw double sum is
      // shuffle-order-dependent, so streaming totals would drift from the
      // batch pipeline they are reconciled against
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").try_cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Stateful gap sessionization via flatMapGroupsWithState — the
    * streaming twin of EventQueries.sessionize. State per user is one
    * open session (bounded). A session row is emitted whenever a gap
    * closes it. Production deployments pass
    * `GroupStateTimeout.ProcessingTimeTimeout` so idle sessions flush;
    * note that timeout mode makes Spark run continuous empty micro-batches
    * to evaluate timeouts — use NoTimeout (default) for bounded smoke
    * runs driven by processAllAvailable. */
  def sessionizeStream(events: Dataset[SessionEvent],
      gapMs: Long = 1800000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(user, new java.sql.Timestamp(s.start),
                new java.sql.Timestamp(s.last), s.n)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = Vector.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // merge anywhere within the session's gap-extended span:
                // a LATE cross-batch event must extend start backward and
                // never move `last` backward (t - s.last <= gap alone
                // would set last=t for any earlier event, emitting
                // end-before-start sessions and spurious splits)
                case Some(s) if t >= s.start - gapMs && t - s.last <= gapMs =>
                  cur = Some(SessionState(
                    math.min(s.start, t), math.max(s.last, t), s.n + 1))
                case Some(s) if t > s.last + gapMs =>
                  closed :+= SessionOut(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case Some(_) =>
                  // very-late event, beyond the current session's backward
                  // reach: its own (already closed) single-event session
                  closed :+= SessionOut(user, new java.sql.Timestamp(t),
                    new java.sql.Timestamp(t), 1)
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(gapMs)
            }
            closed.iterator
          }
      }
  }

  final case class ChangeEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)
  /** Open SCD2 version per key: attr (None = NULL attribute), valid-from
    * micros, version ordinal — CONSTANT size per key. */
  final case class ScdState(attr: Option[String], fromUs: Long, version: Int)
  final case class ScdClosed(user_id: Long, version: Int, attr: String,
      valid_from_us: Long, valid_to_us: Long)

  /** Streaming SCD type-2 — the incremental-CDC twin of `etl.Scd.type2`:
    * each change CLOSES the key's open version (emitted with its
    * valid_to) and opens the next; unchanged-attr events collapse into
    * the open run exactly like the batch operator. Append mode emits
    * closed versions only — the open (is_current) version lives in
    * state until its closing change arrives, which IS the CDC contract
    * (a warehouse merge upserts the open row separately).
    *
    * Events inside a micro-batch process in (ts, event_id) order;
    * across batches per-key ordered arrival is assumed — the change-log
    * semantics of every CDC source (Debezium/binlog readers are per-key
    * ordered). State is one small case class per key regardless of
    * event volume. */
  def scdStream(events: Dataset[ChangeEvent]): Dataset[ScdClosed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdClosed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[ChangeEvent], state: GroupState[ScdState]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var closed = Vector.empty[ScdClosed]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = micros(e.ts)
            cur match {
              case Some(s) if s.attr == Option(e.event_type) => // run collapses
              case Some(s) =>
                closed :+= ScdClosed(user, s.version, s.attr.orNull, s.fromUs, t)
                cur = Some(ScdState(Option(e.event_type), t, s.version + 1))
              case None =>
                cur = Some(ScdState(Option(e.event_type), t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  final case class ValueEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  /** Trailing window per key: (micros, cents) pairs inside the last
    * `windowUs` — bounded by events-per-window, evicted on every
    * arrival. */
  final case class AnomalyState(tus: Vector[Long], vc: Vector[Long])
  final case class AnomalyOut(user_id: Long, event_id: Long, vc: Long,
      n_prior: Long, is_anomaly: Int)

  /** Streaming trailing-window anomaly detection — the incremental twin
    * of `reports.Reshape.valueAnomaly` (q161): same integer-cent
    * quantization, same strictly-before-with-tie-exclusion window
    * ([t−7d, t−1] micros), same divisionless 2σ test, evaluated on
    * arrival from a bounded per-key buffer instead of a window frame.
    * In-batch events process in (ts, event_id) order; per-key ordered
    * arrival across batches is the telemetry-source contract (same as
    * scdStream). State is O(events in the trailing window) per key. */
  def anomalyStream(events: Dataset[ValueEvent],
      windowUs: Long = 7L * 86400000000L,
      minPrior: Int = 5): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[ValueEvent], state: GroupState[AnomalyState]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(AnomalyState(Vector.empty, Vector.empty))
          val out = Vector.newBuilder[AnomalyOut]
          sorted.foreach { e =>
            val t = micros(e.ts)
            val vc = math.floor(e.value * 100 + 0.5d).toLong
            // stats over [t - window, t - 1]: evict below, exclude ties at t
            val keepFrom = st.tus.indexWhere(_ >= t - windowUs) match {
              case -1 => st.tus.size
              case i => i
            }
            st = AnomalyState(st.tus.drop(keepFrom), st.vc.drop(keepFrom))
            var n = 0L; var s = 0L; var q = 0L
            var i = 0
            while (i < st.tus.size) {
              if (st.tus(i) <= t - 1) { n += 1; s += st.vc(i); q += st.vc(i) * st.vc(i) }
              i += 1
            }
            val nd = n.toDouble
            val flag = if (n >= minPrior &&
              math.pow(vc.toDouble * nd - s.toDouble, 2) >
                4d * (nd * q.toDouble - s.toDouble * s.toDouble)) 1 else 0
            out += AnomalyOut(user, e.event_id, vc, n, flag)
            st = AnomalyState(st.tus :+ t, st.vc :+ vc)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class FunnelEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)
  /** Per-user funnel progress: last view / last qualified click (epoch
    * micros, Long.MinValue = none) + bitmask of stages already emitted —
    * CONSTANT size per user regardless of event volume. */
  final case class FunnelProgress(lastView: Long, lastQClick: Long, emitted: Int)
  final case class FunnelHit(user_id: Long, stage: String)

  private def micros(t: java.sql.Timestamp): Long =
    // floorDiv, not /: pre-epoch getTime must round toward -inf or the
    // sub-second part flips sign (1-second error on negative timestamps)
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Stateful streaming funnel — the continuous twin of
    * `EventQueries.funnelOf` (view → click → purchase, each step within 6
    * hours of the previous). Emits one FunnelHit the FIRST time a user
    * reaches each stage; counting hits per stage downstream reproduces
    * the batch funnel counts. Events inside a micro-batch are processed
    * in (ts, event_id) order, and a stage qualifies against state built
    * from strictly-earlier events only — identical semantics to the batch
    * strictly-before window frame. */
  def funnelStream(events: Dataset[FunnelEvent],
      stepMicros: Long = 6L * 3600 * 1000000L): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          var s = state.getOption
            .getOrElse(FunnelProgress(Long.MinValue, Long.MinValue, 0))
          var hits = Vector.empty[FunnelHit]
          def emit(bit: Int, stage: String): Unit =
            if ((s.emitted & bit) == 0) {
              hits :+= FunnelHit(user, stage)
              s = s.copy(emitted = s.emitted | bit)
            }
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            e.event_type match {
              case "view" =>
                emit(1, "view")
                s = s.copy(lastView = math.max(s.lastView, t))
              case "click" if s.lastView != Long.MinValue &&
                  s.lastView >= t - stepMicros =>
                emit(2, "click")
                s = s.copy(lastQClick = math.max(s.lastQClick, t))
              case "purchase" if s.lastQClick != Long.MinValue &&
                  s.lastQClick >= t - stepMicros =>
                emit(4, "purchase")
              case _ => ()
            }
          }
          state.update(s)
          hits.iterator
      }
  }

  /** Streaming windowed top-k: per tumbling window, the k highest-value
    * events via the bounded-heap aggregate (graft.functions.TopKStructs) —
    * custom TypedImperativeAggregates participate in streaming state like
    * any aggregate, so the sort-free ranking strategy carries over to the
    * continuous pipeline unchanged. State per (window) is one k-row heap,
    * bounded by the watermark horizon. */
  def windowedTopK(events: DataFrame, k: Int = 3, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // a null value would sort FIRST under the struct ordering (null
      // smallest) and displace the real top event from every window
      .filter(col("value").isNotNull)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("win"))
      .agg(graft.functions.TopKAgg.topK(struct(
        (-col("value")).as("nv"),
        col("event_id").as("eid")), k).as("top"))
      .select(col("win.start").as("window_start"), posexplode(col("top")))
      .select(col("window_start"),
        col("col.eid").as("event_id"),
        (-col("col.nv")).as("value"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Stream-stream interval join: left events matched to right events of
    * the same key within `[leftTs - lookback, leftTs]` — the streaming
    * point-in-time enrichment. Watermarks on BOTH sides bound the join
    * state (Spark retains right rows only inside the watermark + interval
    * horizon). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      lookback: String = "30 minutes", watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.withWatermark("ts", watermark).as("l")
    val r = right.withWatermark("ts", watermark).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND " +
        s"r.ts BETWEEN l.ts - INTERVAL $lookback AND l.ts"))
  }

  /** Streaming twin of `operators.RangeJoin.intervalOverlap` for
    * interval streams of BOUNDED width: both sides explode statelessly
    * to the time buckets they cover, and the stream-stream join runs as
    * a bucket EQUI-join with the exact overlap residual and the
    * first-intersection-bucket pair attribution — the same structural
    * dedup as the batch operator (each overlapping pair emits exactly
    * once, no output distinct). The redundant start-to-start range
    * conjuncts, derived from the DECLARED maximum interval widths
    * (overlap ⇒ bStart ∈ [aStart − maxBWidth, aStart + maxAWidth]),
    * are what give Spark a watermark constraint between the two event
    * time columns — without them the join state never evicts.
    * Malformed (reversed/null) intervals are filtered before the
    * explode, matching the batch contract — and so are intervals WIDER
    * than the declared max width: the derived range conjuncts prune
    * their pairs anyway, so without the filter an over-wide row would
    * match SOME of its true overlaps (those within the declared window)
    * and silently miss the rest. Filtering makes the precondition
    * violation total and visible (the row matches nothing, like a
    * reversed interval) instead of a partial, silent wrong answer. */
  def intervalOverlapStream(
      a: DataFrame, aStart: String, aEnd: String,
      b: DataFrame, bStart: String, bEnd: String,
      bucketMs: Long, delay: String = "1 hour",
      maxAWidth: String = "1 hour", maxBWidth: String = "1 hour"): DataFrame = {
    def bucketOf(c: String) =
      floor(unix_millis(col(c)) / bucketMs).cast("long")
    def buckets(start: String, end: String) =
      explode(sequence(bucketOf(start), bucketOf(end)))
    val aw = a.withWatermark(aStart, delay)
      .filter(col(aStart) <= col(aEnd) &&
        col(aEnd) <= col(aStart) + expr(s"INTERVAL $maxAWidth"))
      .withColumn("__ab", buckets(aStart, aEnd))
    val bw = b.withWatermark(bStart, delay)
      .filter(col(bStart) <= col(bEnd) &&
        col(bEnd) <= col(bStart) + expr(s"INTERVAL $maxBWidth"))
      .withColumn("__bb", buckets(bStart, bEnd))
    aw.join(bw,
        col("__ab") === col("__bb") &&
        col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd) &&
        col(bStart) >= col(aStart) - expr(s"INTERVAL $maxBWidth") &&
        col(bStart) <= col(aStart) + expr(s"INTERVAL $maxAWidth") &&
        greatest(bucketOf(aStart), bucketOf(bStart)) === col("__ab"))
      .drop("__ab", "__bb")
  }

  final case class AsOfEvent(kind: Int, key: Long, ts: java.sql.Timestamp,
      v: Double)
  /** One right row in the per-key history. The full Timestamp is kept
    * (NOT epoch millis — `Timestamp.getTime` drops the microsecond
    * component parquet event times carry; ordering uses `micros`). */
  final case class AsOfLast(ts: java.sql.Timestamp, v: Double)
  /** Per-key state: the most recent rights, DESC by ts, one entry per
    * distinct ts (max v — the batch tiebreak), bounded. */
  final case class AsOfHist(rights: List[AsOfLast])
  final case class AsOfOut(key: Long, ts: java.sql.Timestamp, v: Double,
      right_ts: Option[java.sql.Timestamp], right_v: Option[Double])

  /** Streaming BACKWARD as-of join — the continuous twin of
    * `operators.AsOfJoin.asOf(direction = "backward")`: each left event is
    * enriched with the latest right event of the same key at-or-before its
    * timestamp. The two inputs arrive as one tagged union (kind 0 = right,
    * 1 = left); per key the state is a BOUNDED history of the most recent
    * `historySize` rights (one entry per distinct ts, max value — the
    * batch tiebreak), so a cross-batch LATE left still enriches exactly
    * like the batch form as long as its matching right is within the
    * history window. Beyond eviction a late left gets a null match and a
    * right that arrives after a left it should have enriched cannot
    * retro-correct it — the residual late-data trades every streaming
    * enrichment documents; the batch twin is the reconciliation path.
    * State stays constant-size per key regardless of volume.
    *
    * In-batch rows sort by (ts, kind, v), so a right row at the same
    * timestamp applies before the left row reads it and equal-ts rights
    * apply in value order with the LARGEST winning (the batch `__r`
    * struct tiebreak). */
  def asofStream(tagged: Dataset[AsOfEvent],
      historySize: Int = 32): Dataset[AsOfOut] = {
    import tagged.sparkSession.implicits._
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfHist, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfHist]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.kind, e.v))
          var hist: List[AsOfLast] =
            state.getOption.map(_.rights).getOrElse(Nil) // DESC by ts
          // insert keeping DESC order, max v per ts, bounded length —
          // eviction drops the OLDEST entries
          def insert(e: AsOfEvent): Unit = {
            val (newer, rest) = hist.span(r => micros(r.ts) > micros(e.ts))
            val merged = rest match {
              case r :: tail if micros(r.ts) == micros(e.ts) =>
                (if (r.v >= e.v) r else AsOfLast(e.ts, e.v)) :: tail
              case _ => AsOfLast(e.ts, e.v) :: rest
            }
            hist = (newer ::: merged).take(historySize)
          }
          val out = Vector.newBuilder[AsOfOut]
          sorted.foreach { e =>
            if (e.kind == 0) insert(e)
            else {
              // first history entry at-or-before the left ts = the max
              // right ts <= left ts (backward semantics; a late left can
              // never read a right from its future)
              val m = hist.find(r => micros(r.ts) <= micros(e.ts))
              out += AsOfOut(key, e.ts, e.v, m.map(_.ts), m.map(_.v))
            }
          }
          if (hist.nonEmpty) state.update(AsOfHist(hist))
          out.result().iterator
      }
  }

  private final val StreamWindow = "1 hour"
  /** Run a windowed-count stream to a named in-memory sink until all
    * currently-available input is processed (local smoke path). */
  def runToMemory(spark: SparkSession, sourceDir: String,
      queryName: String): DataFrame = {
    val q = windowedCounts(readEventStream(spark, sourceDir), StreamWindow)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
