package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, TimestampType}

/** Optimizer rule: rewrite a naive point-in-interval join —
  *
  *   left JOIN right ON l.ts >= r.start AND l.ts <= r.end
  *
  * (which Spark can only execute as a nested loop, O(|L|·|R|)) into the
  * bucketed equi-join decomposition of `operators.RangeJoin`: intervals
  * explode to the fixed-width time buckets they cover, points map to one
  * bucket, the join becomes a hash equi-join on the bucket id and the
  * original condition stays as a residual filter. Output attributes are
  * unchanged, so the rewrite is transparent to everything above it.
  *
  * Fires only on INNER joins whose condition contains a lower and an
  * upper timestamp bound between the sides and NO equi-conjunct joining
  * the sides (with an equi-conjunct Spark already plans a hash join and
  * the range is a cheap residual). Bucket width:
  * `spark.graft.rangeJoin.bucketMs` (default 1 hour).
  *
  * Semantics-preservation over ALL inputs (not just well-formed ones):
  *  - reversed intervals (end < start — swapped/dirty timestamps) and
  *    null-bounded intervals match nothing under the original predicate,
  *    so the rewrite filters them off the exploded side instead of letting
  *    `sequence(lo, hi, 1)` throw 'Illegal sequence boundaries';
  *  - an interval spanning more than `spark.graft.rangeJoin
  *    .maxBucketsPerRow` buckets (default 10k ≈ 416 days at the 1-hour
  *    default width — think SCD-2 sentinel valid_to = 9999-12-31) would
  *    explode into millions of rows PER ROW. Buckets are therefore
  *    HIERARCHICAL: tier-t buckets are `4096^t` fine buckets wide, every
  *    interval explodes at the one tier (0..5) whose width fits its span
  *    under the cap (tier 0 = fine buckets for narrow rows; tier 5
  *    covers any representable span), the point side explodes to one
  *    bucket per PRESENT tier (gated by a broadcast 1-row collect_set
  *    probe — ×1 rows when every interval is narrow), and ONE hash
  *    EQUI-join on `(tier, bucket)` serves every width — no nested-loop
  *    branch exists for any input. A point×interval pair can only meet
  *    at the interval's single home tier, so no pair is emitted twice.
  *
  * Registered by `graft.GraftExtensions` (injectOptimizerRule), so every
  * session `graft.GraftSession` builds plans under it. SURVEY §7.3(c):
  * the custom-Rule tier, used exactly where declarative composition
  * cannot express the fix (a user's naive predicate can't be
  * re-associated into an equi-join without a plan rewrite). */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val BucketConfKey = "spark.graft.rangeJoin.bucketMs"

  /** Max buckets a single interval may explode into at ANY tier — a row
    * lands at the tier where its span fits this cap. Tradeoff: higher →
    * finer buckets for wide rows (less residual filtering) but more
    * copies per row; 10k keeps per-row blowup bounded at ~10k × row size
    * while covering a year of hourly buckets at tier 0. */
  val MaxBucketsConfKey = "spark.graft.rangeJoin.maxBucketsPerRow"

  private def bucketMs: Long =
    SQLConf.get.getConfString(BucketConfKey, "3600000").toLong

  private def maxBucketsPerRow: Long =
    SQLConf.get.getConfString(MaxBucketsConfKey, "10000").toLong

  /** Tier geometry shared with `operators.RangeJoin`: tier-t buckets are
    * `4096^t` fine buckets wide; 6 tiers cover any representable span. */
  private val TierShift = 12
  private val Tiers = 6

  /** Idempotence: the rewrite's own output can never re-match the
    * pattern — its joins carry either NO condition (the broadcast probe
    * cross join) or pure equi-conjuncts on the (tier, bucket)
    * attributes, and the pattern requires timestamp bounds with no
    * cross-side equality. Even if an outer rule pushes the residual
    * range filter back INTO the final join's condition, the equi
    * conjuncts are still there and the `hasEqui` guard skips it. This
    * holds under rules that rebuild join trees from scratch
    * (ReorderJoin), where any TreeNodeTag or marker-column scheme would
    * be lost/folded away. `hasGraftShape` additionally suppresses the
    * rewrite for HAND-WRITTEN bucket decompositions (a span-cap filter
    * over bucket arithmetic), which equally must not be re-rewritten. */

  /** A bucket-arithmetic expression: floor over unix_millis — the shape
    * only this rule's rewrite produces (or a user hand-writing the same
    * decomposition, which equally must not be re-rewritten). */
  private def isBucketArith(e: Expression): Boolean =
    e.exists(_.isInstanceOf[UnixMillis]) && e.exists(_.isInstanceOf[Floor])

  private def isSpanCap(e: Expression): Boolean = e match {
    case GreaterThan(Subtract(a, b, _), Literal(_, _)) =>
      isBucketArith(a) && isBucketArith(b)
    case LessThanOrEqual(Subtract(a, b, _), Literal(_, _)) =>
      isBucketArith(a) && isBucketArith(b)
    case _ => false
  }

  /** True when the subtree already contains this rule's output (the
    * narrow branch's bucket filter or the wide fallback's span-cap
    * filter). Conservative: also suppresses the rewrite for hand-written
    * bucket decompositions, which is exactly right. */
  private def hasGraftShape(p: LogicalPlan): Boolean = p.exists {
    case f: Filter =>
      splitConjunctivePredicates(f.condition).exists(isSpanCap)
    case _ => false
  }

  /** floor(unix_millis(ts) / bucketMs) as a long — identical arithmetic
    * to operators.RangeJoin so the two forms bucket consistently. */
  private def bucketOf(ts: Expression, b: Long): Expression =
    Cast(Floor(Divide(Cast(UnixMillis(ts), DoubleType),
      Literal(b.toDouble))), LongType)

  /** Substitute Project/Aggregate alias definitions into `e` until only
    * base attributes remain — the bound attributes a join condition
    * references are usually aliases over the real interval arithmetic
    * (`win_end = ts + INTERVAL 5m` sits one Project below the join). */
  private def resolveThrough(e: Expression, plan: LogicalPlan): Expression = {
    val defs: Map[ExprId, Expression] = plan.collect {
      case p: Project =>
        p.projectList.collect { case a: Alias => a.exprId -> a.child }
      case a: Aggregate =>
        a.aggregateExpressions.collect { case al: Alias => al.exprId -> al.child }
    }.flatten.toMap
    var cur = e
    var rounds = 0
    var changed = true
    while (changed && rounds < 10) {
      changed = false
      cur = cur.transformUp {
        case ar: AttributeReference if defs.contains(ar.exprId) =>
          changed = true; defs(ar.exprId)
      }
      rounds += 1
    }
    cur
  }

  /** True when the session timezone is a fixed UTC offset (UTC, +05:00,
    * GMT+8…): no DST, every calendar day is exactly 86400000 ms, so a
    * CalendarInterval's day component has a static width. */
  private def sessionZoneIsFixedOffset: Boolean = {
    val zone = java.time.ZoneId.of(SQLConf.get.sessionLocalTimeZone)
    zone.getRules.isFixedOffset
  }

  /** The interval's width in ms when it is a PLAN-TIME CONSTANT — the
    * upper bound resolves to `lower + literal interval` (the shape
    * every `ts BETWEEN start AND start + INTERVAL x` query has). A
    * known width makes the whole tier set static: no runtime probe. */
  private def constWidthMs(hiRes: Expression, loRes: Expression): Option[Long] = {
    def strip(e: Expression): Expression = e match {
      case Cast(c, TimestampType, _, _) => strip(c)
      case _ => e
    }
    def intervalMs(l: Literal): Option[Long] = l match {
      case Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType) =>
        if (v >= 0) Some((v + 999) / 1000) else None // micros, ceil to ms
      case Literal(ci: org.apache.spark.unsafe.types.CalendarInterval, _) =>
        // months are variable-length: no static bound. Days are added
        // calendar-wise in the session zone, so across a DST fall-back a
        // "day" is 25h and a fixed 86400000ms/day bound UNDERESTIMATES
        // the real span — an interval landing past thLit(tMax) would get
        // a home tier the point side never visits and its matches would
        // be silently dropped. Only a fixed-offset zone makes days exact;
        // otherwise a day-carrying interval falls back to the dynamic
        // probe, which tags and visits tiers from the actual spans.
        if (ci.months == 0 && ci.days >= 0 && ci.microseconds >= 0 &&
            (ci.days == 0 || sessionZoneIsFixedOffset))
          Some(ci.days * 86400000L + (ci.microseconds + 999) / 1000)
        else None
      case _ => None
    }
    strip(hiRes) match {
      case TimestampAddInterval(base, l: Literal, _)
          if strip(base).semanticEquals(strip(loRes)) => intervalMs(l)
      case _ => None
    }
  }

  private def refsIn(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  /** Match `point >= bound` in either written order, returning
    * (point-from-left, bound-from-right). */
  private def lowerBound(c: Expression, l: LogicalPlan, r: LogicalPlan):
      Option[(Expression, Expression)] = c match {
    case GreaterThanOrEqual(p, b) if refsIn(p, l) && refsIn(b, r) => Some((p, b))
    case LessThanOrEqual(b, p) if refsIn(p, l) && refsIn(b, r) => Some((p, b))
    case _ => None
  }

  private def upperBound(c: Expression, l: LogicalPlan, r: LogicalPlan):
      Option[(Expression, Expression)] = c match {
    case LessThanOrEqual(p, b) if refsIn(p, l) && refsIn(b, r) => Some((p, b))
    case GreaterThanOrEqual(b, p) if refsIn(p, l) && refsIn(b, r) => Some((p, b))
    case _ => None
  }

  private def crossSideEquality(c: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    c match {
      case EqualTo(a, b) =>
        (refsIn(a, l) && refsIn(b, r)) || (refsIn(a, r) && refsIn(b, l))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // left/right appear in BOTH union branches after the rewrite, so each
    // is evaluated twice; with a non-deterministic expression anywhere in
    // a side the branch filters could disagree (duplicating or dropping
    // matches) — the standard Catalyst guard for subtree-duplicating
    // rules is to fire only on deterministic plans.
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && !hasBucketAlias(j) && !hasGraftShape(j) &&
          left.deterministic && right.deterministic =>
      val conjuncts = splitConjunctivePredicates(cond)
      val lower = conjuncts.flatMap(c => lowerBound(c, left, right)).headOption
      val upper = conjuncts.flatMap(c => upperBound(c, left, right)).headOption
      val hasEqui = conjuncts.exists(c => crossSideEquality(c, left, right))
      (lower, upper) match {
        case (Some((pt, lo)), Some((pt2, hi)))
            if !hasEqui && pt.semanticEquals(pt2) &&
              pt.dataType == TimestampType &&
              lo.dataType == TimestampType && hi.dataType == TimestampType =>
          val b = bucketMs
          val loBucket = bucketOf(lo, b)
          val hiBucket = bucketOf(hi, b)
          val span = Subtract(hiBucket, loBucket)
          val maxB = maxBucketsPerRow
          val tz = Some(SQLConf.get.sessionLocalTimeZone)
          // saturating maxB·4096^t — the smallest tier fitting the span
          def thLit(t: Int): Long = {
            val shift = TierShift * t
            if (maxB > (Long.MaxValue >> shift)) Long.MaxValue
            else maxB << shift
          }

          // ---- static-width fast path (round 15): when the upper bound
          // resolves to `lower + literal interval` (the ubiquitous
          // `BETWEEN start AND start + INTERVAL x` shape), every row's
          // bucket span is bounded by width/bucket + 1 AT PLAN TIME, so
          // the tier set is static: tiers 0..tMax. The runtime probe —
          // an extra column-pruned pass over the interval side per
          // execution, the one real cost the d14 honesty table carries
          // for q79 — is not built at all, and with tMax = 0 (any width
          // up to maxB buckets) the point side stays exactly one row per
          // point, same as the declared-width operators.RangeJoin path.
          val staticTierMax: Option[Int] = constWidthMs(
            resolveThrough(hi, right), resolveThrough(lo, right)).map { w =>
            val spanBound = w / b + 1
            (0 until Tiers).find(t => spanBound <= thLit(t)).getOrElse(Tiers - 1)
          }

          // ---- interval side: well-formed rows tagged with their HOME
          // tier (smallest tier bounding the explosion at ≤ maxB rows;
          // narrow rows land at tier 0 = fine buckets; a static width
          // bound of tier 0 makes the tag a constant). lo <= hi is
          // null-rejecting: reversed AND null-bounded rows (which match
          // nothing in the original join) are dropped before the
          // Generate, so sequence() can neither throw nor explode.
          val rBase = Filter(LessThanOrEqual(lo, hi), right)
          val tierAlias = staticTierMax match {
            case Some(0) => Alias(Literal(0), "__graft_tier_r")()
            case _ => Alias(CaseWhen(
              (0 until Tiers - 1).map(t =>
                (LessThanOrEqual(span, Literal(thLit(t))), Literal(t))),
              Some(Literal(Tiers - 1))), "__graft_tier_r")()
          }
          val rProj = Project(right.output :+ tierAlias, rBase)
          val shiftR = Multiply(Literal(TierShift), tierAlias.toAttribute)
          val bucketR = AttributeReference(
            "__graft_bucket_r", LongType, nullable = false)()
          // Sequence is TimeZoneAwareExpression: stays UNRESOLVED without
          // an explicit zone even over longs — pin the session zone
          val genR = Generate(Explode(Sequence(
              ShiftRight(loBucket, shiftR), ShiftRight(hiBucket, shiftR),
              Some(Literal(1L)), tz)),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(bucketR), child = rProj)

          // ---- point side: one bucket per tier that CAN hold intervals.
          // Static width bound → the tier set is a literal: no probe, no
          // extra pass over the interval side, and tMax = 0 adds no rows
          // at all. Otherwise the probe is a broadcast 1-row collect_set
          // over the interval side (a second, column-pruned reference to
          // `right` — hence the determinism guard on this rule), so each
          // point explodes to exactly |present tiers| rows: ×1 when every
          // interval is narrow, and the coarse tiers cost rows only when
          // wide rows exist.
          val (tierL: Attribute, tierSrc: LogicalPlan) = staticTierMax match {
            case Some(0) =>
              val t0 = Alias(Literal(0), "__graft_tier_l")()
              (t0.toAttribute, Project(left.output :+ t0, left))
            case Some(tMax) =>
              val attr = AttributeReference(
                "__graft_tier_l", IntegerType, nullable = false)()
              (attr, Generate(Explode(Literal.create((0 to tMax).toArray)),
                unrequiredChildIndex = Nil, outer = false, qualifier = None,
                generatorOutput = Seq(attr), child = left))
            case None =>
              val tiersAlias = Alias(
                new org.apache.spark.sql.catalyst.expressions.aggregate
                  .CollectSet(tierAlias.toAttribute).toAggregateExpression(),
                "__graft_tiers")()
              val probe = Aggregate(Nil, Seq(tiersAlias), rProj)
              val cross = Join(left, probe,
                org.apache.spark.sql.catalyst.plans.Cross, None,
                JoinHint(None,
                  Some(HintInfo(strategy = Some(BROADCAST)))))
              val attr = AttributeReference(
                "__graft_tier_l", IntegerType, nullable = false)()
              (attr, Generate(Explode(tiersAlias.toAttribute),
                unrequiredChildIndex = Nil, outer = false, qualifier = None,
                generatorOutput = Seq(attr), child = cross))
          }
          val lbAlias = Alias(ShiftRight(bucketOf(pt, b),
            Multiply(Literal(TierShift), tierL)), "__graft_bucket_l")()
          val projL = Project(left.output :+ tierL :+ lbAlias, tierSrc)

          // ---- ONE hash equi-join on (tier, bucket) for ANY interval
          // width — no nested-loop branch exists. A point×interval pair
          // can only meet at the interval's single home tier, in the
          // point's single bucket there, so no pair is emitted twice.
          // The original condition (ALL conjuncts) stays as the residual.
          val joined = Join(projL, genR, Inner,
            Some(And(EqualTo(tierL, tierAlias.toAttribute),
              EqualTo(lbAlias.toAttribute, bucketR))), hint)
          Project(j.output, Filter(cond, joined))
        case _ => j
      }
  }

  /** Fast-path idempotence guard for the narrow branch (its bucket
    * attributes are join keys, so their names survive every optimizer
    * rule); `hasGraftShape` is the robust guard covering both branches. */
  private def hasBucketAlias(j: Join): Boolean =
    j.left.output.exists(_.name == "__graft_bucket_l") ||
      j.right.output.exists(_.name == "__graft_bucket_r")
}
