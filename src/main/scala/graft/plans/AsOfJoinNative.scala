package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{StructField, StructType}

/** Native as-of join: the whole-operator custom tier (SURVEY §7.3(c) —
  * LogicalPlan + SparkStrategy + SparkPlan, registered through
  * `SparkSessionExtensions.injectPlannerStrategy` by `GraftExtensions`).
  *
  * Spark itself has no physical as-of operator: its own
  * `logical.AsOfJoin` (the pandas-on-Spark `merge_asof` node) is
  * REWRITTEN by the optimizer into the same union + carry-forward-window
  * composition `operators.AsOfJoin.asOf` builds by hand. That plan can
  * never reuse an existing layout: the union destroys both children's
  * partitioning/ordering, so every call pays a full shuffle + one wide
  * sort over L+R rows carrying every left column AND the right struct.
  *
  * This operator instead declares what a distributed as-of join actually
  * needs — `ClusteredDistribution` on each side's key and a per-partition
  * (key, time) sort — and merges the two sorted streams in one pass:
  *
  *  - each side shuffles/sorts INDEPENDENTLY (narrower rows than the
  *    union form: right rows never carry left columns or a null struct);
  *  - a side that is already hash-partitioned (bucketed table, previous
  *    join/agg on the same key) or already sorted satisfies the
  *    requirement and skips its exchange/sort entirely — `EnsureRequirements`
  *    sees the declared distribution, which the union form hides;
  *  - output preserves the LEFT side's partitioning and ordering, so a
  *    downstream groupBy/join on the same key does not reshuffle;
  *  - the merge is O(|L| + |R|) per partition with one buffered right row
  *    (the backward candidate) — no window frames, no struct carry.
  *
  * Semantics are exactly `operators.AsOfJoin.asOf` (pandas merge_asof
  * surface; AsOfJoinNativeSpec pins equality over dirty inputs):
  * backward/forward/nearest with inclusive ties, optional tolerance,
  * NULL keys/timestamps match nothing (left rows keep left-join
  * semantics), duplicate right timestamps resolve by the carried
  * columns' lexicographic order (backward → max, forward → min) — the
  * right child is sorted by (key, time, carried…), so the merge's
  * last-consumed / head row IS the window form's deterministic pick.
  *
  * Both children are bound POSITIONALLY inside the exec (left
  * expressions against left.output only, right against right.output
  * only, output assembled by an UnsafeRowJoiner): a self-join whose
  * sides share attribute ids — which `DeduplicateRelations` does not fix
  * for custom nodes — cannot cross-bind.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    carried: Seq[Attribute],
    outAttrs: Seq[Attribute],
    direction: String,
    toleranceMicros: Option[Long]) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    "as-of join needs at least one equality key on each side")
  require(carried.size == outAttrs.size, "one output attribute per carried column")

  override def output: Seq[Attribute] = left.output ++ outAttrs
  /** outAttrs are minted here, not consumed from children — without this
    * CheckAnalysis counts them as missing input. */
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override def maxRows: Option[Long] = left.maxRows // exactly one output row per left row

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans `AsOfJoinPlan` → `AsOfJoinExec`. Injected only via
  * `GraftExtensions` (injectPlannerStrategy); `operators.AsOfJoin.asOfNative`
  * fails on a session built without the extension. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime, p.carried,
        p.outAttrs, p.direction, p.toleranceMicros,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    carried: Seq[Attribute],
    outAttrs: Seq[Attribute],
    direction: String,
    toleranceMicros: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  /** Shuffle each side by its own key — same machinery as a shuffled
    * equi-join, so EnsureRequirements co-partitions the children (and
    * skips the exchange for a side already hash-partitioned on the key). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Right sorts by (key, time, carried…): the trailing carried columns
    * make duplicate-timestamp ties deterministic (and identical to the
    * window form's struct-order tie-break). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ ((rightTime +: carried.toSeq).distinct)).map(SortOrder(_, Ascending)))

  // one output row per left row, in left order: both properties pass through
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val dirForward = direction == "forward"
    val dirBackward = direction == "backward"
    val tol = toleranceMicros
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTimeE = leftTime
    val rTimeE = rightTime
    val carriedL = carried
    val leftSchema = StructType(lOut.map(a => StructField(a.name, a.dataType, a.nullable)))
    val carriedSchema = StructType(carriedL.map(a => StructField(a.name, a.dataType, nullable = true)))

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-side binding only — see class doc (self-join attribute-id safety)
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTimeB = BindReferences.bindReference(lTimeE, lOut)
      val rTimeB = BindReferences.bindReference(rTimeE, rOut)
      val carriedProj = UnsafeProjection.create(carriedL, rOut)
      val nullCarried = UnsafeProjection.create(
        carriedL.map(a => Literal.create(null, a.dataType)))(InternalRow.empty).copy()
      val joiner = GenerateUnsafeRowJoiner.create(leftSchema, carriedSchema)
      val toUnsafeLeft = UnsafeProjection.create(lOut.map(_.dataType).toArray)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))

      new Iterator[InternalRow] {
        private[this] var rRow: InternalRow = fetchRight()
        // backward candidate: last consumed right row of the current key
        private[this] var bRow: InternalRow = _
        private[this] var bKey: UnsafeRow = _
        private[this] var bTime: Long = _

        private def fetchRight(): InternalRow =
          if (rIter.hasNext) rIter.next() else null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKeyRow = lKeyProj(lRow)
          val ltv = lTimeB.eval(lRow)
          if (lKeyRow.anyNull || ltv == null) return emit(lRow, null)
          val lt = ltv.asInstanceOf[Long]

          // advance the right cursor to this left row's merge frontier
          var advancing = true
          while (advancing && rRow != null) {
            val cmp = keyOrd.compare(rKeyProj(rRow), lKeyRow)
            if (cmp < 0) rRow = fetchRight()
            else if (cmp > 0) advancing = false
            else {
              val rtv = rTimeB.eval(rRow)
              if (rtv == null) rRow = fetchRight() // defensive: wrapper pre-filters
              else {
                val rt = rtv.asInstanceOf[Long]
                // forward keeps equal-ts rows AT the cursor (head = min
                // carried); backward/nearest consume them (last = max)
                if (if (dirForward) rt < lt else rt <= lt) {
                  if (!dirForward) {
                    bRow = rRow.copy(); bKey = rKeyProj(rRow).copy(); bTime = rt
                  }
                  rRow = fetchRight()
                } else advancing = false
              }
            }
          }

          val bOk = !dirForward && bRow != null &&
            keyOrd.compare(bKey, lKeyRow) == 0 && tol.forall(lt - bTime <= _)
          var fOk = false
          var fTime = 0L
          if (!dirBackward && rRow != null &&
              keyOrd.compare(rKeyProj(rRow), lKeyRow) == 0) {
            val rtv = rTimeB.eval(rRow)
            if (rtv != null) {
              fTime = rtv.asInstanceOf[Long] // >= lt by the loop's exit condition
              fOk = tol.forall(fTime - lt <= _)
            }
          }
          val chosen =
            if (dirBackward) { if (bOk) bRow else null }
            else if (dirForward) { if (fOk) rRow else null }
            // nearest: closer side wins, exact tie → backward
            else if (bOk && (!fOk || lt - bTime <= fTime - lt)) bRow
            else if (fOk) rRow
            else null
          emit(lRow, chosen)
        }

        private def emit(lRow: InternalRow, rightMatch: InternalRow): InternalRow = {
          numOutputRows += 1
          val carriedRow = if (rightMatch == null) nullCarried else {
            numMatched += 1
            carriedProj(rightMatch)
          }
          val lU = lRow match {
            case u: UnsafeRow => u
            case r => toUnsafeLeft(r)
          }
          joiner.join(lU, carriedRow)
        }
      }
    }
  }
}
