package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, classic}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of (temporal) join: attach to each left row the nearest right row
  * in time within the same partition key — the point-in-time join
  * training-data and feature pipelines need (events → latest prior
  * state). Not present in the reference (SURVEY §2.4 note); added as a
  * scale extension.
  *
  * Directions (pandas merge_asof surface):
  *  - "backward" (default): most recent right with rightTs <= leftTs
  *  - "forward": earliest right with rightTs >= leftTs
  *  - "nearest": whichever of the two is closer (tie → backward)
  * `toleranceMs` (optional) null-outs a match farther than the tolerance
  * from the left timestamp — merge_asof's no-match semantics.
  *
  * Implementation is composition (preference order (a) in the build
  * mandate): tag both sides, union, and carry the adjacent right row's
  * values with a partitioned running window — O(n log n) in each
  * partition via one sort, NO range join or per-row probe. Both sides
  * shuffle once on the partition key; the window sorts ride the same
  * partitioning (forward adds a second sort order, not a shuffle). At
  * equal timestamps the right row matches in BOTH directions (`<=`/`>=`
  * inclusive ties, like DuckDB's ASOF JOIN).
  *
  * The matched right row is carried as ONE struct, not per-column:
  * a genuinely NULL right value stays NULL (per-column ignoreNulls would
  * back-fill it from an older row — wrong row, and invisible to the
  * tolerance check), and duplicate right timestamps resolve by the
  * struct's lexicographic order in the window sort — deterministic
  * across runs and partitionings (requires orderable carried types:
  * no maps). */
object AsOfJoin {

  /** @param left      probe side
    * @param right     reference side (its `valueCols` are attached)
    * @param partition equality key column (both sides)
    * @param leftTs    left event-time column
    * @param rightTs   right event-time column
    * @param valueCols right columns to carry (default: rightTs only)
    * Output: all left columns + `asof_<rightTs>` (+ carried values). */
  def asOf(left: DataFrame, right: DataFrame, partition: String,
      leftTs: String, rightTs: String, valueCols: Seq[String] = Seq.empty,
      direction: String = "backward",
      toleranceMs: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val carried = (rightTs +: valueCols).distinct
    val rStruct = StructType(carried.map(c => right.schema(c).copy(name = c)))
    // NULL partition keys: an equi/ASOF join matches nothing on NULL, but
    // Window.partitionBy groups NULLs together (null-key lefts would match
    // null-key rights AND pile the whole null population into one straggler
    // task) — route null-key left rows AROUND the union and drop null-key
    // rights entirely
    val leftNullKey = left.filter(col(partition).isNull)
    val leftGood = left.filter(col(partition).isNotNull)
    // a NULL right timestamp satisfies neither <= nor >= — drop the row
    // here, or nulls-first ordering would park it at the partition head
    // where the backward window happily attaches it
    val rightTagged = right
      .filter(col(partition).isNotNull && col(rightTs).isNotNull).select(
        col(partition), col(rightTs).as("__ts"), lit(0).as("__side"),
        struct(carried.map(col): _*).as("__r"))
    val leftTagged = leftGood.select(
      (left.columns.map(col).toSeq :+ col(leftTs).as("__ts") :+
        lit(1).as("__side") :+ lit(null).cast(rStruct).as("__r")): _*)
    val unioned = leftTagged.unionByName(rightTagged, allowMissingColumns = true)

    // backward: right rows (side 0) sort before left at equal __ts and the
    // frame ends at the current row ⇒ ties attach. forward mirrors it:
    // rights sort after lefts and the frame starts at the current row.
    // __r in the sort order pins right-vs-right timestamp ties.
    val wB = Window.partitionBy(col(partition))
      .orderBy(col("__ts"), col("__side"), col("__r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wF = Window.partitionBy(col(partition))
      .orderBy(col("__ts"), lit(1) - col("__side"), col("__r"))
      .rowsBetween(0, Window.unboundedFollowing)

    val withDirs = direction match {
      case "backward" =>
        unioned.withColumn("__b", last(col("__r"), ignoreNulls = true).over(wB))
      case "forward" =>
        unioned.withColumn("__f", first(col("__r"), ignoreNulls = true).over(wF))
      case "nearest" =>
        unioned
          .withColumn("__b", last(col("__r"), ignoreNulls = true).over(wB))
          .withColumn("__f", first(col("__r"), ignoreNulls = true).over(wF))
    }

    // gaps in micros (a long cast of a timestamp truncates to seconds)
    def gapB = unix_micros(col("__ts")) - unix_micros(col("__b").getField(rightTs))
    def gapF = unix_micros(col("__f").getField(rightTs)) - unix_micros(col("__ts"))
    def inTol(gap: Column): Column =
      toleranceMs.map(t => gap <= t * 1000L).getOrElse(lit(true))

    // the matched struct, or null when missing / out of tolerance; a NULL
    // left timestamp matches nothing (its struct-carry window result is
    // meaningless — the row sorted at the partition head)
    val leftOk = col("__ts").isNotNull
    val matched: Column = direction match {
      case "backward" => when(leftOk && col("__b").isNotNull && inTol(gapB), col("__b"))
      case "forward" => when(leftOk && col("__f").isNotNull && inTol(gapF), col("__f"))
      case "nearest" =>
        val bOk = leftOk && col("__b").isNotNull && inTol(gapB)
        val fOk = leftOk && col("__f").isNotNull && inTol(gapF)
        when(bOk && (!fOk || gapB <= gapF), col("__b"))
          .when(fOk, col("__f"))
    }

    val finalCols = carried.map(c => matched.getField(c).as(s"asof_$c"))
    val joined = withDirs
      .filter(col("__side") === 1)
      .select(left.columns.map(col).toSeq ++ finalCols: _*)
    // null-key left rows come back with no match, preserving left-join
    // row semantics
    val passThrough = leftNullKey.select(
      left.columns.map(col).toSeq ++ carried.map(c =>
        lit(null).cast(right.schema(c).dataType).as(s"asof_$c")): _*)
    joined.unionByName(passThrough)
  }

  /** Same surface and semantics as [[asOf]], executed by the NATIVE
    * physical operator (`plans.AsOfJoinExec` via `plans.AsOfJoinPlan` +
    * `plans.AsOfJoinStrategy` — the custom-SparkPlan tier). Prefer this
    * form at scale: each side shuffles/sorts independently on the key (a
    * side already partitioned or sorted on it skips that work — the
    * union form never can), rows stay narrow through the exchange, and
    * the output keeps the LEFT side's partitioning for downstream reuse.
    * AsOfJoinNativeSpec pins native == window-form equality over dirty
    * inputs (null keys/timestamps, duplicate timestamps, every direction
    * × tolerance). */
  def asOfNative(left: DataFrame, right: DataFrame, partition: String,
      leftTs: String, rightTs: String, valueCols: Seq[String] = Seq.empty,
      direction: String = "backward",
      toleranceMs: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val spark = left.sparkSession
    require(spark.asInstanceOf[classic.SparkSession]
      .sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy),
      "asOfNative needs the native as-of planner strategy: build the " +
        "session with spark.sql.extensions=graft.GraftExtensions " +
        "(graft.GraftSession.local does)")
    val carried = (rightTs +: valueCols).distinct
    // prune + pre-filter the right side BEFORE the custom node so the
    // parquet scan reads only the joined columns (no optimizer rule
    // prunes through an unknown operator): null keys/timestamps match
    // nothing, dropping them here also keeps them out of the shuffle
    val rightPruned = right
      .filter(col(partition).isNotNull && col(rightTs).isNotNull)
      .select((partition +: carried).distinct.map(col): _*)
    val lPlan = GraftBridge.analyzed(left)
    val rPlanRaw = GraftBridge.analyzed(rightPruned)
    // Self-join safety: when both sides scan the same relation, the
    // analyzer's DeduplicateRelations renews the right subtree's
    // attribute ids but does NOT remap a custom node's expressions
    // (it only knows built-in joins). An alias Project gives the right
    // side fresh, STABLE ids: renewal rewrites the aliases' child
    // references and stops there, so the ids this node captures stay
    // valid. (Execution is additionally id-proof — the exec binds each
    // side positionally against its own child only.)
    val rPlan =
      if (lPlan.outputSet.intersect(rPlanRaw.outputSet).isEmpty) rPlanRaw
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlanRaw.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rPlanRaw)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String): Attribute = {
      val matches = p.output.filter(_.name.equalsIgnoreCase(name))
      // duplicate names (e.g. a join carrying `ts` from both sides) must
      // error like the window form's col(name) does — a silent find-first
      // would bind an arbitrary column and join plausibly-but-wrong
      if (matches.size > 1) throw new IllegalArgumentException(
        s"column $name is ambiguous: ${matches.size} attributes match " +
          s"among ${p.output.map(_.name).mkString(", ")}")
      matches.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found among ${p.output.map(_.name).mkString(", ")}"))
    }
    // the exec reads time values as raw longs (TimestampType micros) —
    // fail at call time for other types instead of a mid-job
    // ClassCastException in executor tasks (the window form accepts e.g.
    // DateType; widen here if ever needed)
    def requireTs(a: Attribute, side: String): Unit =
      require(a.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType],
        s"asOfNative needs a TimestampType $side time column, " +
          s"got ${a.dataType.simpleString} for ${a.name}")
    val lTsAttr = attr(lPlan, leftTs)
    val rTsAttr = attr(rPlan, rightTs)
    requireTs(lTsAttr, "left")
    requireTs(rTsAttr, "right")
    val carriedAttrs = carried.map(attr(rPlan, _))
    val outAttrs = carriedAttrs.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    GraftBridge.ofRows(spark, graft.plans.AsOfJoinPlan(
      lPlan, rPlan,
      Seq(attr(lPlan, partition)), Seq(attr(rPlan, partition)),
      lTsAttr, rTsAttr,
      carriedAttrs, outAttrs, direction, toleranceMs.map(_ * 1000L)))
  }
}
