package graft.etl

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch segmentation contract (SURVEY §2.8 step 3 / §2.9 —
  * `ImportDataSegmenter` BATCHSIZE=100, ImportDataSegmenter.cs:95,221-264;
  * exporter PageSize=100, DataExporter.cs:136): deterministic segment
  * assignment over a sorted key, with the reference's paging metadata
  * (segment index / total segments / is-last).
  *
  * At scale the physical per-100-row loop is replaced by partition sizing
  * (`maxRecordsPerFile`, SURVEY §4) — this operator exists for consumers
  * that need the reference's numbered-segment contract (resumable loads,
  * per-segment files, progress reporting).
  */
object Segmenter {

  /** Attach a 0-based `posCol` numbering rows in their CURRENT partition
    * order (partition 0 first): one count pass groups rows by
    * `spark_partition_id`, the |partitions| counts prefix-sum on the
    * driver, and each row's position is its partition's offset plus the
    * partition-local index — fully distributed, no window, no
    * single-partition exchange. The frame is pinned (`Ckpt`) first
    * because the count pass and the data pass must see the same
    * row-to-partition layout (a recomputed range shuffle can re-sample
    * different bounds).
    *
    * The local index is decoded from `monotonically_increasing_id()`
    * (= partitionId·2³³ + within-partition counter, evaluated directly
    * on the pinned scan), so the whole position projection stays inside
    * whole-stage codegen — the former `rdd.zipWithIndex` round trip
    * de/re-encoded every row through Row objects and planted a plan
    * barrier that blocked codegen for every downstream consumer. A
    * partition would need 2³³ (≈8.6 B) rows to overflow the local
    * counter; such a partition (≳ hundreds of GB) is far past every
    * other per-partition limit in Spark. ExportDeploySpec pins that
    * layout, so a Spark upgrade that changes it fails loudly. `posCol`
    * is non-nullable. */
  private[graft] def zipPosition(df: DataFrame, posCol: String): DataFrame = {
    val pinned = graft.Ckpt(df)
    val counts = pinned.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = new Array[Long](
      counts.lastOption.map(_._1 + 1).getOrElse(0))
    var acc = 0L
    counts.foreach { case (pid, n) => offsets(pid) = acc; acc += n }
    val pos = element_at(typedLit(offsets.toSeq), spark_partition_id() + 1) +
      monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))
    pinned.withColumn(posCol,
      GraftBridge.column(AssertNotNull(GraftBridge.expression(pos))))
  }

  /** Attach a 0-based `posCol` in `orderBy` order (a TOTAL order for
    * reproducible positions): range-partition by the order columns, sort
    * within partitions, then [[zipPosition]] — the cluster-safe form of
    * a global row_number (the former single-partition window, retired
    * with the q51 whitelist entry; same two-pass shape as
    * `Upsert.numberInserts`). */
  def withPosition(df: DataFrame, orderBy: Seq[Column], posCol: String): DataFrame =
    zipPosition(
      df.repartitionByRange(orderBy: _*).sortWithinPartitions(orderBy: _*),
      posCol)

  /** Attach `segment_index` (0-based) by position in `orderBy` order —
    * the reference's numbered-segment contract, distributed via
    * [[withPosition]] (range shuffle + per-partition sort; no global
    * window). */
  def byPosition(df: DataFrame, orderBy: Seq[Column], segmentSize: Int): DataFrame =
    withPosition(df, orderBy, "__graft_pos")
      .withColumn("segment_index",
        (col("__graft_pos") / segmentSize).cast("long"))
      .drop("__graft_pos")

  /** Segment metadata frame: per-segment row count and key bounds —
    * CurrentSegment/TotalSegments analog as data. */
  def segmentStats(segmented: DataFrame, keyCol: String): DataFrame =
    segmented.groupBy(col("segment_index"))
      .agg(count(lit(1)).as("cnt"),
        min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"))
      .orderBy(col("segment_index"))
}
