package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** q226: mergeSchema reader semantics — the unioned schema surfaces, and
  * rows written before the column existed read back NULL-filled. */
class SchemaMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("merged read carries the evolved column; pre-evolution rows are " +
      "null-filled, post-evolution rows keep their values") {
    etl.FileGate.schemaMergeRead(spark, TestSpark.sfDir).collect() // write gens
    val base = etl.SheetStage.dirFor(TestSpark.sfDir, "schema_merge")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
    assert(merged.columns.contains("o_orderpriority"),
      "evolved column missing from merged schema")
    val v1Nulls = merged.filter(col("o_orderstatus") === "F")
      .filter(col("o_orderpriority").isNotNull).count()
    assert(v1Nulls == 0, "pre-evolution rows must be null-filled")
    val v2NonNull = merged.filter(col("o_orderstatus") =!= "F")
      .filter(col("o_orderpriority").isNull).count()
    assert(v2NonNull == 0, "post-evolution rows lost their values")
    // row accounting: merged == source
    val src = Tables.orders(spark, TestSpark.sfDir).count()
    assert(merged.count() == src)
  }
}
