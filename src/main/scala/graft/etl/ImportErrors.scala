package graft.etl

import graft.functions.Conversions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Import error side-channel (SURVEY §2.8 step 8 — `ImportResult`,
  * Import/ImportResult.cs; per-row warnings accumulate without aborting
  * the batch, hard failures abort): the columnar analog is a second
  * DataFrame of (row key, column, raw value, message) produced from the
  * same staging scan — Spark's PERMISSIVE-mode philosophy applied to the
  * conversion layer.
  *
  * A cell errors when the raw value is present (non-null, non-marker) but
  * its typed conversion yields null. Both frames derive from one scan;
  * Catalyst shares the underlying columns, and the error frame is lazy —
  * pipelines that ignore it pay nothing.
  */
object ImportErrors {

  /** One typed conversion: target column name, converter, description. */
  final case class Conv(column: String, convert: Column => Column, kind: String)

  /** Typed view: applies each conversion in place (columns not listed stay
    * raw strings). */
  def typed(staging: DataFrame, convs: Seq[Conv]): DataFrame =
    convs.filter(c => staging.columns.contains(c.column))
      .foldLeft(staging) { (df, c) =>
        df.withColumn(c.column, c.convert(col(c.column)))
      }

  /** Error channel: one row per failed cell. */
  def errors(staging: DataFrame, convs: Seq[Conv], rowKey: String): DataFrame = {
    val present = convs.filter(c => staging.columns.contains(c.column))
    val errStructs = present.map { c =>
      val raw = col(c.column)
      val hasRaw = raw.isNotNull && length(trim(raw)) > 0 &&
        raw =!= Conversions.NullToken && raw =!= Conversions.IgnoreToken
      // list conversions drop unparseable ELEMENTS rather than yielding
      // null, so element loss is the failure signal there
      val failed = c.convert(raw) match {
        case conv if c.kind.startsWith("array") =>
          hasRaw && (conv.isNull || size(conv) =!= size(split(raw, "[,;]")))
        case conv => hasRaw && conv.isNull
      }
      when(failed, struct(
        lit(c.column).as("column"),
        raw.as("raw_value"),
        lit(s"cannot convert to ${c.kind}").as("message")))
    }
    staging
      .select(col(rowKey).as("row_key"),
        explode(filter(array(errStructs: _*), s => s.isNotNull)).as("e"))
      .select(col("row_key"), col("e.column").as("column"),
        col("e.raw_value").as("raw_value"), col("e.message").as("message"))
  }
}
