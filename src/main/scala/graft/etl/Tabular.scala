package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S3: extension-dispatch tabular materializer (SURVEY §2.1 —
  * `LightweightDataTable.FromFile`, LightweightDataTable.cs:96-151): the
  * reference's one entry point that inspects the file extension and hands
  * `.xlsx` to the Excel reader and everything else to the CSV reader,
  * with a row `skip`/`take` window applied uniformly to whichever reader
  * ran. Both readers stage UNTYPED (all-string) columns; conversion
  * happens lazily per access (`functions.Conversions`), exactly like the
  * reference's untyped table. */
object Tabular {

  /** Dispatch by extension (case-insensitive, the reference's
    * `Path.GetExtension` check). `skip`/`take` ride in `cfg` for CSV and
    * are applied by the shared window for Excel, so both paths honor the
    * same `FromFile(skip, take)` contract. */
  def fromFile(spark: SparkSession, path: String,
      cfg: CsvConfig = CsvConfig()): DataFrame =
    if (path.toLowerCase(java.util.Locale.ROOT).endsWith(".xlsx"))
      skipTake(ExcelSource.read(spark, path,
        ExcelSource.ExcelConfig(
          hasHeaders = cfg.hasHeader,
          defaultColumnPrefix = cfg.defaultColumnPrefix)),
        cfg.skip, cfg.take)
    else
      CsvSource.read(spark, path, cfg)

  /** The reference's positional window over file order, distributed:
    * rows number in SCAN order via `Segmenter.zipPosition` (per-partition
    * counts prefix-summed on the driver — no global window, no
    * single-partition exchange). Used for the Excel path, whose parsed
    * frame carries no `_metadata`; the CSV reader's skip/take orders
    * per-file by path instead (`CsvSource.read`). */
  private[etl] def skipTake(df: DataFrame, skip: Int, take: Option[Int]): DataFrame =
    if (skip <= 0 && take.isEmpty) df
    else {
      var out = Segmenter.zipPosition(df, "__graft_pos")
        .filter(col("__graft_pos") >= skip.toLong)
      take.foreach(t => out = out.filter(col("__graft_pos") < skip.toLong + t))
      out.drop("__graft_pos")
    }
}

/** Once-per-JVM staging guard for the import fixtures: the sheets derive
  * DETERMINISTICALLY from the source tables (one fixed derivation per
  * (sfDir, sheet) key), so rewriting them on every invocation — four
  * bench passes × several queries sharing a sheet — is pure redundant
  * I/O. First call in a process writes, later calls return the path
  * (the mtime-keyed fixture discipline of FileGate/stageLayout, scoped
  * to process lifetime because the derivation inputs are immutable for
  * a round). */
private[graft] object SheetStage {
  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def once(path: String)(write: String => Unit): String = {
    if (!done.contains(path)) synchronized {
      if (!done.contains(path)) {
        write(path)
        done.add(path): Unit
      }
    }
    path
  }

  /** Identifier of a source dir for everything landed from it (staged
    * sheets, landed catalog tables, per-dir offsets): its sanitized
    * basename plus a hash of its CANONICAL path, so two source dirs whose
    * basenames collide (`/a/sf1` vs `/b/sf1`, or `sf.1` vs `sf_1` after
    * sanitization) never share a landing and the second never silently
    * reads the first's data. Mirrors the `src=` binding
    * `Tables.stageLayout` stamps on layout copies. Letters, digits and
    * `_` only, so it is also a valid table-name suffix. */
  def sourceKey(srcDir: String): String = {
    val canonical = new java.io.File(srcDir).getCanonicalPath
    val base = new java.io.File(canonical).getName
      .replaceAll("[^A-Za-z0-9]", "_")
    val hash = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(canonical))
    s"${base}_$hash"
  }

  /** Landing path for a (source dir, name) pair — also the once-per-JVM
    * done-set key of staged sheets. */
  def dirFor(srcDir: String, name: String): String =
    s"/tmp/graft_gate/${sourceKey(srcDir)}/$name"
}
