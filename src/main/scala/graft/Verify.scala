package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q101,q102 (query-id token match) narrows the dump
    // for local iteration; unset (the driver's invocation) dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    SparkEntry.queries
      .filter { case (n, _) => Registry.selectedBy(only, n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle map as JSON — shared by the Verify dump and
    * [[DumpOracles]] (the paired-comparator harness's cheap path). */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}

/** Write `SparkEntry.oracleSql` as JSON WITHOUT executing any query —
  * the cheap input for `tools/paired_bench.py`, which runs warm DuckDB
  * over the oracles in the same measurement window as the quiet engine
  * suite (round-16 verdict item 5: the 1.16× vs 1.29× comparator spread
  * was pure measurement-window drift). */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val Array(out) = args
    Files.writeString(Paths.get(out), Verify.oracleJson): Unit
  }
}
