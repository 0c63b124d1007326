package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (per the reference's single
  * in-memory DB fixture; also keeps sbt test wall-time sane), built like
  * Bench's and Verify's, so specs plan under the same extensions. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
