package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Landed snapshots (q260's bucketed customer table, q269/q270's SCD2
  * dimension) and the SCD2 fresh-key offset belong to ONE source dir:
  * a second dir with the same basename in the same session must land
  * and read its own data, never the first dir's. */
class LandingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q260/q269 landings are keyed by the canonical source dir, not " +
      "its basename") {
    val a = TestSpark.sfDir
    // land both on the shared fixture first, as an earlier query would
    etl.EtlQueries.upsertCustomersBucketed(spark, a).count()
    etl.EtlQueries.scd2Merge(spark, a).count()

    // a second dir with the SAME basename holding the even customers only
    val root = java.nio.file.Files.createTempDirectory("graft_landing").toFile
    val b = new java.io.File(root, new java.io.File(a).getName).getPath
    try {
      Tables.customer(spark, a).filter(col("c_custkey") % 2 === 0)
        .write.parquet(s"$b/customer.parquet")
      val even = spark.read.parquet(s"$b/customer.parquet")
        .select("c_custkey").collect().map(_.getLong(0)).toSet
      assert(even.nonEmpty)

      val q26 = etl.EtlQueries.upsertCustomers(spark, b).collect()
      val q260 = etl.EtlQueries.upsertCustomersBucketed(spark, b).collect()
      assert(q260.map(_.toSeq).toSeq == q26.map(_.toSeq).toSeq,
        "q260 on the second dir diverged from q26 there")

      val maxKey = even.max
      val keys = etl.EtlQueries.scd2Merge(spark, b)
        .select("c_custkey").distinct().collect().map(_.getLong(0)).toSet
      assert(keys.filter(_ <= maxKey) == even,
        "q269's non-fresh keys are not the second dir's customers")
      assert(keys.filter(_ > maxKey) ==
        even.filter(_ % 500 == 0).map(_ + maxKey + 1),
        "q269's fresh keys are not offset above the second dir's max")
    } finally {
      val key = etl.SheetStage.sourceKey(b)
      Seq("graft_cust_bucketed", "graft_scd2_dim")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}_$key"))
      Seq(new java.io.File(s"/tmp/graft_gate/$key"), root)
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
  }
}
