package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Landed snapshots (q260's bucketed customer table, q269/q270's SCD2
  * dimension), the SCD2 fresh-key offset, FileGate's scratch layouts
  * (q240's bucketed tables, q244's compacted files) and ExportCapstone's
  * out/deploy/zip paths belong to ONE source
  * dir: a second dir with the same basename in the same session must
  * land and read its own data, never the first dir's. */
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

  test("q240/q244 scratch layouts are keyed by the canonical source dir") {
    val a = TestSpark.sfDir
    // a second dir with the SAME basename holding the even order keys and
    // even event ids only
    val root = java.nio.file.Files.createTempDirectory("graft_gate_key").toFile
    val b = new java.io.File(root, new java.io.File(a).getName).getPath
    def copy(t: String, keep: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"$a/$t.parquet").filter(keep)
        .write.parquet(s"$b/$t.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    def eventsAgg(dir: String) = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    try {
      copy("lineitem", col("l_orderkey") % 2 === 0)
      copy("orders", col("o_orderkey") % 2 === 0)
      copy("events", col("event_id") % 2 === 0)
      // both dirs construct (and so write their layouts) before either
      // frame is read
      val built = Seq(a, b).map(d => (d,
        etl.FileGate.bucketedSla(spark, d), etl.FileGate.compaction(spark, d)))
      val expected = Seq(a, b).map(d =>
        (rows(reports.Audits.slaPercentiles(spark, d)), rows(eventsAgg(d))))
      assert(expected(0) != expected(1), "the two dirs must differ")
      built.zip(expected).foreach { case ((d, q240, q244), (q217, agg)) =>
        assert(rows(q240) == q217, s"q240 on $d diverged from its q217")
        assert(rows(q244) == agg, s"q244 on $d diverged from its events")
      }
    } finally {
      val key = etl.SheetStage.sourceKey(b)
      Seq("graft_li_bucketed", "graft_ord_bucketed")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}_$key"))
      Seq(new java.io.File(s"/tmp/graft_gate/$key"), root)
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
  }

  test("ExportCapstone's out, deploy and zip paths are keyed by the " +
      "canonical source dir") {
    import scala.jdk.CollectionConverters._
    val a = TestSpark.sfDir
    // a second dir with the SAME basename holding the even orders only
    val root = java.nio.file.Files.createTempDirectory("graft_export_key").toFile
    val b = new java.io.File(root, new java.io.File(a).getName).getPath
    def copy(t: String, keep: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"$a/$t.parquet").filter(keep)
        .write.parquet(s"$b/$t.parquet")
    /** Order keys of the files the capstone deployed for `d`. */
    def deployedKeys(d: String): Set[Long] =
      etl.Deploy.outputFiles(etl.SheetStage.dirFor(d, "export_capstone") + "/deploy")
        .flatMap { f =>
          val lines = java.nio.file.Files.readAllLines(f).asScala.toSeq
          val at = lines.head.split(',').indexOf("o_orderkey")
          lines.tail.map(_.split(',')(at).toLong)
        }.toSet
    try {
      Seq("customer", "nation", "region").foreach(copy(_, lit(true)))
      copy("orders", col("o_orderkey") % 2 === 0)
      // both dirs export (and so deploy) before either deploy is read
      val exported = Seq(a, b).map(d => d -> etl.ExportCapstone
        .exportCapstone(spark, d).select("o_orderkey").collect()
        .map(_.getLong(0)).toSet)
      assert(exported(0)._2 != exported(1)._2, "the two dirs must differ")
      exported.foreach { case (d, keys) =>
        assert(deployedKeys(d) == keys,
          s"the files deployed for $d are not its exported orders")
      }
    } finally {
      val key = etl.SheetStage.sourceKey(b)
      Seq(new java.io.File(s"/tmp/graft_gate/$key"), root)
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
  }
}
