package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Scd2

/** Driver-replay pins for the SCD2 batch merge: three sequential loads
  * over a hand-built dimension exercise every merge class — change,
  * no-op, absent key, fresh key, change-back (reopen), and NULL-valued
  * attribute transitions (null-safe comparison: NULL→NULL must NOT
  * version, NULL→value must). */
class Scd2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dim0 = Scd2.initial(
    Seq((1L, "a", Some(10)), (2L, "b", Some(20)), (3L, null.asInstanceOf[String], None))
      .toDF("k", "attr", "x"), "2020-01-01")

  test("three sequential merges: change, reopen, no-op, absent, fresh, nulls") {
    // load 1: k=1 changes attr, k=2 arrives byte-identical (no-op),
    //         k=3 absent, k=4 fresh
    val b1 = Seq((1L, "a2", Some(10)), (2L, "b", Some(20)), (4L, "d", Some(40)))
      .toDF("k", "attr", "x")
    val d1 = Scd2.merge(dim0, b1, "k", Seq("attr", "x"), "2021-01-01")
    // load 2: k=1 changes BACK (reopen), k=3's nulls go non-null
    val b2 = Seq((1L, "a", Some(10)), (3L, "c", Some(30)))
      .toDF("k", "attr", "x")
    val d2 = Scd2.merge(d1, b2, "k", Seq("attr", "x"), "2022-01-01")
    // load 3: pure no-ops for every current row — nothing may version
    val b3 = Seq((1L, "a", Some(10)), (2L, "b", Some(20)),
      (3L, "c", Some(30)), (4L, "d", Some(40))).toDF("k", "attr", "x")
    val d3 = Scd2.merge(d2, b3, "k", Seq("attr", "x"), "2023-01-01")

    val rows = d3.orderBy("k", "valid_from")
      .select("k", "attr", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)).orNull, r.getBoolean(4)))
    assert(rows.toSeq === Seq(
      (1L, "a", "2020-01-01", "2021-01-01", false),
      (1L, "a2", "2021-01-01", "2022-01-01", false),
      (1L, "a", "2022-01-01", null, true), // reopened: 3 versions
      (2L, "b", "2020-01-01", null, true), // no-op twice: 1 version
      (3L, null, "2020-01-01", "2022-01-01", false), // null→value versioned
      (3L, "c", "2022-01-01", null, true),
      (4L, "d", "2021-01-01", null, true))) // fresh key
    // exactly one current version per key, intervals chain gaplessly
    val perKey = d3.groupBy("k")
      .agg(sum(col("is_current").cast("int")).as("cur")).collect()
    assert(perKey.forall(_.getLong(1) === 1L))
  }

  test("value→NULL versions too (null-safe both directions)") {
    val d1 = Scd2.merge(dim0,
      Seq((2L, null.asInstanceOf[String], Some(20))).toDF("k", "attr", "x"),
      "k", Seq("attr", "x"), "2021-06-01")
    val k2 = d1.filter(col("k") === 2).orderBy("valid_from")
      .select("attr", "is_current").collect()
    assert(k2.map(r => (Option(r.getString(0)).orNull, r.getBoolean(1))).toSeq ===
      Seq(("b", false), (null, true)))
  }

  test("streaming dimension feed equals sequential batch merges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-stream").toString
    val b1 = Seq((1L, "a2", Some(10), "2021-01-01"),
      (2L, "b", Some(20), "2021-01-01"), (4L, "d", Some(40), "2021-01-01"))
    val b2 = Seq((1L, "a", Some(10), "2022-01-01"),
      (3L, "c", Some(30), "2022-01-01"))
    b1.toDF("k", "attr", "x", "load_date")
      .write.mode("overwrite").parquet(s"$tmp/b1")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/b*")
    val (q, snap) = graft.streaming.DimStreams.scd2Sink(
      stream, dim0, "k", Seq("attr", "x"), "load_date")
    q.processAllAvailable()
    b2.toDF("k", "attr", "x", "load_date")
      .write.mode("overwrite").parquet(s"$tmp/b2")
    q.processAllAvailable()
    q.stop()
    val batchTwin = Scd2.merge(
      Scd2.merge(dim0, b1.map(t => (t._1, t._2, t._3)).toDF("k", "attr", "x"),
        "k", Seq("attr", "x"), "2021-01-01"),
      b2.map(t => (t._1, t._2, t._3)).toDF("k", "attr", "x"),
      "k", Seq("attr", "x"), "2022-01-01")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    assert(snap().select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq ===
      batchTwin.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq)
  }

  test("mergeMulti over a multi-date batch equals sequential per-date merges") {
    // three dates in ONE batch: change / reopen / no-op / fresh / null
    // transitions, plus a fresh key whose second load is a no-op
    val multi = Seq(
      (1L, "a2", Some(10), "2021-01-01"), (2L, "b", Some(20), "2021-01-01"),
      (4L, "d", Some(40), "2021-01-01"),
      (1L, "a", Some(10), "2022-01-01"), (3L, "c", Some(30), "2022-01-01"),
      (4L, "d", Some(40), "2022-01-01"),
      (1L, "a", Some(10), "2023-01-01"), (2L, "b2", None, "2023-01-01"))
      .toDF("k", "attr", "x", "load_date")
    val folded = Seq("2021-01-01", "2022-01-01", "2023-01-01")
      .foldLeft(dim0) { (snap, d) =>
        Scd2.merge(snap,
          multi.filter(col("load_date") === d).drop("load_date"),
          "k", Seq("attr", "x"), d)
      }
    val single = Scd2.mergeMulti(dim0, multi, "k", Seq("attr", "x"), "load_date")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    assert(single.select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq ===
      folded.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq)
  }

  test("streaming: ONE micro-batch carrying several load dates merges once, " +
      "equal to sequential batch merges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-multi").toString
    val b1 = Seq((1L, "a2", Some(10), "2021-01-01"),
      (2L, "b", Some(20), "2021-01-01"), (4L, "d", Some(40), "2021-01-01"))
    val b2 = Seq((1L, "a", Some(10), "2022-01-01"),
      (3L, "c", Some(30), "2022-01-01"))
    // both dated loads land BEFORE the stream starts → drained in one
    // micro-batch (the post-downtime catch-up shape)
    b1.toDF("k", "attr", "x", "load_date")
      .write.mode("overwrite").parquet(s"$tmp/b1")
    b2.toDF("k", "attr", "x", "load_date")
      .write.mode("overwrite").parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/b*")
    val (q, snap) = graft.streaming.DimStreams.scd2Sink(
      stream, dim0, "k", Seq("attr", "x"), "load_date")
    q.processAllAvailable()
    q.stop()
    val batchTwin = Scd2.merge(
      Scd2.merge(dim0, b1.map(t => (t._1, t._2, t._3)).toDF("k", "attr", "x"),
        "k", Seq("attr", "x"), "2021-01-01"),
      b2.map(t => (t._1, t._2, t._3)).toDF("k", "attr", "x"),
      "k", Seq("attr", "x"), "2022-01-01")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    assert(snap().select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq ===
      batchTwin.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq)
  }

  test("SCD2 snapshot lands ONCE per session (partitioned layout reused, " +
      "like the q260 bucketed-upsert discipline)") {
    val sfDir = TestSpark.sfDir
    graft.etl.EtlQueries.scd2Merge(spark, sfDir).count()
    val dir = new java.io.File(etl.SheetStage.dirFor(sfDir, "scd2/customer_dim"))
    assert(dir.isDirectory, s"no landing at $dir")
    def state(): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).map(f => (f.getPath, f.lastModified)).toSet
    }
    val before = state()
    graft.etl.EtlQueries.scd2Merge(spark, sfDir).count()
    assert(state() == before,
      "second invocation re-landed the SCD2 snapshot (measured merge " +
        "passes must not pay — or redo — the landing)")
  }

  test("mergeIntoTable: two incremental merges never rewrite an existing " +
      "history file (write amplification = |current| + |closed today|) " +
      "and the table equals the in-memory merge fold") {
    val tbl = "graft_scd2_inc_spec"
    val root = "/tmp/graft_gate/scd2_inc_spec"
    Scd2.landSnapshotPartitioned(dim0, tbl, Some(root))
    val attrs = Seq("attr", "x")
    def histFiles(): Map[String, Long] = {
      val dir = new java.io.File(s"$root/is_current=false")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val b1 = Seq((1L, "a2", Some(10)), (2L, "b", Some(20)), (4L, "d", Some(40)))
      .toDF("k", "attr", "x")
    Scd2.mergeIntoTable(spark, tbl, b1, "k", attrs, "2021-01-01")
    val after1 = histFiles()
    assert(after1.nonEmpty, "merge 1 closed a version; history must exist")
    val b2 = Seq((1L, "a", Some(10)), (3L, "c", Some(30))).toDF("k", "attr", "x")
    Scd2.mergeIntoTable(spark, tbl, b2, "k", attrs, "2022-01-01")
    val after2 = histFiles()
    // every merge-1 history file survives merge 2 BYTE-UNTOUCHED (same
    // path, same mtime): closed versions only ever APPEND
    assert(after1.forall { case (p, m) => after2.get(p).contains(m) },
      s"history files rewritten:\n before=$after1\n after=$after2")
    assert(after2.size > after1.size, "merge 2 closed versions must append")
    // content: the incrementally-written table == the in-memory fold
    val expected = Scd2.merge(
      Scd2.merge(dim0, b1, "k", attrs, "2021-01-01"),
      b2, "k", attrs, "2022-01-01")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    assert(spark.table(tbl).select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq ===
      expected.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq)
  }

  test("mergeMultiIntoTable: one pass over a multi-date batch equals " +
      "sequential per-date table merges; history still append-only") {
    val attrs = Seq("attr", "x")
    val multi = Seq(
      (1L, "a2", Some(10), "2021-01-01"), (4L, "d", Some(40), "2021-01-01"),
      (1L, "a", Some(10), "2022-01-01"), (3L, "c", Some(30), "2022-01-01"))
      .toDF("k", "attr", "x", "load_date")
    // sequential per-date reference
    val seqTbl = "graft_scd2_seq_spec"
    Scd2.landSnapshotPartitioned(dim0, seqTbl, Some("/tmp/graft_gate/scd2_seq_spec"))
    for (d <- Seq("2021-01-01", "2022-01-01"))
      Scd2.mergeIntoTable(spark, seqTbl,
        multi.filter(col("load_date") === d).drop("load_date"), "k", attrs, d)
    // one-pass multi-date form
    val tbl = "graft_scd2_multi_spec"
    val root = "/tmp/graft_gate/scd2_multi_spec"
    Scd2.landSnapshotPartitioned(dim0, tbl, Some(root))
    Scd2.mergeMultiIntoTable(spark, tbl, multi, "k", attrs, "load_date")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    assert(spark.table(tbl).select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq ===
      spark.table(seqTbl).select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq)
    // a second multi-date merge leaves the first merge's history files
    // byte-untouched (append-only history under the one-pass form too)
    def histFiles(): Map[String, Long] = {
      val dir = new java.io.File(s"$root/is_current=false")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = histFiles()
    assert(before.nonEmpty)
    Scd2.mergeMultiIntoTable(spark, tbl,
      Seq((2L, "b9", Some(21), "2023-01-01")).toDF("k", "attr", "x", "load_date"),
      "k", attrs, "load_date")
    val after = histFiles()
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      s"history rewritten:\n before=$before\n after=$after")
    assert(after.size > before.size)
  }

  test("table merges are IDEMPOTENT: re-applying the same batch (the " +
      "crash-replay case) changes no content and touches no history file") {
    val attrs = Seq("attr", "x")
    val tbl = "graft_scd2_idem_spec"
    val root = "/tmp/graft_gate/scd2_idem_spec"
    Scd2.landSnapshotPartitioned(dim0, tbl, Some(root))
    val batch = Seq((1L, "a2", Some(10), "2021-01-01"),
      (4L, "d", Some(40), "2021-01-01")).toDF("k", "attr", "x", "load_date")
    Scd2.mergeMultiIntoTable(spark, tbl, batch, "k", attrs, "load_date")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    def content() = spark.table(tbl).select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq
    def histFiles(): Map[String, Long] = {
      val dir = new java.io.File(s"$root/is_current=false")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val (c1, h1) = (content(), histFiles())
    // replay: every batch row is now byte-identical to its current
    // version, so nothing versions — foreachBatch redelivery after a
    // checkpoint-recovery is safe
    Scd2.mergeMultiIntoTable(spark, tbl, batch, "k", attrs, "load_date")
    assert(content() === c1)
    assert(histFiles() === h1, "replay appended duplicate closed versions")
  }

  test("table-backed streaming sink: a catch-up micro-batch with several " +
      "load dates lands in the table equal to the batch fold") {
    val attrs = Seq("attr", "x")
    val tbl = "graft_scd2_sink_spec"
    Scd2.landSnapshotPartitioned(dim0, tbl, Some("/tmp/graft_gate/scd2_sink_spec"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-tsink").toString
    val b1 = Seq((1L, "a2", Some(10), "2021-01-01"),
      (2L, "b", Some(20), "2021-01-01"), (4L, "d", Some(40), "2021-01-01"))
    val b2 = Seq((1L, "a", Some(10), "2022-01-01"),
      (3L, "c", Some(30), "2022-01-01"))
    b1.toDF("k", "attr", "x", "load_date")
      .write.mode("overwrite").parquet(s"$tmp/b1")
    b2.toDF("k", "attr", "x", "load_date")
      .write.mode("overwrite").parquet(s"$tmp/b2")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/b*")
    val q = graft.streaming.DimStreams.scd2TableSink(
      stream, tbl, "k", attrs, "load_date")
    q.processAllAvailable()
    q.stop()
    val batchTwin = Scd2.merge(
      Scd2.merge(dim0, b1.map(t => (t._1, t._2, t._3)).toDF("k", "attr", "x"),
        "k", attrs, "2021-01-01"),
      b2.map(t => (t._1, t._2, t._3)).toDF("k", "attr", "x"),
      "k", attrs, "2022-01-01")
    val cols = Seq("k", "attr", "x", "valid_from", "valid_to", "is_current")
    assert(spark.table(tbl).select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq ===
      batchTwin.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq)
  }

  test("asOfCondition picks the version valid at the fact date") {
    val d1 = Scd2.merge(dim0,
      Seq((1L, "a2", Some(10))).toDF("k", "attr", "x"),
      "k", Seq("attr", "x"), "2021-01-01")
    val fact = Seq((1L, "2020-06-15"), (1L, "2021-01-01"), (1L, "2025-01-01"))
      .toDF("fk", "od")
    val got = fact.join(d1, Scd2.asOfCondition(fact, d1, "fk", "k", "od"))
      .orderBy("od").select("od", "attr").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // half-open: the batch-date fact already sees the NEW version
    assert(got.toSeq === Seq(
      ("2020-06-15", "a"), ("2021-01-01", "a2"), ("2025-01-01", "a2")))
  }
}
