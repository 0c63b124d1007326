package graft

import graft.etl.Upsert
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Upsert-loader semantics (SURVEY §2.8, §7.4 risk 1/3) — key-priority
  * resolution with deterministic first-match, [NULL]/[IGNORE] markers,
  * new-row-only defaults, update-only mode — property-tested against the
  * reference's row-at-a-time contract on small frames. */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // snapshot: products with id, sku, name, display_order
  private def snapshot = Seq(
    (1L, "A-1", "Alpha", 2),
    (2L, "A-1", "AlphaDup", 1),   // duplicate sku; first match = lower (display_order, id)
    (3L, "B-2", "Beta", 1),
    (4L, null.asInstanceOf[String], "NoSku", 1)
  ).toDF("id", "sku", "name", "display_order")

  private val cfg = Upsert.Config(
    surrogate = "id",
    keyPriority = Seq("id", "sku", "name"),
    tiebreak = Seq("display_order"),
    requiredForInsert = Some("name"))

  test("key priority: id beats sku beats name; first match by (display_order, id)") {
    val incoming = Seq[(java.lang.Long, String, String)](
      (3L, null, "renamed-by-id"),
      (null, "A-1", "renamed-by-sku"),
      (null, null, "Beta")
    ).toDF("id", "sku", "name")
    val resolved = Upsert.resolve(snapshot, incoming, cfg)
      .select(col("name"), col(Upsert.ResolvedCol)).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(resolved("renamed-by-id") == 3L)
    assert(resolved("renamed-by-sku") == 2L)  // display_order 1 beats id 1's 2
    assert(resolved("Beta") == 3L)            // fell through sku → matched by name
  }

  test("insert gets surrogate above max; updateOnly drops inserts; name required") {
    val incoming = Seq(
      ("C-3", "Gamma"),
      ("D-4", null.asInstanceOf[String])     // no name → cannot insert
    ).toDF("sku", "name")
    val merged = Upsert.upsert(snapshot, incoming, cfg)
    val names = merged.select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(names(5L) == "Gamma")             // max(4) + 1
    assert(merged.count() == 5)              // D-4 skipped (no name)
    val updOnly = Upsert.upsert(snapshot, incoming, cfg.copy(updateOnly = true))
    assert(updOnly.count() == 4)
  }

  test("[NULL] forces null, [IGNORE] keeps existing, defaults only for new rows") {
    val incoming = Seq[(java.lang.Long, String, String)](
      (1L, "[NULL]", "[IGNORE]"),
      (null, "E-5", "Epsilon")
    ).toDF("id", "sku", "name")
    val cfg2 = cfg.copy(defaults = Map("display_order" -> 99))
    val merged = Upsert.upsert(snapshot, incoming, cfg2)
    val rows = merged.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).isNullAt(1))                       // [NULL] → null sku
    assert(rows(1L).getString(2) == "Alpha")           // [IGNORE] → kept name
    assert(rows(1L).getInt(3) == 2)                    // existing default kept
    assert(rows(5L).getString(2) == "Epsilon")
    assert(rows(5L).getInt(3) == 99)                   // new-row default applied
  }

  test("deleteWhere keeps non-matching rows") {
    val out = Upsert.deleteWhere(snapshot, col("sku") === "A-1")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("insert surrogates: dense above max, in key order, across multiple " +
      "range partitions (cluster-safe numbering path)") {
    val snap = (1L to 50L).map(i => (i, f"sku$i%04d", s"n$i"))
      .toDF("id", "sku", "name")
    // 500 inserts — forces the range shuffle across all 4 test partitions
    val inc = (1 to 500).map(i => (f"zz$i%04d", s"new$i")).toDF("sku", "name")
    val out = Upsert.upsert(snap, inc,
      Upsert.Config(surrogate = "id", keyPriority = Seq("sku"),
        requiredForInsert = Some("name")))
    val news = out.filter(col("id") > 50L).orderBy(col("id"))
      .select(col("id"), col("sku")).collect()
    assert(news.length == 500)
    assert(news.map(_.getLong(0)).toSeq == (51L to 550L), "not dense above max")
    // surrogate rank must equal the key order — the contract the old
    // single-partition window provided
    assert(news.map(_.getString(1)).toSeq ==
      (1 to 500).map(i => f"zz$i%04d"), "surrogates not in key order")
  }

  test("bucketed snapshot: upsert values identical to the raw-parquet " +
      "path (the q260 layout must change the plan, never the data)") {
    val sfDir = TestSpark.sfDir
    val raw = etl.EtlQueries.upsertCustomers(spark, sfDir).collect()
    val bucketed = etl.EtlQueries.upsertCustomersBucketed(spark, sfDir).collect()
    assert(raw.length == bucketed.length)
    assert(raw.map(_.toSeq).toSeq == bucketed.map(_.toSeq).toSeq,
      "bucketed-snapshot upsert diverged from the raw path")
  }

  test("bucketed snapshot lands ONCE per session: a second q260 " +
      "invocation reuses the table instead of re-overwriting it") {
    val sfDir = TestSpark.sfDir
    etl.EtlQueries.upsertCustomersBucketed(spark, sfDir).count()
    val dir = new java.io.File(etl.SheetStage.dirFor(sfDir, "bucketed/customer"))
    assert(dir.isDirectory, s"no landing at $dir")
    def state() = dir.listFiles().map(f => (f.getName, f.lastModified)).toSet
    val before = state()
    etl.EtlQueries.upsertCustomersBucketed(spark, sfDir).count()
    assert(state() == before,
      "second invocation rewrote the bucketed snapshot (measured merge " +
        "passes must not pay — or redo — the landing)")
  }
}
