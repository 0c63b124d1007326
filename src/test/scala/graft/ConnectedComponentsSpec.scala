package graft

import graft.text.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Min-label connected components: chains (multi-hop propagation),
  * triangles, isolated nodes, and cross-partition merge. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] =
    Dedup.connectedComponents(
        edges.toDF("src", "dst"), nodes.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain propagates the minimum across many hops") {
    // 0-1-2-...-19 single chain: everything labels to 0
    val edges = (0L until 19L).map(i => (i, i + 1))
    val got = cc(edges, 0L to 19L)
    assert(got.values.toSet == Set(0L))
  }

  test("separate components and isolated nodes keep distinct labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val got = cc(edges, Seq(1L, 2L, 3L, 10L, 11L, 99L))
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(99L) == 99L)
  }

  test("triangle + bridge merges into one component") {
    val edges = Seq((5L, 6L), (6L, 7L), (7L, 5L), (7L, 2L))
    val got = cc(edges, Seq(2L, 5L, 6L, 7L))
    assert(got.values.toSet == Set(2L))
  }

  test("long chain across partitions (pointer jumping converges)") {
    val n = 200L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(
        edges.toDF("src", "dst").repartition(16),
        (0L until n).toDF("id").repartition(16))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
  }

  test("no fixpoint within maxIter fails loudly instead of returning " +
      "unconverged labels") {
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, (0L to 19L).toDF("id"), maxIter = 1)
    }
    assert(e.getMessage.contains("1 steps"), e.getMessage)
  }
}
