package graft

import org.apache.spark.sql.classic
import org.scalatest.funsuite.AnyFunSuite

/** The spec session is Bench's and Verify's session: same confs as
  * `GraftSession.local`, same injected rules and strategies. */
class GraftSessionSpec extends AnyFunSuite {

  // a fresh session of the shared context: the confs TestSpark was built
  // with, without the runtime conf changes or `experimental` hooks other
  // specs may have left on TestSpark.spark itself
  private lazy val fresh = TestSpark.spark.newSession()
  private def state = fresh.asInstanceOf[classic.SparkSession].sessionState

  test("TestSpark carries GraftSession.local(4)'s session confs") {
    val expected = GraftSession.confs(4).toMap
    // Spark-owned entries (app id/name, driver host/port, master, JVM
    // options, warehouse dir) differ per process and are not ours
    val got = fresh.conf.getAll.filter { case (k, _) =>
      expected.contains(k) || k.startsWith("spark.graft.") ||
        (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir")
    }
    assert(got == expected)
  }

  test("the optimizer batches include the injected rewrites") {
    val rules = state.optimizer.batches.flatMap(_.rules).toSet
    assert(rules.contains(plans.RangeJoinRewrite))
  }

  test("the planner strategies include the native as-of join") {
    // GraftSession.local's own session and a newSession() of it: the
    // strategy comes from GraftExtensions, never a runtime experimental hook
    for (s <- Seq(TestSpark.spark, fresh)) {
      val c = s.asInstanceOf[classic.SparkSession]
      assert(c.sessionState.planner.strategies.contains(plans.AsOfJoinStrategy))
      assert(!c.experimental.extraStrategies.contains(plans.AsOfJoinStrategy))
    }
  }

  test("SPARK_GRAFT_CONF: key=value entries, empty entries skipped") {
    assert(GraftSession.confOverrides("") == Seq.empty)
    assert(GraftSession.confOverrides(" a.b = 1 ;; c=x=y;") ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(GraftSession.confOverrides("k=") == Seq("k" -> ""))
  }

  test("SPARK_GRAFT_CONF: an entry without '=' or with an empty key fails, " +
      "naming the entry") {
    for (bad <- Seq("spark.sql.shuffle.partitions:8", " =8")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.confOverrides(s"a=1;$bad"))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
