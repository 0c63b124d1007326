package graft.tools

/** Measures the per-job Spark floor on the bench configuration
  * (local[32], 32 shuffle partitions) — the fixed scheduling/codegen
  * cost a query pays PER JOB regardless of data size. Quantifies the
  * bench-floor honesty note (verdict r18 item 8): at sf0.1 most oracles
  * are ms-scale in DuckDB, so an engine query that launches J jobs has a
  * hard floor of ~J × this number, which is what the >2×-per-query
  * census mostly measures — amortized away at real scale, where job
  * setup is fixed but data cost grows.
  *
  * Three shapes, median of 21 runs each after 5 warmups:
  *  - one-stage: 32 empty-ish tasks, no shuffle (scheduling floor)
  *  - two-stage: one 32→32 shuffle (the minimum groupBy/join shape)
  *  - collect1:  a 1-row driver read (the bounded-collect floor)
  *
  * Usage: Test/runMain graft.tools.FloorProbe
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(n)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def probe(name: String)(f: => Unit): Unit = {
      (1 to 5).foreach(_ => f)
      val ts = (1 to 21).map(_ => time(f))
      println(f"$name%-10s median ${median(ts)}%.4f s  min ${ts.min}%.4f  max ${ts.max}%.4f")
    }

    probe("one-stage") {
      spark.range(0, n, 1, n).queryExecution.toRdd.count()
    }
    probe("two-stage") {
      spark.range(0, 100L * n, 1, n)
        .selectExpr("id % 97 AS k").groupBy("k").count()
        .queryExecution.toRdd.count()
    }
    probe("collect1") {
      spark.range(0, 100L * n, 1, n).agg(Map("id" -> "max")).head()
    }
    spark.stop()
  }
}
