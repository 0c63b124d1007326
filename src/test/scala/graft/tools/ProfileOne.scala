package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only profiling main (test scope — never ships in the library jar):
  * runs one registered query at a given SF dir and prints per-Spark-job
  * wall times plus the total, so floor-vs-data cost decomposes per query.
  * Usage: Test/runMain graft.tools.ProfileOne <sfDir> <queryToken> [reps]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val token = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    val starts = scala.collection.mutable.Map[Int, (String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), System.nanoTime())
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (d, t0) =>
          jobs += ((j.jobId, d, System.nanoTime() - t0)) }
    })
    val q = graft.Registry.all.find(_.name.startsWith(token))
      .getOrElse(sys.error(s"no query matching $token"))
    // warmup
    q.run(spark, sfDir).queryExecution.toRdd.count()
    for (r <- 1 to reps) {
      jobs.clear()
      val t0 = System.nanoTime()
      q.run(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"== rep $r total $total%.3f s, ${jobs.size} jobs ==")
      jobs.sortBy(-_._3).take(12).foreach { case (id, d, ns) =>
        println(f"  job $id%3d ${ns / 1e9}%7.3f s  ${d.take(90)}")
      }
    }
    spark.stop()
  }
}
