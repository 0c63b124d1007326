package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

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
    // written on the listener thread, read on this one after a drain
    val jobs = new ConcurrentLinkedQueue[(Int, String, Long)]()
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), System.nanoTime()))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (d, t0) =>
          jobs.add((j.jobId, d, System.nanoTime() - t0)) }
    })
    val q = graft.Registry.all.find(_.name.startsWith(token))
      .getOrElse(sys.error(s"no query matching $token"))
    // warmup
    q.run(spark, sfDir).queryExecution.toRdd.count()
    for (r <- 1 to reps) {
      GraftBridge.drainListenerBus(spark.sparkContext)
      jobs.clear()
      val t0 = System.nanoTime()
      q.run(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark.sparkContext)
      val done = jobs.asScala.toSeq
      println(f"== rep $r total $total%.3f s, ${done.size} jobs ==")
      done.sortBy(-_._3).take(12).foreach { case (id, d, ns) =>
        println(f"  job $id%3d ${ns / 1e9}%7.3f s  ${d.take(90)}")
      }
    }
    spark.stop()
  }
}
