package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only cold-run profiler (test scope): reproduces the Bench session
  * (GraftSession.local + prepare: warmup and layout staging) and times the FIRST
  * in-session execution of each named query — the number Bench reports
  * for ChainCache-memoized owners — decomposed into Spark jobs with task
  * counts, so per-task fixed cost vs data cost separates.
  * Usage: Test/runMain graft.tools.ColdProfile <sfDir> <tok1,tok2,...>
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_CONF (extra confs).
  */
object ColdProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tokens = args(1).split(',').map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    graft.GraftSession.prepare(spark, sfDir)

    val jobs = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Int)]()
    val starts = scala.collection.mutable.Map[Int, (String, Long)]()
    val taskCount = new java.util.concurrent.atomic.AtomicInteger()
    val jobTasks = scala.collection.mutable.Map[Int, Int]()
    val stageToJob = scala.collection.mutable.Map[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
        starts(j.jobId) = (site, System.nanoTime())
        j.stageIds.foreach(sid => stageToJob(sid) = j.jobId)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet()
        stageToJob.get(t.stageId).foreach { jid =>
          jobTasks(jid) = jobTasks.getOrElse(jid, 0) + 1
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (d, t0) =>
          jobs += ((j.jobId, d, System.nanoTime() - t0,
            jobTasks.getOrElse(j.jobId, 0))) }
    })

    for (token <- tokens) {
      val q = graft.Registry.all.find(_.name.startsWith(token))
        .getOrElse(sys.error(s"no query matching $token"))
      jobs.clear(); jobTasks.clear(); taskCount.set(0)
      val t0 = System.nanoTime()
      q.run(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      val nTasks = taskCount.get()
      val jobSum = jobs.map(_._3).sum / 1e9
      println(f"== ${q.name} COLD total $total%.3f s, ${jobs.size} jobs " +
        f"(job-time sum $jobSum%.3f s), $nTasks tasks ==")
      jobs.sortBy(-_._3).take(20).foreach { case (id, d, ns, nt) =>
        println(f"  job $id%4d ${ns / 1e9}%7.3f s  $nt%5d tasks  ${d.take(80)}")
      }
    }
    spark.stop()
  }
}
