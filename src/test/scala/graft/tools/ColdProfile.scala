package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge

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

    // written on the listener thread, read on this one after a drain
    val jobs = new ConcurrentLinkedQueue[(Int, String, Long, Int)]()
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    val taskCount = new AtomicInteger()
    val jobTasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
        starts.put(j.jobId, (site, System.nanoTime()))
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet()
        Option(stageToJob.get(t.stageId)).foreach { jid =>
          jobTasks.computeIfAbsent(jid, _ => new AtomicInteger).incrementAndGet()
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (d, t0) =>
          jobs.add((j.jobId, d, System.nanoTime() - t0,
            Option(jobTasks.get(j.jobId)).map(_.get).getOrElse(0))) }
    })

    for (token <- tokens) {
      val q = graft.Registry.all.find(_.name.startsWith(token))
        .getOrElse(sys.error(s"no query matching $token"))
      GraftBridge.drainListenerBus(spark.sparkContext)
      jobs.clear(); jobTasks.clear(); taskCount.set(0)
      val t0 = System.nanoTime()
      q.run(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark.sparkContext)
      val done = jobs.asScala.toSeq
      val nTasks = taskCount.get()
      val jobSum = done.map(_._3).sum / 1e9
      println(f"== ${q.name} COLD total $total%.3f s, ${done.size} jobs " +
        f"(job-time sum $jobSum%.3f s), $nTasks tasks ==")
      done.sortBy(-_._3).take(20).foreach { case (id, d, ns, nt) =>
        println(f"  job $id%4d ${ns / 1e9}%7.3f s  $nt%5d tasks  ${d.take(80)}")
      }
    }
    spark.stop()
  }
}
