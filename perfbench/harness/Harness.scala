// JVM side of the benchmark: builds the session the way graft.Bench does,
// runs one workload plan against the engine's query registry and writes
// the raw timings (and, when traced, every Spark job) as one JSON file.
// perfbench/run.py writes the plan, launches this, checks the landed
// outputs against the DuckDB oracles and turns the raw file into metrics.

package org.apache.spark.perfbench {

  import org.apache.spark.SparkContext
  import org.apache.spark.scheduler.SparkListenerEvent

  /** Posted after a traced query: once a listener sees it, every event
    * the scheduler posted before it (job and task ends) has reached that
    * listener too, because each listener queue delivers in post order. */
  final case class Marker(id: Long) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  object Bus {
    def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
  }
}

package graft.perfbench {

  import java.io.File
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{Files, Paths}
  import java.util.concurrent.ConcurrentHashMap

  import scala.collection.mutable
  import scala.jdk.CollectionConverters._

  import org.apache.spark.perfbench.{Bus, Marker}
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.{GraftBridge, SparkSession}
  import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

  /** Plan file, one directive per line:
    * `data <dir>`, `work <dir>`, `cores <n>`, `setups <n>`, `seconds <s>`,
    * `trace <0|1>`, `warm <n>`, `land <q> ...` (the landing pass: every
    * result is collected and written as parquet under `<work>/land/<q>`),
    * and any number of `pass <q> ...` lines: the first `warm` of them run
    * unmeasured, the rest are measured in order until `seconds` have
    * elapsed; a started pass always completes. */
  final case class Plan(data: String, work: String, cores: Int, setups: Int,
      seconds: Double, trace: Boolean, warm: Int, land: Seq[String],
      passes: Seq[Seq[String]])

  object Plan {
    def read(path: String): Plan = {
      val kv = mutable.Map[String, String]()
      val passes = mutable.ArrayBuffer[Seq[String]]()
      var land = Seq.empty[String]
      Files.readAllLines(Paths.get(path), UTF_8).asScala.map(_.trim).filter(_.nonEmpty)
        .foreach { line =>
          val words = line.split("\\s+").toSeq
          words.head match {
            case "pass" => passes += words.tail
            case "land" => land = words.tail
            case k => kv(k) = words.tail.mkString(" ")
          }
        }
      Plan(kv("data"), kv("work"), kv("cores").toInt, kv("setups").toInt,
        kv("seconds").toDouble, kv("trace") == "1", kv("warm").toInt, land, passes.toSeq)
    }
  }

  /** One Spark job, attributed to the query and phase that were set as
    * local properties on the thread that submitted it. */
  final class JobRec(val id: Int, val query: String, val pass: Int,
      val phase: String, val startMs: Long, val stages: Int) {
    @volatile var endMs: Long = -1L
    var tasks, failedTasks = 0
    var runMs, shuffleWrite, shuffleRead, spill, inputRows = 0L
    var cpuNs = 0L
  }

  /** Job/task accounting for traced runs. Everything it keeps is written
    * out when the run ends. */
  final class Tracer extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    @volatile var markerSeen = -1L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, prop("perfbench.query").getOrElse(""),
        prop("perfbench.pass").map(_.toInt).getOrElse(-2),
        prop("perfbench.phase").getOrElse("none"), e.time, e.stageIds.size)
      e.stageIds.foreach(s => stageJob.put(s, rec))
      jobs.put(e.jobId, rec)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      if (rec != null) rec.synchronized {
        rec.tasks += 1
        if (!e.taskInfo.successful) rec.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          rec.runMs += m.executorRunTime
          rec.cpuNs += m.executorCpuTime
          rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          rec.inputRows += m.inputMetrics.recordsRead
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val rec = jobs.get(e.jobId)
      if (rec != null) rec.endMs = e.time
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Marker(id) => markerSeen = id
      case _ => ()
    }

    def open(query: String, pass: Int): Int =
      jobs.values().asScala.count(j => j.query == query && j.pass == pass && j.endMs < 0)
  }

  object Harness {
    private val families: Seq[(String, Seq[graft.Q])] = {
      import graft._
      Seq(
        "reports.Reports" -> reports.Reports.qs, "reports.Tpch" -> reports.Tpch.qs,
        "reports.Graph" -> reports.Graph.qs, "reports.Reshape" -> reports.Reshape.qs,
        "reports.Audits" -> reports.Audits.qs,
        "operators.FilterQueries" -> operators.FilterQueries.qs,
        "etl.EtlQueries" -> etl.EtlQueries.qs, "etl.ImportCapstone" -> etl.ImportCapstone.qs,
        "etl.RelatedImport" -> etl.RelatedImport.qs,
        "etl.ImportFinalize" -> etl.ImportFinalize.qs,
        "etl.ExportCapstone" -> etl.ExportCapstone.qs, "etl.Constraints" -> etl.Constraints.qs,
        "etl.RecordLinkage" -> etl.RecordLinkage.qs, "etl.Pseudonymize" -> etl.Pseudonymize.qs,
        "etl.FileGate" -> etl.FileGate.qs, "text.TextQueries" -> text.TextQueries.qs,
        "text.SkipGram" -> text.SkipGram.qs, "text.CorpusStats" -> text.CorpusStats.qs,
        "text.Retrieval" -> text.Retrieval.qs, "text.Classifier" -> text.Classifier.qs,
        "streaming.EventQueries" -> streaming.EventQueries.qs,
        "streaming.Lifecycle" -> streaming.Lifecycle.qs,
        "similarity.SimilarityQueries" -> similarity.SimilarityQueries.qs,
        "multimodal.MultimodalQueries" -> multimodal.MultimodalQueries.qs,
        "dsl.SearchQueries" -> dsl.SearchQueries.qs, "dsl.CatalogQueries" -> dsl.CatalogQueries.qs)
    }

    private def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    private def write(path: String, s: String): Unit = {
      Files.write(Paths.get(path), s.getBytes(UTF_8)): Unit
    }

    def main(args: Array[String]): Unit = args.toSeq match {
      case Seq("list", out) => list(out)
      case Seq("run", plan, out) => run(Plan.read(plan), out)
      case _ =>
        System.err.println("usage: Harness list <out.json> | run <plan> <out.json>")
        sys.exit(2)
    }

    /** Every registered query with its module, ChainCache ownership and
      * DuckDB oracle, plus the bench-only extras (no oracle). */
    private def list(out: String): Unit = {
      val owners = graft.etl.ChainCache.ownerQueryNames
      val consumers = graft.etl.ChainCache.consumerQueryNames
      val extras = graft.Registry.benchExtras.map(_.name).toSet
      val rows = (families ++ Seq("extras" -> graft.Registry.benchExtras)).flatMap {
        case (mod, qs) => qs.map { q =>
          val memo = if (owners(q.name)) "owner" else if (consumers(q.name)) "consumer" else ""
          s"""{"name":${jstr(q.name)},"module":${jstr(mod)},"extra":${extras(q.name)},""" +
            s""""memo":${jstr(memo)},"oracle":${q.oracle.map(jstr).getOrElse("null")}}"""
        }
      }
      write(out, rows.mkString("[\n", ",\n", "\n]\n"))
    }

    private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

    private def run(plan: Plan, out: String): Unit = {
      val byName = (families.flatMap(_._2) ++ graft.Registry.benchExtras)
        .map(q => q.name -> q).toMap
      val work = new File(plan.work)
      work.mkdirs()

      // set-up, repeated: run.py reports the median as setup_s
      val setups = mutable.ArrayBuffer[String]()
      var spark: SparkSession = null
      for (k <- 0 until plan.setups) {
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val t0 = System.nanoTime()
        spark = SparkSession.builder()
          .master(s"local[${plan.cores}]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", plan.cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.sql.extensions", "graft.GraftExtensions")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"${plan.work}/local")
          .config("spark.sql.warehouse.dir", s"${plan.work}/warehouse")
          .config("spark.graft.checkpoint.dir", s"${plan.work}/ckpt")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        val t1 = System.nanoTime()
        spark.range(100000).selectExpr("id % 10 AS k", "id AS v")
          .groupBy("k").count().count()
        val t2 = System.nanoTime()
        val blockBytes = 1L << 20
        graft.Tables.stageLayout(spark, plan.data, s"${plan.work}/stage$k", blockBytes)
        spark.conf.set("spark.sql.files.maxPartitionBytes", blockBytes.toString)
        val t3 = System.nanoTime()
        graft.Tables.names.foreach(t => graft.Tables.table(spark, plan.data, t).count())
        val t4 = System.nanoTime()
        setups += f"""{"session_s":${secs(t0, t1)},"warmup_s":${secs(t1, t2)},""" +
          f""""stage_s":${secs(t2, t3)},"register_s":${secs(t3, t4)},"total_s":${secs(t0, t4)}}"""
      }

      val sc = spark.sparkContext
      val tracer = if (plan.trace) Some(new Tracer) else None
      tracer.foreach(sc.addSparkListener)
      val epoch0Ms = System.currentTimeMillis()
      val nano0 = System.nanoTime()
      def epochMs(ns: Long): Double = epoch0Ms + (ns - nano0) / 1e6
      var traceWaitNs = 0L
      var markers = 0L
      val memoBefore = graft.etl.ChainCache.cachedPassNames(spark).size

      /** Wait until every job the query started has ended and reached
        * the tracer; a job still open after 60 s fails the run. */
      def drain(query: String, pass: Int): Unit = tracer.foreach { tr =>
        val t0 = System.nanoTime()
        markers += 1
        Bus.post(sc, Marker(markers))
        val deadline = t0 + 60000000000L
        while ((tr.markerSeen < markers || tr.open(query, pass) > 0) &&
            System.nanoTime() < deadline) Thread.sleep(1)
        require(tr.open(query, pass) == 0 && tr.markerSeen >= markers,
          s"$query: ${tr.open(query, pass)} jobs still open after 60 s")
        traceWaitNs += System.nanoTime() - t0
      }

      val records = mutable.ArrayBuffer[String]()
      def runQuery(name: String, pass: Int, land: Boolean): Unit = {
        val q = byName(name)
        sc.setLocalProperty("perfbench.query", name)
        sc.setLocalProperty("perfbench.pass", pass.toString)
        def phase(p: String): Long = {
          sc.setLocalProperty("perfbench.phase", p)
          System.nanoTime()
        }
        val t0 = phase("construct")
        var t1, t2, t3, t4 = -1L
        var rows = -1L
        var err = ""
        try {
          val df = q.run(spark, plan.data)
          t1 = phase("plan")
          val physical = df.queryExecution.executedPlan
          t2 = phase("exec")
          if (land) {
            val collected = physical.executeCollect()
            rows = collected.length
            t3 = phase("load")
            GraftBridge.ofRows(spark, LocalRelation(physical.output, collected.toSeq))
              .write.parquet(s"${plan.work}/land/$name")
          } else {
            rows = df.queryExecution.toRdd.count()
            t3 = System.nanoTime()
          }
          t4 = System.nanoTime()
        } catch {
          case e: Throwable =>
            err = (e.getClass.getName + ": " + e.getMessage).take(400)
            if (t4 < 0) t4 = System.nanoTime()
        }
        sc.setLocalProperty("perfbench.phase", null)
        drain(name, pass)
        records += s"""{"q":${jstr(name)},"pass":$pass,"t0":${epochMs(t0)},""" +
          s""""t1":${if (t1 < 0) -1 else epochMs(t1)},"t2":${if (t2 < 0) -1 else epochMs(t2)},""" +
          s""""t3":${if (t3 < 0) -1 else epochMs(t3)},"t4":${epochMs(t4)},""" +
          s""""land":$land,"rows":$rows,"err":${jstr(err)}}"""
      }

      // GC time of this JVM, executors included in local mode
      def gcSecs(): Double = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
      val gc0 = gcSecs()
      val tRun0 = System.nanoTime()
      plan.land.foreach(runQuery(_, -1, land = true))
      val tLand = System.nanoTime()
      val gcLand = gcSecs()
      var p = 0
      while (p < plan.warm && p < plan.passes.size) {
        plan.passes(p).foreach(runQuery(_, -2, land = false))
        p += 1
      }
      val tWarm = System.nanoTime()
      val gcWarm = gcSecs()
      while (p < plan.passes.size && System.nanoTime() - tWarm < plan.seconds * 1e9) {
        plan.passes(p).foreach(runQuery(_, p, land = false))
        p += 1
      }
      val tEnd = System.nanoTime()
      val gcEnd = gcSecs()
      require(plan.passes.size <= plan.warm || p > plan.warm, "no measured pass completed")

      val memoAfter = graft.etl.ChainCache.cachedPassNames(spark).size
      val pinnedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val jobsJson = tracer.map { tr =>
        val all = tr.jobs.values().asScala.toSeq.sortBy(_.id)
        val unended = all.count(_.endMs < 0)
        require(unended == 0, s"$unended jobs started but never ended")
        all.map { j =>
          s"""{"id":${j.id},"q":${jstr(j.query)},"pass":${j.pass},"phase":${jstr(j.phase)},""" +
            s""""start":${j.startMs},"end":${j.endMs},"stages":${j.stages},"tasks":${j.tasks},""" +
            s""""failed_tasks":${j.failedTasks},"run_ms":${j.runMs},"cpu_ns":${j.cpuNs},""" +
            s""""shuffle_write":${j.shuffleWrite},""" +
            s""""shuffle_read":${j.shuffleRead},"spill":${j.spill},"input_rows":${j.inputRows}}"""
        }.mkString("[", ",\n", "]")
      }.getOrElse("[]")
      // what this JVM still holds at the end of the run, pinned
      // blocks and cached relations included. Spark's ContextCleaner frees
      // broadcast and shuffle blocks only after a GC has cleared their
      // references, so collect until the used heap stops shrinking.
      val memory = java.lang.management.ManagementFactory.getMemoryMXBean
      var heapMb = Double.MaxValue
      var shrinking = true
      var rounds = 0
      while (shrinking && rounds < 8) {
        System.gc()
        Thread.sleep(200)
        val used = memory.getHeapMemoryUsage.getUsed / 1048576.0
        shrinking = used < heapMb - 1.0
        heapMb = math.min(heapMb, used)
        rounds += 1
      }
      spark.stop()
      write(out,
        s"""{"setups":${setups.mkString("[", ",", "]")},"cores":${plan.cores},""" +
          s""""land_s":${secs(tRun0, tLand)},"warm_s":${secs(tLand, tWarm)},"measure_s":${secs(tWarm, tEnd)},""" +
          s""""memo_before":$memoBefore,"memo_after":$memoAfter,""" +
          s""""pinned_bytes":$pinnedBytes,"retained_heap_mb":$heapMb,""" +
          s""""trace_wait_s":${traceWaitNs / 1e9},""" +
          s""""gc_land_s":${gcLand - gc0},"gc_measured_s":${gcEnd - gcWarm},""" +
          s""""queries":${records.mkString("[", ",\n", "]")},"jobs":$jobsJson}""")
    }
  }
}
