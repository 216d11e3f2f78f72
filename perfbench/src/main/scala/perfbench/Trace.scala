package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A timed interval of the client thread: an op, or a call into one module
  * inside it. Times are epoch milliseconds so they line up with Spark's
  * listener event times.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Double) {
  var endMs: Double = startMs
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def durS: Double = (endMs - startMs) / 1e3
}

final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int], tasks: Int)

final case class OpCounts(jobs: Int, stages: Int, tasks: Int,
    driverOnlyS: Double, jobsByModule: Map[String, Int]) {
  def jobsIn(module: String): Int = jobsByModule.getOrElse(module, 0)
}

final case class StageRec(id: Int, startMs: Long, endMs: Long, tasks: Int)

/** Counts Spark's work from outside the program: a `SparkListener` for jobs,
  * stages and task metrics, and a `QueryExecutionListener` for the scan
  * nodes' SQL metrics. Untraced runs record spans (op latencies) only.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  /** Runs `f` inside a span named `name`, nested under the open span;
    * a non-empty `group` becomes the Spark job group of the jobs `f` runs.
    */
  def span[T](name: String, group: String = "")(f: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      name, nowMs)
    if (group.nonEmpty) {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      s.attrs("group") = group
    }
    spans += s
    stack.push(s)
    try f finally { s.endMs = nowMs; stack.pop() }
  }

  /** A top-level op span around `f`. */
  def op(name: String)(f: => Unit): Span = {
    val id = spans.size
    span(name)(f)
    spans(id)
  }

  // ---- listener state, guarded by `this` (filled on the listener thread)
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobStarts = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val taskCounts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var peakExecMem = 0L
  private var scanRows = 0L
  private var scanFiles = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts(e.jobId) = (group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (g, t0, st) =>
        // tasks of stages that ran (skipped stages never complete)
        val ran = st.flatMap(stages.get).map(_.tasks).sum
        jobs += JobRec(e.jobId, g, t0, e.time, st, ran)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        taskCounts("tasks") += 1
        taskCounts("run_ms") += m.executorRunTime
        taskCounts("cpu_ns") += m.executorCpuTime
        taskCounts("gc_ms") += m.jvmGCTime
        taskCounts("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
        taskCounts("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
        taskCounts("spill_b") += m.diskBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var rows = 0L
      var files = 0L
      foreach(qe.executedPlan) {
        case s: DataSourceScanExec =>
          s.metrics.get("numOutputRows").foreach(rows += _.value)
          s.metrics.get("numFiles").foreach(files += _.value)
        case _ =>
      }
      Tracer.this.synchronized { scanRows += rows; scanFiles += files }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = if (enabled) BenchBus.drain(sc)

  /** Forgets everything recorded so far (set-up work). */
  def reset(): Unit = {
    drain()
    synchronized {
      jobs.clear(); stages.clear(); taskCounts.clear()
      peakExecMem = 0L; scanRows = 0L; scanFiles = 0L
    }
    spans.clear()
  }

  /** Jobs of an op: by the op's job-group prefix, else (threads the program
    * started before the group was set) by interval containment — the
    * client is single-threaded, so any job inside the op's interval is its.
    */
  def jobsOf(op: Span, groupPrefix: String): Seq[JobRec] = synchronized {
    jobs.filter(j => j.group.startsWith(groupPrefix) ||
      (!j.group.startsWith("op") && j.startMs >= op.startMs.toLong &&
        j.startMs <= op.endMs.toLong)).toSeq
  }

  def stagesOf(j: JobRec): Seq[StageRec] = synchronized { j.stageIds.flatMap(stages.get) }

  def totals: Map[String, Double] = synchronized {
    taskCounts.toMap ++ Map(
      "peak_exec_mem_b" -> peakExecMem.toDouble,
      "scan_rows" -> scanRows.toDouble,
      "scan_files" -> scanFiles.toDouble)
  }

  def childDurS(op: Span, name: String): Double =
    spans.filter(c => c.parent == op.id && c.name == name).map(_.durS).sum

  /** Hangs the op's Spark jobs under the module span they ran in (by job
    * group, else by interval containment) and each job's stages under it;
    * returns the op's counts.
    */
  def attach(op: Span, groupPrefix: String): OpCounts = {
    drain()
    val children = spans.filter(_.parent == op.id).toSeq
    val js = jobsOf(op, groupPrefix)
    val hosts = js.map { j =>
      val host = children.find(_.attrs.get("group").contains(j.group))
        .orElse(children.find(c => j.startMs >= c.startMs.toLong &&
          j.startMs <= c.endMs.toLong))
        .getOrElse(op)
      val jsp = new Span(spans.size, host.id, s"spark.job", j.startMs.toDouble)
      jsp.endMs = j.endMs.toDouble
      jsp.attrs ++= Seq("job_id" -> j.id, "tasks" -> j.tasks)
      spans += jsp
      stagesOf(j).foreach { st =>
        val ssp = new Span(spans.size, jsp.id, "spark.stage", st.startMs.toDouble)
        ssp.endMs = st.endMs.toDouble
        ssp.attrs ++= Seq("stage_id" -> st.id, "tasks" -> st.tasks)
        spans += ssp
      }
      host.name
    }
    val jobUnion = unionMs(js.map(j => (math.max(j.startMs.toDouble, op.startMs),
      math.min(j.endMs.toDouble, op.endMs))).filter(iv => iv._2 > iv._1))
    val c = OpCounts(js.size, js.map(j => stagesOf(j).size).sum,
      js.map(_.tasks).sum, (op.endMs - op.startMs - jobUnion) / 1e3,
      hosts.groupBy(identity).map { case (k, v) => k -> v.size })
    op.attrs ++= Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "driver_only_s" -> c.driverOnlyS)
    c
  }

  /** Per-op means of the Spark and JVM counters over the timed phase. */
  def layerMetrics(counts: Seq[OpCounts], wallS: Double, cores: Int,
      jvm: JvmProbe, cpu: Option[CpuSampler]): Map[String, Double] = {
    val n = math.max(1, counts.size).toDouble
    val t = totals
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> counts.map(_.jobs).sum / n,
      "spark.stages" -> counts.map(_.stages).sum / n,
      "spark.tasks" -> counts.map(_.tasks).sum / n,
      "spark.driver_only_s" -> counts.map(_.driverOnlyS).sum / n,
      "spark.task_run_s" -> t.getOrElse("run_ms", 0.0) / 1e3 / n,
      "spark.task_cpu_s" -> t.getOrElse("cpu_ns", 0.0) / 1e9 / n,
      "spark.task_gc_s" -> t.getOrElse("gc_ms", 0.0) / 1e3 / n,
      "spark.core_busy_frac" -> t.getOrElse("run_ms", 0.0) / 1e3 / (wallS * cores),
      "spark.shuffle_write_mb" -> t.getOrElse("shuffle_write_b", 0.0) / mb / n,
      "spark.shuffle_read_mb" -> t.getOrElse("shuffle_read_b", 0.0) / mb / n,
      "spark.spill_mb" -> t.getOrElse("spill_b", 0.0) / mb / n,
      "spark.scan_rows" -> t("scan_rows") / n,
      "spark.scan_files" -> t("scan_files") / n,
      "spark.peak_exec_mem_mb" -> t("peak_exec_mem_b") / mb,
      "jvm.heap_after_gc_peak_mb" -> jvm.heapAfterGcPeak / mb,
      "jvm.gc_s" -> jvm.gcSeconds / n,
    ) ++ cpu.map(_.attribute().map { case (m, f) => s"$m.cpu_frac" -> f })
      .getOrElse(Map.empty)
  }

  /** Writes every span, with its self time (duration minus the part of it
    * its children cover), one JSON object per line.
    */
  def writeSpans(path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val cover = unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1).toSeq)
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
        "self_s" -> (s.endMs - s.startMs - cover) / 1e3) ++ s.attrs)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Total length of the union of the given intervals. */
  def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** JVM-wide counters: GC time and the peak heap in use after a collection. */
final class JvmProbe {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var gcMs0 = 0L
  @volatile var heapAfterGcPeak = 0L

  gcs.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
            .map(_.getUsed).sum
          if (used > heapAfterGcPeak) heapAfterGcPeak = used
        }
      }, null, null)
    case _ =>
  }

  private var gcMs1 = 0L
  private def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ > 0).sum
  def start(): Unit = { gcMs0 = gcMs; heapAfterGcPeak = 0L }
  def stop(): Unit = gcMs1 = gcMs
  def gcSeconds: Double = (gcMs1 - gcMs0) / 1e3
}

object CpuSampler {
  val Modules: Seq[String] = Seq("api", "plans", "operators", "functions", "ml",
    "multimodal", "io", "streaming", "catalog", "queries")
}

/** JDK Flight Recorder execution samples, attributed to the innermost
  * `graft.<module>` frame of each sampled stack; samples with no program
  * frame count as `spark`.
  */
final class CpuSampler(dump: java.nio.file.Path) {
  private val rec = new jdk.jfr.Recording()
  rec.enable("jdk.ExecutionSample").withPeriod(java.time.Duration.ofMillis(10))
  rec.setToDisk(true)
  def start(): Unit = rec.start()
  def stop(): Unit = rec.stop()

  /** Share of the samples per module, plus `spark`. */
  def attribute(): Map[String, Double] = {
    rec.dump(dump)
    rec.close()
    import scala.jdk.CollectionConverters._
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rf = new jdk.jfr.consumer.RecordingFile(dump)
    try {
      while (rf.hasMoreEvents) {
        val e = rf.readEvent()
        if (e.getEventType.getName == "jdk.ExecutionSample" && e.getStackTrace != null) {
          val mod = e.getStackTrace.getFrames.asScala.iterator
            .map(_.getMethod.getType.getName)
            .find(_.startsWith("graft."))
            .map(moduleOf).getOrElse("spark")
          counts(mod) += 1
        }
      }
    } finally rf.close()
    java.nio.file.Files.deleteIfExists(dump)
    val n = math.max(1L, counts.values.sum).toDouble
    (CpuSampler.Modules :+ "spark").map(m => m -> counts(m) / n).toMap
  }

  /** `graft.catalog.Views$` -> `catalog`; classes directly in `graft`
    * (SparkEntry, QueryDef, QueryUtil, Tables) serve the query registry.
    */
  private def moduleOf(cls: String): String = {
    val parts = cls.split('.')
    if (parts.length > 2) parts(1) else "queries"
  }
}
