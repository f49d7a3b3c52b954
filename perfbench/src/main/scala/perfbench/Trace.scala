package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced runs, built only on Spark's listener
  * APIs: it never touches the program under test.
  *
  * Each job is attributed to a layer (a `graft` package) by the first
  * `graft.` frame of the call site of the SQL execution it belongs to
  * (joined through the `spark.sql.execution.id` job property). The call
  * site of a job's first stage is only a fallback: AQE submits stages
  * from a future thread, whose stack holds no program frames. A job with
  * no program frame goes to the harness span open when it started (the
  * call the benchmark made into a layer), and otherwise stays
  * `unattributed`. Only jobs that start inside a timed iteration count.
  */
final class Trace private (spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private final case class Job(start: Long, execution: Option[Long],
                               stageCallSite: String) {
    var end: Long = start
  }
  private final case class StageAgg(job: Int, tasks: Int, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      gcMs: Long, jsonBytes: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val executions = mutable.Map.empty[Long, (Option[Long], String)]
  private val phaseRuns = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var iterStart = 0L

  // ---- harness side ---------------------------------------------------

  def beginIteration(): Unit = iterStart = System.currentTimeMillis()
  def endIteration(): Unit = synchronized {
    windows += ((iterStart, System.currentTimeMillis()))
  }

  /** Time one harness call into `layer`; jobs it starts that carry no
    * program frame are attributed to it, and a named span reports how
    * many jobs started inside it as `<name>_jobs`.
    */
  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally synchronized {
      spans += ((layer, name, t0, System.currentTimeMillis()))
    }
  }

  /** Wait until every posted event has reached this listener. */
  def drain(): Unit =
    org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)

  // ---- listener side --------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = Job(e.time, exec,
      e.stageInfos.headOption.map(_.details).getOrElse(""))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        val json = si.rddInfos.exists(_.scope.exists(
          _.name.toLowerCase.contains("scan json")))
        stages(si.stageId) = StageAgg(stageJob.getOrElse(si.stageId, -1),
          si.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          if (json) m.inputMetrics.bytesRead else 0L)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (s.rootExecutionId, s.details)
    }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) phaseRuns += ((ph.values.map(_.startTimeMs).min,
      ph.map { case (k, s) => k -> s.durationMs / 1e3 }))
  }

  // ---- attribution ----------------------------------------------------

  private def timed(t: Long): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b }

  /** First `graft.` frame of an execution's call site, following nested
    * executions to their root.
    */
  private def executionFrame(id: Long, depth: Int = 0): Option[String] =
    executions.get(id).flatMap { case (root, details) =>
      Trace.graftFrame(details).orElse(root.filter(r => r != id && depth < 8)
        .flatMap(executionFrame(_, depth + 1)))
    }

  private def bucketOf(job: Job): String = {
    val frame = job.execution.flatMap(executionFrame(_))
      .orElse(Trace.graftFrame(job.stageCallSite))
    frame.map(Trace.bucketOfFrame).getOrElse {
      spans.find { case (_, _, a, b) => job.start >= a && job.start <= b }
        .map(_._1).getOrElse("unattributed")
    }
  }

  /** Per-iteration means of every traced count and time. */
  def layerMetrics(wallS: Double, cores: Int, iterations: Int)
      : Map[String, Double] = synchronized {
    val timedJobs = jobs.filter { case (_, j) => timed(j.start) }
    val byBucket = timedJobs.toSeq.groupBy { case (_, j) => bucketOf(j) }
    def jobS(pred: String => Boolean) = byBucket.collect {
      case (b, js) if pred(b) => js.map { case (_, j) => j.end - j.start }.sum
    }.sum / 1e3
    def jobN(pred: String => Boolean) =
      byBucket.collect { case (b, js) if pred(b) => js.size }.sum.toDouble
    val st = stages.values.filter(s => timedJobs.contains(s.job)).toSeq
    def phase(p: String) = phaseRuns.collect {
      case (t, ph) if timed(t) => ph.getOrElse(p, 0.0) }.sum
    val totalJobS = jobS(_ => true)
    val taskS = st.map(_.runMs).sum / 1e3
    val per = Map(
      "exec.jobs" -> timedJobs.size.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.task_s" -> taskS,
      "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "exec.job_s" -> totalJobS,
      "exec.unattributed_job_s" -> jobS(_ == "unattributed"),
      "sources.infer_s" -> jobS(_ == "sources.infer"),
      "sources.infer_jobs" -> jobN(_ == "sources.infer"),
      "sources.json_scan_bytes" -> st.map(_.jsonBytes).sum.toDouble,
      "pipelines.gate_s" -> jobS(_ == "pipelines.gate"),
      "sinks.staging_write_jobs" -> jobN(_ == "sinks.staging_write"),
      "sinks.serving_write_jobs" -> jobN(_ == "sinks.serving_write"),
      "sinks.reconcile_jobs" -> jobN(_ == "sinks.reconcile"),
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning")) ++
      Trace.Layers.map(l => s"$l.job_s" -> jobS(b => b.takeWhile(_ != '.') == l))
    val spanJobs = spans.collect { case (_, name, a, b) if name.nonEmpty =>
      name -> timedJobs.count { case (_, j) => j.start >= a && j.start <= b }
    }.groupMapReduce(_._1 + "_jobs")(_._2.toDouble)(_ + _)
    val n = math.max(iterations, 1).toDouble
    (per ++ spanJobs).map { case (k, v) => k -> v / n } ++ Map(
      "exec.utilization" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "exec.unattributed_share" ->
        (if (totalJobS > 0) jobS(_ == "unattributed") / totalJobS else 0.0))
  }
}

object Trace {

  /** The tracer of a traced run, once its timed phase starts. */
  @volatile var current: Option[Trace] = None

  /** [[Trace.span]] on the current tracer; just `body` when untraced. */
  def span[T](layer: String, name: String = "")(body: => T): T =
    current.fold(body)(_.span(layer, name)(body))

  /** The `graft` modules reported as layers (`functions` is folded into
    * `operators`).
    */
  val Layers: Seq[String] = Seq("sources", "pipelines", "operators", "sinks",
    "streaming", "queries", "plans")

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def graftFrame(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))

  /** `layer` or `layer.sub` for the first program frame of a job. */
  def bucketOfFrame(frame: String): String = {
    val sub = Seq(
      "graft.sources.Tables$.json" -> "sources.infer",
      "graft.pipelines.PipelineContext.sumGate" -> "pipelines.gate",
      "graft.sinks.ParquetSink$.write" -> "sinks.staging_write",
      "graft.sinks.MockServingSink.write" -> "sinks.serving_write",
      "graft.sinks.Reconcile$.check" -> "sinks.reconcile")
    sub.collectFirst { case (p, b) if frame.startsWith(p) => b }.getOrElse {
      frame.stripPrefix("graft.").takeWhile(_ != '.') match {
        case "functions" => "operators"
        case l if Layers.contains(l) => l
        case _ => "queries" // graft.SparkEntry and the harness entry points
      }
    }
  }

  /** Every per-layer metric a traced run prints, with its unit; the
    * names BENCHMARK.json lists under `per_layer`.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "trace.wall_s" -> "s",
    "sources.infer_s" -> "s", "sources.infer_jobs" -> "count",
    "sources.read_amplification" -> "ratio",
    "pipelines.jhub_s" -> "s", "pipelines.zoom_s" -> "s",
    "pipelines.zoom_hst_s" -> "s", "pipelines.vk_s" -> "s",
    "pipelines.monkey_s" -> "s", "pipelines.gate_s" -> "s",
    "sinks.staging_write_s" -> "s", "sinks.serving_write_s" -> "s",
    "sinks.reconcile_s" -> "s", "sinks.ddl_calls" -> "count",
    "sinks.staging_write_jobs" -> "count",
    "sinks.serving_write_jobs" -> "count",
    "sinks.reconcile_jobs" -> "count",
    "sinks.staging_files" -> "count", "sinks.staging_bytes" -> "bytes",
    "sinks.staged_bytes_per_raw_byte" -> "ratio",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.overhead_s" -> "s", "streaming.zone_slice_s" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count") ++
    QueryMix.Queries.flatMap(q =>
      Seq(s"queries.${q}_s" -> "s", s"queries.${q}_jobs" -> "count")) ++
    Seq("plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
      "plans.planning_s" -> "s") ++
    Layers.map(l => s"$l.job_s" -> "s") ++
    Seq("exec.jobs" -> "count", "exec.stages" -> "count",
      "exec.tasks" -> "count", "exec.task_s" -> "s",
      "exec.task_cpu_s" -> "s", "exec.utilization" -> "ratio",
      "exec.shuffle_read_bytes" -> "bytes",
      "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
      "exec.gc_s" -> "s", "exec.job_s" -> "s",
      "exec.unattributed_job_s" -> "s", "exec.unattributed_share" -> "ratio",
      "exec.cache_entries_left" -> "count", "exec.peak_rss_mb" -> "MB")
}
