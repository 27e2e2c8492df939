package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it (0 for
  * an op). Ops, phases and ETL calls come from the benchmark's own code;
  * jobs, stages, Catalyst phases and stream batches from the listeners.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** In-memory tracer: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, registered only while a traced pass runs.
  * Spans and counters stay in memory and are written out when the run ends.
  *
  * Job attribution: the benchmark sets a job group `pb-<spanId>` per op
  * phase, so every job names the phase span that launched it; the job's
  * call site (first frame outside Spark) names the engine module.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageMs = mutable.ArrayBuffer.empty[Long]
  private var wallMs = 0L
  private var inputBytes = 0L

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def bump(k: String, v: Double): Unit = synchronized { c(k) += v }

  /** Traced wall and input bytes of the passes the counters cover. */
  def addPass(ms: Long, bytes: Long): Unit = synchronized {
    wallMs += ms; inputBytes += bytes
  }

  // ---- SparkListener: jobs, stages, tasks ---------------------------------
  private final case class JobInfo(parent: Long, layer: String, site: String,
                                   start: Long, stages: Seq[Int])
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val firstJob = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  /** Engine module a job belongs to, from its call site (the last Spark
    * method, then the user frames below it) and the phase that ran it.
    */
  private def layerOf(longSite: String, phase: String): String = {
    val lines = longSite.split("\n").toSeq
    val top = lines.headOption.getOrElse("")
    val first = lines.lift(1).getOrElse("")
    val user = lines.drop(1).mkString("\n")
    if (first.contains("(Tables.scala")) "tables"
    else if (user.contains("Validation$.run")) "etl.validation"
    else if (user.contains("Sinks$.appendTable")) "etl.audit"
    else if (top.contains(".sql(") && first.contains("Jobs$.eltPipeline")) "etl.sql"
    else if (user.contains("Sinks$.overwriteTable") || top.contains(".insertInto(")) "etl.write"
    else if (first.contains("(Sources.scala")) "sources"
    else if (user.contains("StreamingIngest")) "streaming"
    else if (phase == "build") "build"
    else "exec"
  }

  /** `method at File.scala:line` from a long-form call site. */
  private def shortSite(longSite: String): String = {
    val lines = longSite.split("\n")
    val method = lines.head.takeWhile(_ != '(').split('.').lastOption.getOrElse("")
    val at = lines.lift(1).map(l => l.drop(l.lastIndexOf('(') + 1).stripSuffix(")"))
    s"$method at ${at.getOrElse("?")}"
  }

  // call sites of SQL executions: jobs that AQE or the stream submit from
  // other threads carry their execution id, not a user stack
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val phaseOf = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  def registerPhase(id: Long, phase: String): Unit = phaseOf.put(id, phase)

  // the benchmark's own untimed resets and checks run in this job group
  private val untimedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group == Tracer.UntimedGroup) { e.stageIds.foreach(untimedStages.add); return }
      val parent =
        if (group.startsWith("pb-")) group.stripPrefix("pb-").toLong else 0L
      val longSite = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
        .getOrElse("")
      val site = shortSite(longSite)
      val layer = layerOf(longSite, phaseOf.getOrDefault(parent, ""))
      e.stageIds.foreach(s => stageLayer.putIfAbsent(s, layer))
      firstJob.merge(parent, e.time, (a: Long, b: Long) => math.min(a, b))
      jobs.put(e.jobId, JobInfo(parent, layer, site, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        val id = nextId()
        j.stages.foreach(s => stageJob.put(s, id))
        add(Span(id, j.parent, "job." + j.layer, j.site, j.start, e.time))
        bump("exec.jobs", 1); bump("exec.ms", e.time - j.start)
        j.layer match {
          case "tables" => bump("tables.jobs", 1); bump("tables.ms", e.time - j.start)
          case "build" => bump("build.jobs", 1)
          case l if l.startsWith("etl.") => bump(l + "_ms", e.time - j.start)
          case _ =>
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execSite.put(x.executionId, x.details)
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (untimedStages.contains(si.stageId)) return
      bump("exec.stages", 1)
      if (stageLayer.get(si.stageId) == "build") bump("build.stages", 1)
      for (s <- si.submissionTime; d <- si.completionTime) {
        synchronized { stageMs += d - s }
        val layer = Option(stageLayer.get(si.stageId)).getOrElse("exec")
        add(Span(nextId(), -si.stageId - 1L, "stage." + layer,
          s"${si.name} (${si.numTasks} tasks)", s, d))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (untimedStages.contains(e.stageId)) return
      bump("exec.tasks", 1)
      val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      bump("exec.task_wait_ms", math.max(0L, e.taskInfo.launchTime - submit))
      val m = e.taskMetrics
      if (m != null) {
        bump("exec.task_run_ms", m.executorRunTime)
        bump("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        bump("exec.gc_ms", m.jvmGCTime)
        bump("exec.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        bump("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        bump("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        if (m.inputMetrics.bytesRead > 0) {
          bump("sources.read_bytes", m.inputMetrics.bytesRead)
          bump("sources.scan_tasks", 1)
        }
        bump("sinks.bytes_written", m.outputMetrics.bytesWritten)
      }
    }
  }

  // ---- QueryExecutionListener: Catalyst phases, files written -------------
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      // summed in metrics(), over the spans that fall inside an op
      qe.tracker.phases.foreach { case (phase, p) =>
        add(Span(nextId(), 0L, "catalyst." + phase, phase, p.startTimeMs, p.endTimeMs))
      }
      writes(qe.executedPlan).foreach { node =>
        node.metrics.get("numFiles").foreach(m => bump("sinks.files_written", m.value))
      }
    }
    /** File-writing nodes: scans carry a `numFiles` metric too (files read),
      * so only write commands count, also under an adaptive plan.
      */
    private def writes(p: SparkPlan): Seq[SparkPlan] = p match {
      case w: DataWritingCommandExec => Seq(w)
      case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
      case _ => p.children.flatMap(writes)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  // ---- StreamingQueryListener: micro-batches ------------------------------
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val ms = p.batchDuration
        bump("streaming.batches", 1); bump("streaming.batch_ms", ms)
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms
        add(Span(nextId(), 0L, "streaming.batch", s"batch ${p.batchId}", end - ms, end))
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregister after the listener bus has delivered every queued event. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** FileChecks is metadata-only and launches no job: its time is the
    * driver time from the start of a covid call to that call's first job.
    */
  private def fileChecksMs: Double = spans.asScala
    .filter(_.layer == "phase.covid")
    .map(s => Option(firstJob.get(s.id)).map(j => (j - s.startMs).toDouble)
      .getOrElse(s.ms.toDouble)).sum

  /** Catalyst phase time of the queries the ops ran (not of the
    * benchmark's own checks, which run between ops).
    */
  private def catalystMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val ops = all.filter(_.layer == "op")
    all.filter(s => s.layer.startsWith("catalyst.") &&
        ops.exists(o => o.startMs <= s.startMs && s.startMs <= o.endMs))
      .groupBy(s => s.layer + "_ms").view.mapValues(_.map(_.ms.toDouble).sum).toMap
  }

  /** Per-layer metrics, per traced pass (`passes` = number of traced passes). */
  def metrics(passes: Int, overhead: Double): Map[String, Double] = synchronized {
    val per = (c ++ catalystMs).map { case (k, v) => k -> v / passes }.toMap
    val derived = Map(
      "exec.stage_ms_p50" -> (if (stageMs.isEmpty) 0.0 else Stats.median(stageMs.map(_.toDouble))),
      "exec.cpu_util" -> (if (wallMs == 0) 0.0 else c("exec.task_cpu_ms") / (wallMs.toDouble * cores)),
      "sources.read_amplification" ->
        (if (inputBytes == 0) 0.0 else c("sources.read_bytes") / inputBytes),
      "etl.file_checks_ms" -> fileChecksMs / passes,
      "trace.overhead" -> overhead)
    Trace.metricNames.map(n => n -> derived.getOrElse(n, per.getOrElse(n, 0.0))).toMap
  }

  /** Self time by layer: span time minus the part its child spans cover.
    * Children are phases under ops, jobs under phases, stages under jobs,
    * and (by time containment) Catalyst spans, stream batches and jobs of
    * the stream's own thread under the innermost span they ran in.
    */
  def selfTimes(): Map[String, Long] = {
    val all = spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    // innermost benchmark-side span that contains s in time
    val containers = Seq("streaming.batch", "phase.", "op")
      .map(l => all.filter(_.layer.startsWith(l)))
    def container(s: Span): Option[Long] = containers.iterator.flatMap(_.find(o =>
      o.id != s.id && o.startMs <= s.startMs && s.endMs <= o.endMs)).nextOption().map(_.id)
    // stages carry -(stageId+1); their job is resolved through stageJob
    val resolved = all.map { s =>
      val p =
        if (s.layer.startsWith("stage.")) Option(stageJob.get((-(s.parent + 1L)).toInt))
        else if (s.parent > 0 || s.layer == "op") Some(s.parent)
        else container(s)
      s -> p.filter(byId.contains)
    }
    val children = resolved.collect { case (s, Some(p)) => p -> s }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      total + (curB - curA)
    }
    resolved.map(_._1).groupBy(_.layer).view
      .mapValues(ss => ss.map(s => s.ms - covered(s)).sum).toMap
  }
}

object Tracer {
  val UntimedGroup = "pb-untimed"
}

object Trace {
  /** Every per-layer metric, in report order. */
  val metricNames: Seq[String] = Seq(
    "tables.jobs", "tables.ms",
    "build.ms", "build.jobs", "build.stages",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.stage_ms_p50",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.task_wait_ms", "exec.cpu_util",
    "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "sources.read_bytes", "sources.read_amplification", "sources.scan_tasks",
    "etl.file_checks_ms", "etl.validation_ms", "etl.write_ms", "etl.audit_ms",
    "etl.sql_ms",
    "sinks.bytes_written", "sinks.files_written",
    "streaming.batches", "streaming.batch_ms",
    "trace.overhead")
}
