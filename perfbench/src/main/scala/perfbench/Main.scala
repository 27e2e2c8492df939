package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Fixed-work benchmark program. One process, one `local[cores]` session,
  * one client: ops run back to back on the main thread.
  *
  * A run is: set-up (session, one untimed warm-up pass that also produces
  * the outputs checked for correctness), then timed passes of the
  * workload's fixed op sequence until `seconds` have elapsed (whole passes,
  * at least the workload's `minPasses`). With `trace=1`, untraced and
  * traced passes alternate: the traced ones give the per-layer metrics,
  * their wall against the untraced ones gives the tracing overhead.
  *
  * Usage: Main key=value ... (see run.py, which generates the inputs and
  * checks the outputs this program writes).
  */
object Main {

  final case class OpResult(name: String, pass: Int, seconds: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val work = kv("work")
    val cores = kv("cores").toInt
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val t0Ms = kv("t0_ms").toLong
    val timeoutMs = (kv("timeout_s").toDouble * 1000).toLong
    exitWithParent()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, cores)
    val wl: Workload = workload match {
      case "etl_covid" => new EtlWorkload(spark, kv)
      // fewer passes than etl_covid's four: a run's time budget allows
      // about 8 s of lanes_light and 17 s of lanes_loop per pass
      case "lanes_light" => new LaneWorkload(spark, kv, LaneWorkload.light, minPasses = 2)
      case "lanes_loop" => new LaneWorkload(spark, kv, LaneWorkload.loop, minPasses = 1)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- one op: job group per phase, cache cleared after, timeout ------
    val watchdog = new java.util.Timer("perfbench-timeout", true)
    var tracing = false
    // peak heap in use right after a collection (eden is empty then: old
    // gen + survivors), over the JVM's own collections in timed passes; no
    // collection is forced, so none lands in a timed op that would not
    // have happened anyway
    @volatile var measureHeap = false
    val heapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case gc: javax.management.NotificationEmitter =>
        gc.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (measureHeap && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            heapPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
          }, null, null)
      case _ =>
    }
    def untimed(): Unit = spark.sparkContext.setJobGroup(Tracer.UntimedGroup, "untimed")
    def runOp(op: Op, pass: Int): OpResult = {
      untimed()
      op.reset() // untimed: every op does identical work
      val opId = tracer.nextId()
      val opStart = System.currentTimeMillis()
      val t = System.nanoTime()
      val main = Thread.currentThread()
      @volatile var currentGroup = ""
      @volatile var timedOut = false
      val alarm = new java.util.TimerTask {
        def run(): Unit = {
          timedOut = true
          spark.sparkContext.cancelJobGroup(currentGroup)
          spark.streams.active.foreach(q => scala.util.Try(q.stop()))
          main.interrupt()
        }
      }
      watchdog.schedule(alarm, timeoutMs)
      // each phase gets its own span and job group, on this thread
      def phase[T](name: String)(body: => T): T = {
        val id = tracer.nextId()
        if (tracing) tracer.registerPhase(id, name)
        currentGroup = s"pb-$id"
        spark.sparkContext.setJobGroup(currentGroup, s"${op.name} $name",
          interruptOnCancel = true)
        val s = System.currentTimeMillis()
        val ph0 = System.nanoTime()
        try body
        finally {
          val e = System.currentTimeMillis()
          if (tracing) {
            tracer.add(Span(id, opId, "phase." + name, name, s, e))
            if (name == "build") tracer.bump("build.ms", (System.nanoTime() - ph0) / 1e6)
          }
        }
      }
      val runner = new PhaseRunner {
        def apply[T](name: String)(body: => T): T = phase(name)(body)
      }
      var secs = 0.0
      var opEnd = 0L
      def stopClock(): Unit = if (opEnd == 0L) {
        secs = (System.nanoTime() - t) / 1e9
        opEnd = System.currentTimeMillis()
      }
      val err =
        try {
          val out = op.body(runner)
          stopClock()
          alarm.cancel()
          untimed()
          op.check(out)
        } catch {
          case e: Throwable =>
            stopClock()
            Some(if (timedOut) s"timed out after ${timeoutMs / 1000} s"
                 else s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        } finally {
          alarm.cancel()
          Thread.interrupted() // clear a late interrupt
        }
      if (tracing) tracer.add(Span(opId, 0L, "op", op.name, opStart, opEnd))
      untimed()
      spark.catalog.clearCache()
      spark.sparkContext.clearJobGroup()
      OpResult(op.name, pass, secs, err)
    }

    if (wl.oracles.nonEmpty)
      Files.writeString(Paths.get(s"$work/oracle.json"), wl.oracles
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))

    // ---- set-up: warm-up pass, untimed, also the output-check pass -------
    val warm = wl.checkPass.map(op => runOp(op, 0))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    // ---- timed passes ----------------------------------------------------
    measureHeap = true // from here on: the warm-up pass does not count
    val rng = new Random(seed)
    val results = mutable.ArrayBuffer.empty[OpResult]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val tStart = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - tStart) / 1e9
    // traced runs alternate traced and untraced passes, in pairs so both
    // kinds are measured; the traced pass goes first, which can only
    // overstate the tracing overhead (later passes run warmer)
    val block = if (traced) 2 else 1
    while (pass < wl.minPasses || elapsed < seconds || pass % block != 0) {
      pass += 1
      tracing = traced && pass % 2 == 1
      if (tracing) tracer.start()
      val ops = wl.timedPass(rng).map(op => runOp(op, pass))
      results ++= ops
      // the pass's timed wall: its ops, without the untimed resets between
      val wall = ops.map(_.seconds).sum
      passWall += (tracing -> wall)
      if (tracing) {
        tracer.stop()
        tracer.addPass((wall * 1000).toLong, wl.passInputBytes)
      }
      tracing = false
    }
    watchdog.cancel()
    measureHeap = false

    // ---- result file -----------------------------------------------------
    val out = new StringBuilder
    def q(s: String) = Json.str(s)
    out ++= s"""{"workload":${q(workload)},"setup_s":$setupS,"cores":$cores,"""
    out ++= s""""heap_peak_mb":${heapPeak.get / 1048576.0},"""
    out ++= s""""untraced_pass_s":${Json.nums(passWall.filter(!_._1).map(_._2))},"""
    out ++= s""""traced_pass_s":${Json.nums(passWall.filter(_._1).map(_._2))},"""
    out ++= s""""warmup":${Json.arr(warm.map(opJson))},"""
    out ++= s""""ops":${Json.arr(results.map(opJson))}"""
    if (traced) {
      val untracedWall = Stats.median(passWall.filter(!_._1).map(_._2))
      val tracedWall = Stats.median(passWall.filter(_._1).map(_._2))
      val nTraced = passWall.count(_._1)
      val m = tracer.metrics(nTraced, tracedWall / untracedWall)
      out ++= s""","layers":{${Trace.metricNames.map(n => s"${q(n)}:${m(n)}").mkString(",")}}"""
      out ++= s""","self_ms":{${tracer.selfTimes().toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}:${v.toDouble / nTraced}" }.mkString(",")}}"""
      val spanLines = tracer.spans.asScala.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"layer":${q(s.layer)},"name":${q(s.name)},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      Files.write(Paths.get(s"$work/spans.jsonl"), spanLines.toSeq.asJava)
    }
    out ++= "}"
    Files.writeString(Paths.get(s"$work/result.json"), out.toString)
    spark.stop()
  }

  /** run.py holds this process's stdin open and never writes to it: end of
    * input means the parent has gone, and the run must not outlive it.
    */
  private def exitWithParent(): Unit = {
    val t = new Thread(() => {
      while (System.in.read() != -1) {}
      Runtime.getRuntime.halt(3)
    }, "perfbench-parent")
    t.setDaemon(true)
    t.start()
  }

  private def opJson(r: OpResult): String =
    s"""{"name":${Json.str(r.name)},"pass":${r.pass},"seconds":${r.seconds},""" +
      s""""error":${r.error.map(Json.str).getOrElse("null")}}"""
}

/** One op: `reset` and `check` run untimed before and after the timed
  * `body`, which runs its calls into the engine through phases. `check`
  * returns an error message when the output is wrong.
  */
final case class Op(name: String, body: PhaseRunner => Any,
                    reset: () => Unit = () => (),
                    check: Any => Option[String] = _ => None)

trait PhaseRunner {
  def apply[T](name: String)(body: => T): T
}

trait Workload {
  def checkPass: Seq[Op]
  def timedPass(rng: Random): Seq[Op]
  /** Timed passes a run makes at least. A fixed count keeps the work a
    * run measures the same from run to run. The first pass after the
    * warm-up still runs colder than the next ones; with three or more, the
    * median pass wall is a warm one.
    */
  def minPasses: Int
  def passInputBytes: Long
  /** Lane name -> DuckDB oracle SQL for the lanes that have one. */
  def oracles: Map[String, String] = Map.empty
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Directory helpers for untimed resets. */
object Dirs {
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
  def size(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }
}
