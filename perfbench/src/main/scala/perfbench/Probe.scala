package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into each engine
  * module: name, start, end, parent span and the benchmark job they belong
  * to. Kept in memory; written to the run's side file when the run ends.
  * A disabled trace runs the body and records nothing.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, job: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Trace(var enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var job: Int = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, job)
        stack = stack.tail
      }
    }

  /** Seconds spent under `name` by each job, for the given jobs. */
  def perJob(name: String, jobs: Seq[Int]): Seq[Double] = {
    val byJob = spans.filter(_.name == name).groupMapReduce(_.job)(_.seconds)(_ + _)
    jobs.map(j => byJob.getOrElse(j, 0.0))
  }
}

/** Engine counters from a `SparkListener` the benchmark registers. Totals
  * are cumulative; the benchmark takes a [[Counters.Snap]] before and after
  * each body and reports the difference. Tasks of stages that belong to an
  * export job group (`ExportJob.run` sets `graft-export-*`) also keep their
  * durations, for the sink's slowest-over-median task ratio.
  */
final class Counters extends SparkListener {
  private val c = Counters.Names.map(_ -> new AtomicLong).toMap
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val exportStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  val exportTaskMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith("graft-export-")) {
      e.stageIds.foreach(exportStages.add)
      jobStartMs.put(e.jobId, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStartMs.remove(e.jobId)).foreach(t => add("export_job_ms", e.time - t))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.taskInfo.successful) add("tasks_ok", 1)
    Option(stageSubmitMs.get(e.stageId)).foreach(s => add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      if (exportStages.contains(e.stageId)) exportTaskMs.add(m.executorRunTime)
    }
  }

  def snap(): Counters.Snap = Counters.Snap(c.map { case (k, v) => k -> v.get })
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "tasks_ok", "task_ms", "task_cpu_ns",
    "task_wait_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes", "input_bytes", "export_job_ms")

  final case class Snap(v: Map[String, Long]) {
    def -(o: Snap): Snap = Snap(v.map { case (k, x) => k -> (x - o.v(k)) })
    def apply(k: String): Long = v(k)
  }
}

/** Host calibration stamp: a fixed-buffer hash loop timed on one core and
  * on every core (the same loop `graft.Bench` uses for its `calib_*`
  * fields), plus the 1-minute load average. A run whose end-of-run stamp
  * drifted from its start by more than [[SuspectDrift]] ran on a host
  * whose load changed under it, and should be retaken, not compared.
  */
object Calib {
  val SuspectDrift = 1.3
  private val N = 1 << 19
  private val buf: Array[Long] = {
    val a = new Array[Long](N)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < N) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      a(i) = z ^ (z >>> 31)
      i += 1
    }
    a
  }
  @volatile private var sink = 0L

  private def run(passes: Int): Long = {
    var h = 0x27D4EB2F165667C5L
    var p = 0
    while (p < passes) {
      var i = 0
      while (i < N) {
        h ^= buf(i) * 0xC2B2AE3D27D4EB4FL
        h = java.lang.Long.rotateLeft(h, 31) * 0x9E3779B185EBCA87L
        i += 1
      }
      p += 1
    }
    h
  }

  private def ms(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Best of three single-thread timings after a warm run. */
  def singleMs(): Double = {
    sink ^= run(20)
    (1 to 3).map(_ => ms(sink ^= run(80))).min
  }

  /** Best of three timings with one thread per processor. */
  def multiMs(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    def once(): Double = ms {
      val ts = (0 until n).map { _ =>
        val t = new Thread(() => { sink ^= run(60) })
        t.start()
        t
      }
      ts.foreach(_.join())
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  final case class Stamp(singleMs: Double, multiMs: Double, loadAvg: Double)

  def stamp(): Stamp = Stamp(singleMs(), multiMs(), loadAvg())
}

/** Process-level facts: CPU seconds of every JVM thread, and the resident
  * set high-water mark.
  */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)
}
