package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.SessionFactory

/** One benchmark run of one workload: generate the seeded inputs, set up
  * (session build + one warm job) several times, then run jobs back to
  * back in one closed loop for the requested seconds, checking each job's
  * output. Prints one JSON line of raw metric values; `run.py` attaches
  * units and names from BENCHMARK.json.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --results DIR --fixture DIR --rows N [--setups K]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      results: String, fixture: String, rows: Long, setups: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1", get("work"),
      get("results"), get("fixture"), get("rows").toLong, m.get("setups").map(_.toInt).getOrElse(2))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val line = run(o)
    println(line)
    sys.exit(0)
  }

  /** Pinned (count, checksum) of each catalog query per fixture directory
    * name: the fixture's contents are fixed, so every seed must give these.
    */
  val Pinned: Map[String, Map[String, (Long, BigDecimal)]] = Map(
    "sf0.01" -> Map(
      "q5_multi_join" -> (5L, BigDecimal("-8119241866395342922")),
      "graph_pagerank" -> (1600L, BigDecimal("-439183591701135499980")),
      "graph_components" -> (1600L, BigDecimal("139395490769482848237")),
      "dedup_semantic" -> (443L, BigDecimal("57625229152937684212")),
      "ann_ivfpq_check" -> (5L, BigDecimal("4806399782508336112")),
      "text_containment" -> (50L, BigDecimal("1881316500277933626"))),
    "sf0.001" -> Map(
      "q5_multi_join" -> (1L, BigDecimal("-7652334428648498897")),
      "graph_pagerank" -> (160L, BigDecimal("-57791110635980271603")),
      "graph_components" -> (160L, BigDecimal("54065917639583411487")),
      "dedup_semantic" -> (434L, BigDecimal("28413021491417209558")),
      "ann_ivfpq_check" -> (5L, BigDecimal("4806399782508336112")),
      "text_containment" -> (56L, BigDecimal("57079556145891084200"))))

  private def session(o: Opts, cores: Int, counters: Counters): SparkSession = {
    val s = SessionFactory.builder(s"local[$cores]", "perfbench", cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(counters)
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(o: Opts): String = {
    val cores = Runtime.getRuntime.availableProcessors()
    val calibStart = Calib.stamp()
    val trace = new Trace(o.trace)
    val counters = new Counters
    val fixtureName = Paths.get(o.fixture).getFileName.toString
    val workload: Workload = o.workload match {
      case "export_parquet" => new ExportParquet(o.work, trace, counters, cores, o.rows, o.seed)
      case "export_jdbc" => new ExportJdbc(o.work, trace, counters, cores, o.rows, o.seed)
      case "catalog_mix" => new CatalogMix(o.work, trace, counters, cores, o.fixture,
        Pinned.getOrElse(fixtureName, Map.empty), o.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark = session(o, cores, counters)
    val genT0 = System.nanoTime()
    workload.generate(spark)
    val generateS = (System.nanoTime() - genT0) / 1e9

    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()
    def checked(out: JobOut, full: Boolean): Boolean =
      try { workload.check(spark, out, full); true }
      catch { case NonFatal(e) => failures += e.toString; false }

    // Set-up, several times: stop the session, build a new one, run one
    // warm job (JIT, codegen, file and plan caches). Input generation is
    // not part of it.
    val setups = (1 to o.setups).map { k =>
      trace.job = -k
      stop(spark)
      val t0 = System.nanoTime()
      spark = trace("session.build") { session(o, cores, counters) }
      val t1 = System.nanoTime()
      val out = trace("session.warm") { workload.job(spark, -k) }
      val t2 = System.nanoTime()
      attempted += 1
      if (!checked(out, full = k == o.setups)) failed += 1
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    // Measured closed loop, one client. In a traced run every other job is
    // traced, so the two halves give the tracing overhead.
    final case class Done(i: Int, secs: Double, cpu: Double, out: JobOut, traced: Boolean, d: Counters.Snap,
        ok: Boolean)
    val all = ArrayBuffer[Done]()
    BenchBus.drain(spark.sparkContext)
    val window0 = counters.snap()
    val start = System.nanoTime()
    var i = 0
    val minJobs = if (o.trace) 2 else 1 // a traced run needs a traced and an untraced job
    while (i < minJobs || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val traced = o.trace && i % 2 == 0
      trace.enabled = traced
      trace.job = i
      if (traced) BenchBus.drain(spark.sparkContext)
      System.gc() // every job starts from a collected heap, so a job does not pay for its predecessors
      val before = counters.snap()
      val c0 = Proc.cpuSeconds()
      val t0 = System.nanoTime()
      attempted += 1
      try {
        val out = trace("job") { workload.job(spark, i) }
        val secs = (System.nanoTime() - t0) / 1e9
        val cpu = Proc.cpuSeconds() - c0
        if (traced) BenchBus.drain(spark.sparkContext)
        val d = counters.snap() - before
        // a full read-back check on the first job, cheap checks on all
        val ok = checked(out, full = i == 0)
        if (!ok) failed += 1
        all += Done(i, secs, cpu, out, traced, d, ok)
      } catch {
        case NonFatal(e) =>
          failures += e.toString
          failed += 1
      }
      i += 1
    }
    BenchBus.drain(spark.sparkContext)
    val window = counters.snap() - window0
    trace.enabled = o.trace

    val isolated = if (o.trace) {
      trace.job = -100
      try workload.isolated(spark)
      catch { case NonFatal(e) => failures += e.toString; failed += 1; Map.empty[String, Double] }
    } else Map.empty[String, Double]

    stop(spark)
    workload.cleanup()
    val calibEnd = Calib.stamp()

    val done = all.filter(_.ok)
    val untraced = done.filterNot(_.traced)
    val times = untraced.map(_.secs).sorted.toSeq
    val n = times.size
    // The highest percentile with at least ten jobs beyond it. Below 20
    // jobs that percentile would sit under the median, so the slowest job
    // stands in for it (percentile 100).
    val (tail, tailPct) =
      if (n >= 20) (times(n - 11), 100.0 * (n - 10) / n)
      else (if (n > 0) times.last else 0.0, 100.0)
    val rows = done.map(_.out.rows).sum
    val bytesPerRow = o.workload match {
      case "catalog_mix" => window("shuffle_write_bytes").toDouble / math.max(1L, rows)
      case _ => done.map(_.out.bytes).sum.toDouble / math.max(1L, rows)
    }
    val drift = math.max(calibEnd.singleMs / calibStart.singleMs, calibEnd.multiMs / calibStart.multiMs)

    val values = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (!o.trace) {
      values ++= Seq(
        "job_s.p50" -> Stats.median(times),
        "job_s.tail" -> tail,
        "cpu_s_per_job" -> Stats.median(untraced.map(_.cpu).toSeq),
        "bytes_per_row" -> bytesPerRow,
        "setup_s" -> Stats.median(setups.map { case (b, w) => b + w }),
        "success_ratio" -> (attempted - failed).toDouble / math.max(1, attempted),
        "peak_rss_mb" -> Proc.peakRssMb())
    } else {
      val tr = done.filter(_.traced).toSeq
      val ids = tr.map(_.i)
      def med(xs: Seq[Double]) = Stats.median(xs)
      def span(name: String) = med(trace.perJob(name, ids))
      def layer(name: String) = med(tr.map(_.out.layer.getOrElse(name, 0.0)))
      def spark_(k: String, scale: Double = 1.0) = med(tr.map(_.d(k) / scale))
      values ++= Seq(
        "session.build_s" -> med(setups.map(_._1)),
        "session.warm_s" -> med(setups.map(_._2)),
        "sql.build_queries_s" -> span("sql.build_queries"),
        "sql.ranges" -> isolated.getOrElse("sql.ranges", 0.0),
        "sql.range_rows_max_over_mean" -> isolated.getOrElse("sql.range_rows_max_over_mean", 0.0),
        "schema.generate_s" -> span("schema.generate"),
        "schema.probe_jobs" -> layer("schema.probe_jobs"),
        "sources.read_s" -> span("sources.read"),
        "sources.read_jobs" -> layer("sources.read_jobs"),
        "sources.drain_s" -> isolated.getOrElse("sources.drain_s", 0.0),
        "sources.rows" -> layer("sources.rows"))
      Seq("sink.write_s", "sink.task_s", "sink.first_row_s", "sink.ms_per_million_rows", "sink.bytes",
        "sink.meter_flushes", "sink.task_s_max_over_median").foreach(k => values(k) = layer(k))
      values ++= Seq(
        "sink.parts" -> (workload match { case e: ExportWorkload => e.parts.toDouble; case _ => 0.0 }),
        "sink.encode_ns_per_row" -> isolated.getOrElse("sink.encode_ns_per_row", 0.0),
        "sink.append_codec_ns_per_row" -> isolated.getOrElse("sink.append_codec_ns_per_row", 0.0),
        "jobs.export_run_s" -> span("jobs.export_run"),
        "jobs.overhead_s" -> med(tr.map { d =>
          trace.perJob("jobs.export_run", Seq(d.i)).head - d.out.layer.getOrElse("sink.write_s", 0.0) -
            d.out.export.map(_.metrics.schemaElapsedTimeMs / 1e3).getOrElse(0.0)
        }))
      for (q <- CatalogMix.Queries; s <- Seq("s", "task_s", "stages", "shuffle_bytes", "spill_bytes", "gc_s"))
        values(s"operators.$q.$s") = layer(s"operators.$q.$s")
      values ++= Seq(
        "spark.jobs" -> spark_("jobs"),
        "spark.stages" -> spark_("stages"),
        "spark.tasks" -> spark_("tasks"),
        "spark.task_s" -> spark_("task_ms", 1e3),
        "spark.task_cpu_s" -> spark_("task_cpu_ns", 1e9),
        "spark.task_wait_s" -> spark_("task_wait_ms", 1e3),
        "spark.gc_s" -> spark_("gc_ms", 1e3),
        "spark.shuffle_write_bytes" -> spark_("shuffle_write_bytes"),
        "spark.spill_bytes" -> spark_("spill_bytes"),
        "spark.input_bytes" -> spark_("input_bytes"),
        "spark.task_success_ratio" -> med(tr.map(d => d.d("tasks_ok").toDouble / math.max(1L, d.d("tasks")))),
        "trace.overhead_s" -> (med(tr.map(_.secs)) - Stats.median(times)),
        "run.jobs" -> n.toDouble,
        "run.tail_pct" -> tailPct,
        "host.calib_st_ms" -> calibStart.singleMs,
        "host.calib_mt_ms" -> calibStart.multiMs,
        "host.calib_drift" -> drift,
        "host.calib_suspect" -> (if (drift > Calib.SuspectDrift) 1.0 else 0.0),
        "host.loadavg_start" -> calibStart.loadAvg,
        "host.loadavg_end" -> calibEnd.loadAvg)
    }

    val side = Json.obj(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString, "trace" -> Json.bool(o.trace),
      "cores" -> cores.toString, "rows" -> o.rows.toString, "fixture" -> Json.str(fixtureName),
      "generate_s" -> Json.num(generateS),
      "setups" -> Json.arr(setups.map { case (b, w) => Json.obj("build_s" -> Json.num(b), "warm_s" -> Json.num(w)) }),
      "jobs" -> Json.arr(all.toSeq.map(d => Json.obj("i" -> d.i.toString, "s" -> Json.num(d.secs),
        "cpu_s" -> Json.num(d.cpu), "traced" -> Json.bool(d.traced), "ok" -> Json.bool(d.ok),
        "counters" -> Json.obj(d.d.v.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*)))),
      "job_s_tail_pct" -> Json.num(tailPct),
      "calib_start" -> Json.obj("single_ms" -> Json.num(calibStart.singleMs), "multi_ms" -> Json.num(calibStart.multiMs),
        "loadavg" -> Json.num(calibStart.loadAvg)),
      "calib_end" -> Json.obj("single_ms" -> Json.num(calibEnd.singleMs), "multi_ms" -> Json.num(calibEnd.multiMs),
        "loadavg" -> Json.num(calibEnd.loadAvg)),
      "calib_suspect" -> Json.bool(drift > Calib.SuspectDrift),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "metrics" -> Json.obj(values.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(trace.spans.toSeq.map(s => Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString, "parent" -> s.parent.toString,
        "job" -> s.job.toString))))
    Files.createDirectories(Paths.get(o.results))
    Files.write(Paths.get(o.results, s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      side.getBytes(StandardCharsets.UTF_8))
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    Json.obj(
      "correct" -> Json.bool(failed == 0 && done.nonEmpty),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "calib_suspect" -> Json.bool(drift > Calib.SuspectDrift),
      "values" -> Json.obj(values.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
  }
}

/** Just enough JSON writing for the result line and the side file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
