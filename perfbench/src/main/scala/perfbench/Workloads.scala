package perfbench

import java.io.File
import java.util.Properties

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

import graft.args.{AvroSinkArgs, ConnectionArgs, QueryArgs}
import graft.jobs.ExportJob
import graft.schema.AvroSchemaGen
import graft.sink.AvroSink
import graft.sources.{AvroSource, JdbcSource, ParquetSource}
import graft.sql.QueryBuilder

/** What a run needs from a workload. `job` is the timed unit; `check`
  * throws when the job's output is wrong. Per-layer numbers come from the
  * spans the workload records through its `Trace`, the per-job values it
  * returns in `JobOut.layer`, and `isolated`.
  */
trait Workload {
  def generate(spark: SparkSession): Unit
  def job(spark: SparkSession, i: Int): JobOut
  def check(spark: SparkSession, out: JobOut, full: Boolean): Unit
  /** Traced run only: isolated measurements outside the timed jobs. */
  def isolated(spark: SparkSession): Map[String, Double] = Map.empty
  def cleanup(): Unit = ()
}

/** A job's result: exported rows and bytes (exports) or per-query
  * checksums (catalog), plus any per-job numbers for the traced run.
  */
final case class JobOut(rows: Long, bytes: Long, layer: Map[String, Double],
    export: Option[ExportJob.Result] = None, dir: Option[String] = None,
    sums: Map[String, (Long, BigDecimal)] = Map.empty)

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Workload {
  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Shared export half: ExportJob.run into a fresh directory, then the
  * output checks (manifest, record count, read-back checksum).
  */
abstract class ExportWorkload(work: String, trace: Trace, counters: Counters, cores: Int,
    val rows: Long, seed: Long, codec: String) extends Workload {
  import Workload.require

  protected var expected: (Long, BigDecimal) = (0L, BigDecimal(0))
  protected var sample: Array[org.apache.spark.sql.catalyst.InternalRow] = Array.empty
  private val jobLayer = scala.collection.mutable.Map[String, Double]()

  /** Traced run: Spark jobs the body starts, added to the job's `metric`. */
  protected def countingJobs[A](metric: String, spark: SparkSession)(body: => A): A =
    if (!trace.enabled) body
    else {
      BenchBus.drain(spark.sparkContext)
      val before = counters.snap()
      val a = body
      BenchBus.drain(spark.sparkContext)
      jobLayer(metric) = jobLayer.getOrElse(metric, 0.0) + (counters.snap() - before)("jobs")
      a
    }

  /** The export's input frame and its `_queries/` strings. */
  protected def source(spark: SparkSession): (DataFrame, Seq[String])

  protected def exportCfg: AvroSchemaGen.Config

  private def outDir(i: Int) = s"$work/out/job-$i"

  def job(spark: SparkSession, i: Int): JobOut = {
    val dir = outDir(i)
    jobLayer.clear()
    jobLayer("sources.read_jobs") = 0.0
    jobLayer("schema.probe_jobs") = 0.0
    val (df, queries) = source(spark)
    if (trace.enabled) trace("schema.generate") { AvroSchemaGen.generate(df.schema, exportCfg) }
    val before = counters.snap()
    val res = trace("jobs.export_run") {
      ExportJob.run(spark, df, dir, AvroSinkArgs(codec = codec), exportCfg, queries)
    }
    val layer = if (!trace.enabled) Map.empty[String, Double] else {
      BenchBus.drain(spark.sparkContext)
      val d = counters.snap() - before
      val m = res.metrics
      val tasks = drainExportTasks()
      Map(
        "sink.write_s" -> d("export_job_ms") / 1e3,
        "sink.task_s" -> m.writeElapsedMs / 1e3,
        "sink.first_row_s" -> m.executeQueryElapsedMs / 1e3,
        "sink.ms_per_million_rows" -> m.toMap("msPerMillionRows").toDouble,
        "sink.bytes" -> m.bytesWritten.toDouble,
        "sink.meter_flushes" -> m.meterFlushes.toDouble,
        "sink.task_s_max_over_median" -> (if (tasks.isEmpty) 0.0 else tasks.max / Stats.median(tasks)),
        "sources.rows" -> m.recordCount.toDouble) ++ jobLayer
    }
    JobOut(res.metrics.recordCount, res.metrics.bytesWritten, layer, Some(res), Some(dir))
  }

  private def drainExportTasks(): Seq[Double] = {
    val b = Seq.newBuilder[Double]
    var t = counters.exportTaskMs.poll()
    while (t != null) { b += t.toDouble; t = counters.exportTaskMs.poll() }
    b.result()
  }

  /** Part files a correct export writes. */
  def parts: Int

  def check(spark: SparkSession, out: JobOut, full: Boolean): Unit = {
    val dir = out.dir.get
    val m = out.export.get.metrics
    require(m.recordCount == rows, s"recordCount ${m.recordCount} != generated $rows")
    val committed = new File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".avro") && !n.startsWith(".") && !n.startsWith("_")).toSet
    val manifest = scala.io.Source.fromFile(s"$dir/${AvroSink.ManifestFile}").getLines().filter(_.nonEmpty).toSet
    require(manifest == committed, s"_MANIFEST ${manifest.toSeq.sorted} != committed ${committed.toSeq.sorted}")
    require(committed.size == parts, s"${committed.size} parts, expected $parts")
    if (full) {
      val got = Inputs.checksum(AvroSource.read(spark, dir))
      require(got == expected, s"read-back checksum $got != input $expected")
    }
    Workload.deleteTree(new File(dir))
  }

  /** Row sample for the isolated encode and codec+append timings. */
  protected def takeSample(df: DataFrame, n: Int): Unit = {
    val perPart = n / cores + 1
    sample = df.queryExecution.toRdd.mapPartitions(_.take(perPart).map(_.copy())).collect().take(n)
  }

  override def isolated(spark: SparkSession): Map[String, Double] = {
    val (df, _) = source(spark)
    val drain = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    takeSample(df, 20000)
    val fns = graft.sink.RowBinaryEncoder.compile(df.schema)
    val buf = new graft.sink.RowBinaryEncoder.ExposedByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get.directBinaryEncoder(buf, null)
    val encoded = sample.map { r =>
      buf.reset()
      graft.sink.RowBinaryEncoder.encodeRow(r, fns, enc)
      enc.flush()
      java.util.Arrays.copyOf(buf.rawBuffer, buf.size())
    }
    def encodeNs(): Double = {
      val t = System.nanoTime()
      var i = 0
      while (i < sample.length) {
        buf.reset()
        graft.sink.RowBinaryEncoder.encodeRow(sample(i), fns, enc)
        enc.flush()
        i += 1
      }
      (System.nanoTime() - t).toDouble / sample.length
    }
    val schema = AvroSchemaGen.generate(df.schema, exportCfg)
    def appendNs(): Double = {
      val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
      w.setCodec(AvroSink.codecFactory(codec))
      w.setSyncInterval(1 << 20)
      val t = System.nanoTime()
      w.create(schema, java.io.OutputStream.nullOutputStream())
      encoded.foreach(b => w.appendEncoded(java.nio.ByteBuffer.wrap(b)))
      w.close()
      (System.nanoTime() - t).toDouble / encoded.length
    }
    val reps = 7
    Map(
      "sources.drain_s" -> drain,
      "sink.encode_ns_per_row" -> Stats.median((1 to reps).map(_ => encodeNs())),
      "sink.append_codec_ns_per_row" -> Stats.median((1 to reps).map(_ => appendNs())))
  }

  override def cleanup(): Unit = Workload.deleteTree(new File(s"$work/out"))
}

/** `export_parquet`: generated demo_table in `cores` parquet files →
  * ParquetSource → typed_first_row probe → ExportJob.run (deflate6).
  */
final class ExportParquet(work: String, trace: Trace, counters: Counters, cores: Int, rows: Long, seed: Long)
    extends ExportWorkload(work, trace, counters, cores, rows, seed, "deflate6") {

  private val inDir = s"$work/in/demo_table"
  private val qArgs = QueryArgs(QueryBuilder.fromTable(Inputs.DerbyTable))
  protected val exportCfg = AvroSchemaGen.Config(tableName = Inputs.DerbyTable, connectionUrl = s"parquet:$inDir")
  def parts: Int = cores

  def generate(spark: SparkSession): Unit = {
    Inputs.writeParquet(spark, seed, rows, cores, inDir)
    expected = Inputs.checksum(Inputs.asExported(spark.read.parquet(inDir)))
  }

  protected def source(spark: SparkSession): (DataFrame, Seq[String]) = {
    val df = countingJobs("sources.read_jobs", spark) {
      trace("sources.read") {
        AvroSink.ensureWriteParallelism(ParquetSource(inDir, Inputs.DerbyTable, qArgs).read(spark), cores)
      }
    }
    countingJobs("schema.probe_jobs", spark) { trace("schema.probe") { AvroSchemaGen.probeFirstRowArrays(df) } }
    val queries = trace("sql.build_queries") { qArgs.buildQueries(_ => (0L, 0L)) }
    (df, queries)
  }
}

/** `export_jdbc`: generated demo_table (no arrays) in embedded Derby →
  * the steps of `JdbcSource.read` (bounds probe, `predicates` from
  * `ParallelRanges`, `spark.read.jdbc` with fetchsize 10000) →
  * ExportJob.run (zstandard1). `JdbcSource.read` itself cannot be called:
  * `ConnectionArgs.driverFor` maps no derby scheme.
  */
final class ExportJdbc(work: String, trace: Trace, counters: Counters, cores: Int, rows: Long, seed: Long)
    extends ExportWorkload(work, trace, counters, cores, rows, seed, "zstandard1") {

  private val url = Inputs.derbyUrl(seed)
  private val qArgs = QueryArgs(QueryBuilder.fromTable(Inputs.DerbyTable),
    splitColumn = Some(Inputs.DerbySplitColumn), queryParallelism = Some(cores))
  protected val exportCfg = AvroSchemaGen.Config(tableName = Inputs.DerbyTable, connectionUrl = url)
  private val dbtable = s"(${qArgs.filteredAndLimited.build}) graft_export"
  private var lastPredicates: Array[String] = Array.empty
  def parts: Int = lastPredicates.length

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p.setProperty("user", "APP") // Derby: the user names the default schema
    p.setProperty("fetchsize", "10000")
    p
  }

  def generate(spark: SparkSession): Unit = {
    Inputs.loadDerby(spark, seed, rows, cores, props)
    expected = Inputs.checksum(Inputs.asExported(Inputs.demoTable(spark, seed, rows, cores, withArrays = false)))
  }

  protected def source(spark: SparkSession): (DataFrame, Seq[String]) = {
    val p = props
    val (df, bounds) = countingJobs("sources.read_jobs", spark) { trace("sources.read") {
      val b = trace("sql.bounds_probe") {
        val r = spark.read.jdbc(url, dbtable, p).agg(min(col(Inputs.DerbySplitColumn)), max(col(Inputs.DerbySplitColumn))).head()
        (r.getLong(0), r.getLong(1))
      }
      val preds = trace("sql.predicates") {
        JdbcSource(ConnectionArgs(url), qArgs).predicates(_ => b)
      }
      lastPredicates = preds
      (spark.read.jdbc(url, dbtable, preds, p), b)
    } }
    countingJobs("schema.probe_jobs", spark) { trace("schema.probe") { AvroSchemaGen.probeFirstRowArrays(df) } }
    val queries = trace("sql.build_queries") { qArgs.buildQueries(_ => bounds) }
    (df, queries)
  }

  override def isolated(spark: SparkSession): Map[String, Double] = {
    val c = java.sql.DriverManager.getConnection(url)
    val counts = try lastPredicates.toSeq.map { pred =>
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${Inputs.DerbyTable} WHERE $pred")
      rs.next()
      rs.getLong(1).toDouble
    } finally c.close()
    super.isolated(spark) ++ Map(
      "sql.ranges" -> counts.size.toDouble,
      "sql.range_rows_max_over_mean" -> counts.max / (counts.sum / counts.size))
  }

  override def cleanup(): Unit = {
    super.cleanup()
    Inputs.dropDerby(seed)
  }
}

/** `catalog_mix`: one pass over six catalog queries on the fixture
  * re-laid into `cores` row-shuffled part files. The action per query is
  * count plus an order-independent checksum, checked against pinned
  * values that hold for every seed.
  */
final class CatalogMix(work: String, trace: Trace, counters: Counters, cores: Int, fixture: String,
    pinned: Map[String, (Long, BigDecimal)], seed: Long) extends Workload {

  private val dir = s"$work/in/catalog"

  def generate(spark: SparkSession): Unit = Inputs.relayFixture(spark, fixture, dir, seed, cores)

  def job(spark: SparkSession, i: Int): JobOut = {
    val layer = Map.newBuilder[String, Double]
    val sums = CatalogMix.Queries.map { q =>
      val before = if (trace.enabled) Some(counters.snap()) else None
      val t0 = System.nanoTime()
      val s = trace(s"operators.$q") { Inputs.checksum(graft.SparkEntry.queries(q)(spark, dir)) }
      val secs = (System.nanoTime() - t0) / 1e9
      before.foreach { b =>
        BenchBus.drain(spark.sparkContext)
        val d = counters.snap() - b
        layer ++= Seq(
          s"operators.$q.s" -> secs,
          s"operators.$q.task_s" -> d("task_ms") / 1e3,
          s"operators.$q.stages" -> d("stages").toDouble,
          s"operators.$q.shuffle_bytes" -> d("shuffle_write_bytes").toDouble,
          s"operators.$q.spill_bytes" -> d("spill_bytes").toDouble,
          s"operators.$q.gc_s" -> d("gc_ms") / 1e3)
      }
      q -> s
    }.toMap
    JobOut(sums.values.map(_._1).sum, 0L, layer.result(), sums = sums)
  }

  def check(spark: SparkSession, out: JobOut, full: Boolean): Unit = {
    val wrong = CatalogMix.Queries.filterNot(q => pinned.get(q).contains(out.sums(q)))
    Workload.require(wrong.isEmpty, wrong.map(q =>
      s"$q: (count, checksum) ${out.sums(q)} != pinned ${pinned.get(q)}").mkString("; "))
  }

  override def cleanup(): Unit = Workload.deleteTree(new File(dir))
}

object CatalogMix {
  val Queries: Seq[String] = Seq("q5_multi_join", "graph_pagerank", "graph_components",
    "dedup_semantic", "ann_ivfpq_check", "text_containment")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
