package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.args.{ConnectionArgs, QueryArgs}
import graft.jobs.ExportJob
import graft.schema.AvroSchemaGen
import graft.sources.{AvroSource, JdbcSource}
import graft.sql.QueryBuilder

/** The JDBC product path on a real driver: embedded Derby
  * (`jdbc:derby:memory:`), `JdbcSource.read` → `ExportJob.run`. Pins that
  * the split-bounds probe is the reference's MIN/MAX query run in the
  * database (one row read), once per source, not an aggregate over a
  * Spark scan of the whole split column.
  */
class DerbyJdbcSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val Rows = 1000

  /** Records read by all tasks that end while `body` runs. */
  private def recordsRead[A](body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val read = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, read.get)
    } finally sc.removeSparkListener(listener)
  }

  test("Derby export: bounds probed once in the database, 4 ranges, every row exported") {
    val url = "jdbc:derby:memory:graft_bounds_probe;create=true"
    // Derby's default schema is the user name; APP is where tables land.
    val conn = ConnectionArgs(url, username = "APP")
    val c = conn.createConnection()
    try {
      c.createStatement().execute(
        "CREATE TABLE demo (row_num BIGINT NOT NULL PRIMARY KEY, name VARCHAR(32))")
      val ps = c.prepareStatement("INSERT INTO demo VALUES (?, ?)")
      (1 to Rows).foreach { i => ps.setLong(1, i * 3L); ps.setString(2, s"name-$i"); ps.addBatch() }
      ps.executeBatch()
    } finally c.close()

    val args = QueryArgs(QueryBuilder.fromTable("demo"),
      splitColumn = Some("row_num"), queryParallelism = Some(4))
    val source = JdbcSource(conn, args)
    val (df, probeRead) = recordsRead(source.read(spark))
    assert(probeRead == 1L, s"the bounds probe read $probeRead records, expected its one result row")

    val (queries, queriesRead) = recordsRead(source.queries(spark))
    assert(queriesRead == 0L, "queries() must reuse the bounds read() probed")
    assert(queries == args.buildQueries(_ => (3L, 3L * Rows)))

    val out = Files.createTempDirectory("derby-export").toString
    val (res, exportRead) = recordsRead(ExportJob.run(spark, df, out,
      schemaCfg = AvroSchemaGen.Config(tableName = "demo", connectionUrl = url), queries = queries))
    assert(res.metrics.recordCount == Rows)
    assert(exportRead == Rows.toLong)
    assert(new java.io.File(out).listFiles().count(_.getName.matches("part-0000[0-3]-of-00004\\.avro")) == 4)
    val back = AvroSource.read(spark, out)
    assert(back.count() == Rows)
    assert(back.agg(org.apache.spark.sql.functions.sum("ROW_NUM")).head().getLong(0) ==
      3L * Rows * (Rows + 1) / 2)
  }

  test("derby scheme maps to Derby's autoloaded driver") {
    assert(ConnectionArgs.driverFor("jdbc:derby:memory:x") == "org.apache.derby.iapi.jdbc.AutoloadedDriver")
  }
}
