package graft

import java.io.File
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.AvroSchemaGen
import graft.sink.AvroSink

/** The sink's two row sources write the same records. A plain parquet scan
  * takes the batch path (rows read in place from the column vectors); the
  * same data behind a filter, a limit or a reordered projection takes the
  * row path (`toRdd`). Every exported type is covered, including empty and
  * multi-byte strings and null array items under `nullableArrayItems`.
  */
class SinkPathSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("i", IntegerType),
    StructField("s16", ShortType),
    StructField("b8", ByteType),
    StructField("flag", BooleanType),
    StructField("f", FloatType),
    StructField("d", DoubleType),
    StructField("bin", BinaryType),
    StructField("dec", DecimalType(12, 3)),
    StructField("wide_dec", DecimalType(30, 7)),
    StructField("str", StringType),
    StructField("ts", TimestampType),
    StructField("ts_ntz", TimestampNTZType),
    StructField("day", DateType),
    StructField("longs", ArrayType(LongType)),
    StructField("ints", ArrayType(IntegerType)),
    StructField("doubles", ArrayType(DoubleType)),
    StructField("floats", ArrayType(FloatType)),
    StructField("bools", ArrayType(BooleanType)),
    StructField("strs", ArrayType(StringType)),
    StructField("bins", ArrayType(BinaryType))))

  private val strings = Vector("", "plain", "héllo wörld", "日本語テキスト", "emoji 🚀✓", "x" * 300)

  private def row(k: Int): Row = {
    def nullEvery(n: Int)(v: Any): Any = if (k % n == n - 1) null else v
    def items[A](f: Int => A): Seq[Any] = (0 until k % 4).map(j => if ((k + j) % 5 == 4) null else f(j))
    Row(
      k.toLong * 1000003L,
      nullEvery(7)(k * 31 - 500),
      (k % 300 - 150).toShort,
      (k % 200 - 100).toByte,
      nullEvery(5)(k % 2 == 0),
      k * 0.25f,
      nullEvery(6)(k * -1.5e10),
      nullEvery(8)(Array.tabulate(k % 5)(j => (k + j).toByte)),
      nullEvery(4)(new java.math.BigDecimal(k * 7919L).movePointLeft(3)),
      new java.math.BigDecimal(s"${k}123456789012.${"%07d".format(k)}"),
      nullEvery(9)(strings(k % strings.length) + (if (k % 3 == 0) "" else s"#$k")),
      nullEvery(10)(Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:58.999999Z").plusSeconds(k * 3607L))),
      LocalDateTime.parse("2026-03-01T12:00:00.123456").plusMinutes(k),
      nullEvery(11)(Date.valueOf(java.time.LocalDate.parse("1999-12-31").plusDays(k))),
      items(j => (k * 10 + j).toLong),
      items(j => k - j),
      items(j => k / (j + 1.0)),
      items(j => (k + j) * 0.5f),
      items(j => (k + j) % 2 == 1),
      items(j => strings((k + j) % strings.length)),
      items(j => Array.fill(j + 1)(k.toByte)))
  }

  private val rows = (0 until 240).map(row)

  /** Small column batches, so each partition spans several reused batches. */
  private def session(offHeap: Boolean): SparkSession = {
    val s = SparkSpec.spark.newSession()
    s.conf.set("spark.sql.parquet.columnarReaderBatchSize", "16")
    s.conf.set("spark.sql.columnVector.offheap.enabled", offHeap.toString)
    s
  }

  private lazy val parquetDir: String = {
    val dir = Files.createTempDirectory("sink-path-in").toString + "/t"
    SparkSpec.spark.createDataFrame(rows.asJava, schema).repartition(3).write.parquet(dir)
    dir
  }

  private def exportRecords(df: DataFrame, nullableArrayItems: Boolean = true): Vector[String] = {
    val out = Files.createTempDirectory("sink-path-out").toString
    val avro = AvroSchemaGen.generate(df.schema,
      AvroSchemaGen.Config(tableName = "t", nullableArrayItems = nullableArrayItems))
    val m = AvroSink.write(df, avro, out, "deflate1", nullableArrayItems = nullableArrayItems)
    assert(m.recordCount == rows.size)
    decode(out)
  }

  /** Records as field-name-sorted strings, sorted, so field and row order
    * do not matter.
    */
  private def decode(dir: String): Vector[String] = {
    def show(v: Any): String = v match {
      case null => "null"
      case b: java.nio.ByteBuffer =>
        val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a.mkString("bytes[", ",", "]")
      case l: java.util.Collection[_] => l.asScala.map(show).mkString("[", ",", "]")
      case other => s"${other.getClass.getSimpleName}:$other"
    }
    new File(dir).listFiles().filter(_.getName.endsWith(".avro")).toVector.flatMap { f =>
      val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.map { rec =>
        rec.getSchema.getFields.asScala.map(_.name).sorted.map(n => s"$n=${show(rec.get(n))}").mkString(" ")
      }.toVector
      finally r.close()
    }.sorted
  }

  test("batch path and row path write identical records for every exported type") {
    val spark = session(offHeap = false)
    val scan = spark.read.parquet(parquetDir)
    assert(AvroSink.columnarScan(scan).isDefined, scan.queryExecution.executedPlan.treeString)
    val batch = exportRecords(scan)
    assert(batch.size == rows.size)
    assert(batch.exists(_.contains("str=Utf8:日本語テキスト")), batch.take(3))
    assert(batch.exists(_.contains("str=Utf8: strs=")), "the empty string must survive as an empty string")
    assert(batch.exists(_.contains("strs=[Utf8:emoji 🚀✓")))

    val rowPaths = Seq(
      "filter" -> scan.filter(col("id") >= 0),
      "limit" -> scan.limit(rows.size * 2),
      "reordered select" -> scan.select(schema.fieldNames.reverse.map(col).toIndexedSeq: _*))
    rowPaths.foreach { case (name, df) =>
      assert(AvroSink.columnarScan(df).isEmpty, s"$name must take the row path")
      assert(exportRecords(df) == batch, s"$name: row path differs from the batch path")
    }
  }

  test("off-heap column vectors: strings copied out, same records") {
    val onHeap = exportRecords(session(offHeap = false).read.parquet(parquetDir))
    val df = session(offHeap = true).read.parquet(parquetDir)
    assert(AvroSink.columnarScan(df).isDefined)
    val strIdx = schema.fieldIndex("str")
    val offHeapStrings = AvroSink.columnarScan(df).get.executeColumnar()
      .map(b => b.column(strIdx).getClass.getSimpleName).collect().toSet
    assert(offHeapStrings == Set("OffHeapColumnVector"), offHeapStrings)
    assert(exportRecords(df) == onHeap)
  }

  test("a null array item without nullableArrayItems still fails with the targeted error") {
    val spark = session(offHeap = false)
    val scan = spark.read.parquet(parquetDir)
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    Seq("batch" -> scan, "row" -> scan.filter(col("id") >= 0)).foreach { case (name, df) =>
      val e = intercept[Exception](exportRecords(df, nullableArrayItems = false))
      assert(messages(e).exists(_.contains("nullableArrayItems")), s"$name path: ${messages(e)}")
    }
  }
}
