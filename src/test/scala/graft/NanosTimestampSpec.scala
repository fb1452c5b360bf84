package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite

import graft.args.QueryArgs
import graft.sources.ParquetSource
import graft.sql.QueryBuilder

/** Production sessions leave `spark.sql.legacy.parquet.nanosAsLong` off
  * (see [[SessionFactory]]), so a parquet TIMESTAMP(NANOS) input fails the
  * export loudly instead of being exported as raw bigint nanos. Runs on a
  * fresh `newSession()`: `Relational.events` sets the flag on the shared
  * test session.
  */
class NanosTimestampSpec extends AnyFunSuite {

  private def nanosFile(): String = {
    val file = Files.createTempDirectory("graft-nanos").resolve("ts.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    file
  }

  test("ParquetSource.read rejects TIMESTAMP(NANOS) and names the type") {
    val src = ParquetSource(nanosFile(), "t", QueryArgs(QueryBuilder.fromTable("t")))
    val spark = SparkSpec.spark.newSession()
    val err = intercept[Exception](src.read(spark))
    assert(err.getMessage.contains("PARQUET_TYPE_ILLEGAL"), err.getMessage)
    assert(err.getMessage.contains("TIMESTAMP(NANOS,true)"), err.getMessage)
    // the harness opt-in (Bench, Verify) still reads it, as raw nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(src.read(spark).head().getLong(0) == 1700000000123456789L)
  }
}
