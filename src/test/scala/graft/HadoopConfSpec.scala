package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.ExportJob
import graft.schema.AvroSchemaGen
import graft.sources.AvroSource

/** The local filesystem under the `graftconf://` scheme. It is registered
  * only in the driver's `sc.hadoopConfiguration`, so a task that builds its
  * own `new Configuration()` cannot resolve the scheme.
  */
class ConfOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${ConfOnlyFileSystem.Scheme}:///")
  override def getScheme: String = ConfOnlyFileSystem.Scheme
}

object ConfOnlyFileSystem {
  val Scheme = "graftconf"
}

/** Sink and AvroSource tasks open files with the driver's Hadoop conf:
  * a filesystem configured only there is usable for export and read-back.
  */
class HadoopConfSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("export to and read back from a filesystem registered only in sc.hadoopConfiguration") {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = s"fs.${ConfOnlyFileSystem.Scheme}.impl"
    val noCache = s"fs.${ConfOnlyFileSystem.Scheme}.impl.disable.cache"
    conf.set(impl, classOf[ConfOnlyFileSystem].getName)
    conf.setBoolean(noCache, true)
    try {
      val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
      val rows = (0 until 50).map(i => Row(i.toLong, s"n$i"))
      val df = spark.createDataFrame(rows.asJava, schema).repartition(3)
      val out = s"${ConfOnlyFileSystem.Scheme}://${Files.createTempDirectory("conf-fs").toString}/out"
      val res = ExportJob.run(spark, df, out, schemaCfg = AvroSchemaGen.Config(tableName = "t"))
      assert(res.metrics.recordCount == 50)
      val back = AvroSource.read(spark, out).collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(back.toSeq == rows.map(r => (r.getLong(0), r.getString(1))))
    } finally {
      conf.unset(impl)
      conf.unset(noCache)
    }
  }
}
