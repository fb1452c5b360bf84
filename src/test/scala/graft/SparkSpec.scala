package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for test suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // static conf, sized by whichever session compiles first: match production
    .config("spark.sql.codegen.cache.maxEntries", SessionFactory.CodegenCacheMaxEntries.toLong)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val testDataDir = "/root/testdata/sf0.001"
}
