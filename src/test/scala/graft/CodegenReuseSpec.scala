package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache is JVM-wide and LRU; at its default of
  * 100 entries a working set larger than that is recompiled by Janino on
  * every pass. With the cap from [[SessionFactory.CodegenCacheMaxEntries]]
  * (mirrored by [[SparkSpec]]) a second pass over the same plans must
  * compile nothing: `CodegenMetrics.METRIC_COMPILATION_TIME` records one
  * sample per cache miss.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** Above the default cap, well under the engine's. */
  private val Plans = 200

  /** One whole-stage-codegen stage per plan (Range + Project); codegen
    * inlines the integer literal, so every `k` is a distinct class.
    */
  private def pass(): Unit = (0 until Plans).foreach { k =>
    spark.range(0, 4, 1, 1).selectExpr(s"id * 7919 + $k AS v").collect()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test(s"a second pass over $Plans distinct codegen plans compiles no class") {
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 - c0 >= Plans, "the first pass must compile one class per plan")
    pass()
    assert(compiles - c1 == 0, s"second pass recompiled ${compiles - c1} classes")
  }
}
