package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * counter snapshot taken after an action includes that action's tasks.
  * The bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
