package org.apache.spark

/** The one Spark-internal call the benchmark makes: waiting until the
  * listener bus has delivered every posted event, so counters read
  * after an operation include that operation. (Spark's own test suites
  * use the same call for the same reason.)
  */
object LakebenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
