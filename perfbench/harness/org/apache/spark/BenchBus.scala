package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading its listener's state so every job, stage and query
  * execution of the run has been accounted for.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
