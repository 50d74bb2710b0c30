package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer calls it after each step so that every task-end event of
  * the step has reached its listener before the step's totals are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
