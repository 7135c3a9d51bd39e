package org.apache.spark

/** Lets the benchmark wait until Spark's listeners, its own among them,
  * have seen every event of the jobs that already ended (the bus drain
  * is Spark-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
