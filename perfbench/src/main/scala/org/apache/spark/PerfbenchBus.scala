package org.apache.spark

/** Lets the benchmark's tracer wait until every listener has seen every
  * event posted so far (the bus is package-private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
