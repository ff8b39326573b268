package org.apache.spark

/** Drain of the listener bus for the benchmark's tracer: blocks until
  * every event posted so far has been delivered to every listener, so
  * a traced operation's record closes only after the listener has seen
  * all of its jobs. `listenerBus` is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
