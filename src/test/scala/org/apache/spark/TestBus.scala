package org.apache.spark

/** Drain of the listener bus for the job-counting specs: blocks until
  * every event posted so far has reached every listener, so a count
  * taken after it includes every job start and end posted before it.
  * `listenerBus` is package-private to Spark.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
