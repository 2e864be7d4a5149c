package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so counts read at a span boundary include the jobs and
  * queries that ran inside the span. Lives in this package only because
  * the listener bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
