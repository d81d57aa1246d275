package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a traced run's job, task, streaming and query records are
  * complete before they are summed. */
object BenchBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
