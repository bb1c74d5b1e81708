package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's recorder has seen all jobs and SQL executions of a finished
  * operation before it attributes them. The listener bus is Spark-private,
  * hence this one-method bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
