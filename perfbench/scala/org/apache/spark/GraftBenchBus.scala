package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a traced operation's jobs, tasks and query-execution events are all
  * counted before the next operation starts. `listenerBus` is
  * package-private, hence this file's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
