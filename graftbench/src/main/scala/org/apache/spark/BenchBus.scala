package org.apache.spark

/** Drains the listener bus so a traced op's job, task and query-execution
  * events are all delivered before its counters are read. The bus is
  * `private[spark]`; this is the one accessor the harness needs. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
