package org.apache.spark

/** The listener bus drain is private to Spark; the traced run needs it
  * so that every task and query event of an operation has arrived before
  * the operation's counts are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
