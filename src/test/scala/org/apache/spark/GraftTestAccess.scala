package org.apache.spark

/** The listener bus drain is package-private to Spark; specs that count
  * the jobs and tasks of an action they just ran need it. */
object GraftTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
