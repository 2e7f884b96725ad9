package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The bus queue is private to Spark's package; this object lives
  * there only to reach it, so the traced run can attribute each lane's jobs,
  * tasks and query executions before the next lane starts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
