package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Spark delivers listener events asynchronously and offers the wait only
  * inside its own package, so the benchmark reaches it from here: after a
  * drain, the counters its listeners keep cover every finished job. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
