package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * event posted so far has reached the registered listeners, so the
  * per-op counters are complete before they are read. Lives in
  * Spark's package because `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
