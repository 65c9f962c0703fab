package org.apache.spark

/** The one non-public Spark hook the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so per-op
  * job and stage counts are complete before they are read. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
