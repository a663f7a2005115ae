package org.apache.spark.rdd

import org.apache.spark.SparkContext

/** The two private[spark] hooks the benchmark's tracer needs: draining
  * the listener bus so an operation's events are all delivered before
  * its counters are read, and telling a local checkpoint apart from a
  * plain persisted RDD when counting what an operation left behind.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isLocalCheckpoint(r: RDD[_]): Boolean = r.isLocallyCheckpointed
}
