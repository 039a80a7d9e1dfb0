package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the bench's
  * [[graft.Profiler]] and perfbench's tracer drain it before reading
  * their totals (listener events post asynchronously, so reading right
  * after a job finishes undercounts). Same re-export pattern as
  * [[org.apache.spark.rdd.GraftRddBridge]]. */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
