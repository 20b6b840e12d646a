package org.apache.spark

/** Access to the scheduler's listener bus, which Spark keeps private to
  * its own packages: the benchmark must see every job event of a facade
  * call before it aggregates the call's trace.
  */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
