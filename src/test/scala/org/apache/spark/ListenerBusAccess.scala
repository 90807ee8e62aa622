package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps package
  * private: status-tracker and listener assertions first wait until every
  * posted event has been delivered, so they read the scheduler's state as
  * of the call instead of racing the asynchronous bus. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
