package org.apache.spark

/** A read the tests need that Spark keeps internal. */
object GraftTestAccess {

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
