package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Spark delivers `Observation` results through the asynchronous
  * listener bus, whose handle is `private[spark]` upstream. This shim
  * re-exports the one call needed to tell "the observed query has not
  * run" from "its completion event is still queued": wait until every
  * event posted so far has been delivered. No Spark internals are
  * modified.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
