package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus, so a caller that counts
  * events with a `SparkListener` can wait until every event posted so
  * far has been delivered instead of sleeping and hoping.
  */
object ListenerBusBridge {
  /** Blocks until the bus has delivered every queued event (throws
    * `TimeoutException` after Spark's default of 10 s). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
