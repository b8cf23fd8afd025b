package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Bridge to the `private[spark]` listener bus, so a caller that counts
  * events with a `SparkListener` can wait until every event posted so
  * far has been delivered instead of sleeping and hoping.
  */
object ListenerBusBridge {
  /** Blocks until the bus has delivered every queued event (throws
    * `TimeoutException` after Spark's default of 10 s). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operation scopes of a stage's RDDs, in RDD order and without
    * repeats (`Exchange`, `WholeStageCodegen (3)`, ...): what a stage
    * runs, where its name is only the call site that submitted it. */
  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
}
