package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.operators.Spread._

/** The scan-spread decision is made without running a Spark job, and
  * it still spreads exactly the single-partition, exchange-free scans.
  */
class SpreadSpec extends SparkSpec {

  /** Jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val bus = org.apache.spark.graftbridge.ListenerBusBridge
    bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      bus.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def spreads(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.exists(_.isInstanceOf[ShuffleExchangeExec])

  test("spreadToCores runs no job on an aggregated input") {
    val agg = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val (out, jobs) = jobsDuring(agg.spreadToCores)
    assert(jobs == 0, s"spreadToCores ran $jobs job(s) on an input with an exchange")
    assert(out eq agg)
  }

  test("spreadToCores spreads a narrow scan, keeps a wide one") {
    val target = spark.sessionState.conf.numShufflePartitions
    val scan = Tables.embeddings(spark, sf)
    assert(scan.rdd.getNumPartitions < target, "fixture: the sf corpus scans narrow")
    val (spread, jobs1) = jobsDuring(scan.spreadToCores)
    assert(jobs1 == 0 && spreads(spread))
    val wide = spark.range(0, 1000, 1, target).select((col("id") * 2).as("x"))
    val (kept, jobs2) = jobsDuring(wide.spreadToCores)
    assert(jobs2 == 0 && (kept eq wide))
  }

  test("spreadToCores reads a broadcast join's streamed-side width") {
    // the d20 shape: a scan filtered against a broadcast one-row max
    // (whose aggregate shuffles on the build side only)
    val docs = Tables.documents(spark, sf)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val hist = docs.crossJoin(broadcast(mx)).filter(col("doc_id") <= col("mx") - 5)
    val (spread, jobs) = jobsDuring(hist.spreadToCores)
    assert(jobs == 0, s"spreadToCores ran $jobs job(s) on a broadcast join")
    assert(spreads(spread), "a single-partition streamed scan must still be spread")
  }
}
