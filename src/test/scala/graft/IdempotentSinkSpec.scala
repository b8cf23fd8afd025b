package graft

import org.apache.spark.sql.functions._
import graft.streaming.IdempotentSink

/** The foreachBatch parquet sink must (a) persist exactly the batch
  * answer and (b) replace — not duplicate — a batch's output when the
  * same batch id is written again (the restart/replay path).
  */
class IdempotentSinkSpec extends SparkSpec {

  test("stream lands as parquet equal to the batch answer; replay does not duplicate") {
    withTempDir("graft_sink") { base =>
      val srcDir = s"$base/src"
      val events = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("value"))
      events.write.mode("overwrite").parquet(srcDir)

      val stream = spark.readStream.schema(events.schema).parquet(srcDir)
      val q = IdempotentSink.start(stream, s"$base/out", s"$base/ckpt", "graft_sink_spec")
      q.processAllAvailable()
      q.stop()

      val landed = spark.read.parquet(s"$base/out")
      assert(landed.count() == events.count())
      assert(landed.agg(sum(col("event_id"))).head().getLong(0) ==
        events.agg(sum(col("event_id"))).head().getLong(0))

      // replay batch 0 (what a restart after a lost commit does): the
      // overwrite of batch_id=0 must leave the table unchanged
      val batch0 = spark.read.parquet(s"$base/out/batch_id=0").cache()
      batch0.count() // materialize before overwrite deletes the source files
      batch0.write.mode("overwrite").parquet(s"$base/out/batch_id=0")
      batch0.unpersist()
      assert(spark.read.parquet(s"$base/out").count() == events.count())
    }
  }
}
