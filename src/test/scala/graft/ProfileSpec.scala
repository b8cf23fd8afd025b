package graft

/** Profile's counters checked against a known input. */
class ProfileSpec extends SparkSpec {

  test("records_read equals the row count of the table q1 scans") {
    val lineitemRows = Tables.lineitem(spark, sf).count()
    val acc = new Profile.Acc
    spark.sparkContext.addSparkListener(acc)
    try SparkEntry.queries("q1_agg")(spark, sf).write.mode("overwrite").format("noop").save()
    finally {
      // the listener bus is asynchronous: deliver queued task-end events
      org.apache.spark.graftbridge.ListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(acc)
    }
    assert(acc.records.get == lineitemRows)
  }
}
