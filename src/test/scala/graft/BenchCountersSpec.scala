package graft

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}

/** Bench's per-query counters checked against known inputs. */
class BenchCountersSpec extends SparkSpec {

  /** The counters of the second of two timed samples of `fn`, taken as
    * the sweep takes them (the first stages and compiles, as Bench's
    * warm-up does); `probe` wraps the second sample's function. */
  private def warmSample(fn: QFn, probe: QFn => QFn = identity): Bench.Counters = {
    val listener = new Bench.CounterListener
    spark.sparkContext.addSparkListener(listener)
    try {
      Bench.sample(spark, listener, fn, sf)
      Bench.sample(spark, listener, probe(fn), sf)._2
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q1: records_read is lineitem's row count; building it runs no job") {
    val lineitemRows = Tables.lineitem(spark, sf).count()
    val c = warmSample(SparkEntry.queries("q1_agg"))
    assert(c.recordsRead == lineitemRows)
    // Tables.lineitem reads its schema from the file footer on the
    // driver, not in a Spark job
    assert(c.buildJobs == 0, c)
    assert(c.jobs > 0 && c.stages > 0 && c.tasks >= c.stages, c)
  }

  test("g14: build_jobs are the jobs started before the query's function returned") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val seen = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    var (before, atReturn) = (0, 0)
    val probe: QFn => QFn = fn => (s, d) => {
      ListenerBusBridge.drain(sc)
      before = started.get
      val df = fn(s, d)
      ListenerBusBridge.drain(sc)
      atReturn = started.get
      df
    }
    sc.addSparkListener(seen)
    val c =
      try warmSample(SparkEntry.queries("g14_workflow_run"), probe)
      finally sc.removeSparkListener(seen)
    assert(atReturn > before, "g14 materializes while it is built")
    assert(c.buildJobs == atReturn - before, c)
    assert(c.jobs == started.get - before, c)
    assert(c.buildS > 0, c)
  }

  test("compiles: a query's first sample compiles its classes, an immediate repeat none") {
    // a literal Spark inlines into the generated code, new to this
    // JVM, so no earlier suite can have compiled these classes
    val nonce = System.nanoTime()
    val fn: QFn = (s, _) => s.range(1000)
      .filter(col("id") % 7 =!= lit(nonce % 7))
      .select((col("id") * 3 + lit(nonce)).as("x"))
    val listener = new Bench.CounterListener
    spark.sparkContext.addSparkListener(listener)
    val Seq(first, repeat) =
      try Seq.fill(2)(Bench.sample(spark, listener, fn, sf)._2)
      finally spark.sparkContext.removeSparkListener(listener)
    assert(first.compiles >= 1, first)
    assert(repeat.compiles == 0, repeat)
  }
}
