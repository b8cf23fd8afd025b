package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev main: per-query execution profile — wall seconds plus the
  * structural counters the wall is made of (jobs, stages, tasks, task
  * time, shuffle bytes, records read). The optimization guide (§1) says
  * measure first; at bench scale (sf0.1) most queries are dominated by
  * fixed per-job/per-stage overhead rather than bytes, so job/stage
  * counts are the lever this main exists to expose.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Profile [queryName ...]
  * Each query runs twice (first run pays staging/codegen; the second,
  * warm run is the one profiled — the Bench best-of-N discipline).
  * Output: one TSV line per query on stdout between PROFILE_BEGIN /
  * PROFILE_END markers.
  */
object Profile {
  /** GRAFT_PROFILE_JOBS=1: additionally print one line per Spark job
    * (duration, #tasks, description/callsite) — identifies WHICH of a
    * query's jobs carry the wall when the count is the cost. */
  private class JobLog extends SparkListener {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(Option(j.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      starts.put(j.jobId, (System.nanoTime(), desc))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = starts.remove(j.jobId)
      if (s != null)
        println(f"  job ${j.jobId}%4d ${(System.nanoTime() - s._1) / 1e3}%9.0f us  ${s._2}")
    }
    override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
      val i = st.stageInfo
      println(f"    stage ${i.stageId}%4d ${i.numTasks}%4d tasks  ${i.name.take(90)}")
    }
  }

  /** Counters summed over every job, stage and task it hears of.
    * `records` is input records read (`inputMetrics.recordsRead`): the
    * bytes counter undercounts parquet scans (q1's 10.8 MB lineitem
    * scan read as 17.8 KB), the record count is exact. */
  private[graft] class Acc extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    println("PROFILE_BEGIN")
    println("query\twall_s\tjobs\tstages\ttasks\ttask_s\tgc_s\tshuf_read_mb\tshuf_write_mb\trecords_read")
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // warm pass (staging + codegen), untimed
      try fn(spark, sf).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => System.err.println(s"[profile] warm $n: ${e.getMessage}") }
      val acc = new Acc
      spark.sparkContext.addSparkListener(acc)
      val jlog = if (sys.env.get("GRAFT_PROFILE_JOBS").contains("1")) {
        val l = new JobLog; spark.sparkContext.addSparkListener(l); Some(l)
      } else None
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sf).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $n failed: ${e.getMessage}"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      // the listener bus is asynchronous: deliver queued task-end events
      org.apache.spark.graftbridge.ListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(acc)
      jlog.foreach(spark.sparkContext.removeSparkListener)
      if (ok) {
        val mb = (b: Long) => b / 1048576.0
        println(f"$n\t$wall%.3f\t${acc.jobs.get}\t${acc.stages.get}\t${acc.tasks.get}\t${acc.taskMs.get / 1e3}%.2f\t${acc.gcMs.get / 1e3}%.2f\t${mb(acc.shufRead.get)}%.1f\t${mb(acc.shufWrite.get)}%.1f\t${acc.records.get}")
      } else println(s"$n\tFAILED")
      System.out.flush()
    }
    println("PROFILE_END")
    spark.stop()
  }
}
