package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._

/** Keeps the Spark scheduler's job, stage and task events in memory
  * until the run ends. Jobs and stages are parented by the span id the
  * benchmark sets as a local property on the driver thread before each
  * public call ([[Recorder.SpanKey]]); tasks are tied to their stage.
  * Each record is one JSON object, written to the span file as is. */
final class Recorder extends SparkListener {
  private val records = new ConcurrentLinkedQueue[String]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val sqlCallSite = new java.util.concurrent.ConcurrentHashMap[String, String]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).orNull

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobStarts.put(j.jobId, j)
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(j.jobId)
    if (s != null) records.add(Json.obj(
      "kind" -> "job", "id" -> s"job${j.jobId}",
      "parent" -> prop(s.properties, Recorder.SpanKey),
      "start" -> s.time.toDouble, "end" -> j.time.toDouble,
      "call_site" -> callSite(s),
      "ok" -> (j.jobResult == JobSucceeded)))
  }

  /** The short call site of the action that ran the job: its SQL
    * execution's (AQE submits a query's stages from a pool thread, whose
    * own call site names no caller), else the job's result stage name. */
  private def callSite(j: SparkListenerJobStart): String =
    Option(prop(j.properties, "spark.sql.execution.id")).flatMap(id => Option(sqlCallSite.get(id)))
      .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name)).orNull

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlCallSite.put(x.executionId.toString, x.description)
    case _ =>
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    Option(prop(s.properties, Recorder.SpanKey))
      .foreach(stageSpan.put(s.stageInfo.stageId, _))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    records.add(Json.obj(
      "kind" -> "stage", "id" -> s"stage${i.stageId}.${i.attemptNumber()}",
      "parent" -> (if (stageJob.containsKey(i.stageId)) s"job${stageJob.get(i.stageId)}" else null),
      "span" -> stageSpan.get(i.stageId),
      "start" -> i.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
      "end" -> i.completionTime.map(_.toDouble).getOrElse(Double.NaN),
      "tasks" -> i.numTasks))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    val info = t.taskInfo
    val base = Seq[(String, Any)]("kind" -> "task", "stage" -> t.stageId,
      "span" -> stageSpan.get(t.stageId),
      "start" -> info.launchTime.toDouble, "end" -> info.finishTime.toDouble)
    val counters: Seq[(String, Any)] = if (m == null) Nil else Seq(
      "gc_ms" -> m.jvmGCTime,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "records_read" -> m.inputMetrics.recordsRead,
      "bytes_written" -> m.outputMetrics.bytesWritten)
    records.add(Json.obj(base ++ counters: _*))
  }

  /** Records delivered so far, in arrival order; the caller drains
    * the listener bus first. */
  def drained(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var r = records.poll()
    while (r != null) { out += r; r = records.poll() }
    out.result()
  }
}

object Recorder {
  val SpanKey = "graftbench.span"
}

/** Just enough JSON for flat records of strings, numbers and booleans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
