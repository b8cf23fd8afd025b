package graft

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The dev CLI, two modes:
  *  - no arguments: the entry smoke (README "Verifying a change") —
  *    prints the flagship query's row count;
  *  - `explain <query...> [--sf dir]`: the formatted physical plan of
  *    each registered query, after executing it (see [[explain]]),
  *    then the job log of that build and run (see [[withJobLog]]).
  *
  * Per-query counters (jobs, stages, task time, shuffle, records read,
  * build jobs) ride every [[Bench]] sweep under `counters`; conf A/Bs
  * go through Bench's `SPARK_GRAFT_CONF`.
  */
object Dev {
  private val Usage = "usage: graft.Dev [explain <query...> [--sf <dir>]]"

  private[graft] sealed trait Command
  private[graft] case object Smoke extends Command
  private[graft] final case class Explain(queries: Seq[String], sfDir: String) extends Command

  /** Parses the arguments before any session is built, so a bad
    * command line fails fast and never falls through to the smoke. */
  private[graft] def parse(args: Seq[String]): Command = args match {
    case Seq() => Smoke
    case "explain" +: rest =>
      val sfAt = rest.indexOf("--sf")
      val sfDir = if (sfAt < 0) "/root/testdata/sf0.01"
        else rest.lift(sfAt + 1).getOrElse(
          throw new IllegalArgumentException(s"--sf needs a directory; $Usage"))
      val names = if (sfAt < 0) rest else rest.patch(sfAt, Nil, 2)
      if (names.isEmpty)
        throw new IllegalArgumentException(s"explain needs a query name; $Usage")
      names.filterNot(SparkEntry.queries.keySet).headOption.foreach { n =>
        throw new IllegalArgumentException(s"unknown query '$n'; $Usage")
      }
      Explain(names, sfDir)
    case cmd +: _ =>
      throw new IllegalArgumentException(s"unknown subcommand '$cmd'; $Usage")
  }

  /** Executes `df`'s OWN QueryExecution, then renders its formatted
    * plan. Executing first finalizes the adaptive plan, so the output
    * shows AQE's runtime decisions (stage reuse, skew splits, coalesced
    * partitions) as the Final Plan beside the Initial Plan. A sink
    * write would run a fresh QueryExecution and leave this one
    * unfinalized. */
  private[graft] def explain(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.explainString(FormattedMode)
  }

  /** One line per Spark job (id, wall, what ran it) and per completed
    * stage (id, tasks, name), in delivery order: which of a query's
    * jobs carry its wall when the job count is the cost. A job is named
    * by its description if set, else by the call site of its SQL
    * execution (adaptive stages are submitted from a pool thread whose
    * own call site names no caller), else by its result stage. */
  private final class JobLog extends SparkListener {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]
    private val sqlCallSite = new java.util.concurrent.ConcurrentHashMap[String, String]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlCallSite.put(x.executionId.toString, x.description)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = starts.put(j.jobId, j)
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(starts.remove(j.jobId)).foreach { s =>
        def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
        val name = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlCallSite.get(id))))
          .orElse(s.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
        lines.add(f"  job ${j.jobId}%4d ${j.time - s.time}%7d ms  $name")
      }
    override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
      val i = st.stageInfo
      lines.add(f"    stage ${i.stageId}%4d ${i.numTasks}%4d tasks  ${i.name.take(90)}")
    }
  }

  /** `body`'s result and the [[JobLog]] lines of the jobs it ran. */
  private[graft] def withJobLog[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val r = body
      ListenerBusBridge.drain(spark.sparkContext)
      (r, scala.jdk.CollectionConverters.IteratorHasAsScala(log.lines.iterator).asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val spark = GraftSession.local(8)
    cmd match {
      case Smoke =>
        println(s"entry rows=${SparkEntry.entry(spark).count()}")
      case Explain(names, sfDir) =>
        for (n <- names) {
          println(s"\n========== $n ==========")
          val (plan, jobs) = withJobLog(spark)(explain(SparkEntry.queries(n)(spark, sfDir)))
          println(plan)
          println(s"---------- $n: jobs built and run ----------")
          jobs.foreach(println)
        }
    }
    spark.stop()
  }
}
