package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  /** The Spark jobs `f` submits, each named by the call site of its
    * SQL execution (adaptive stages are submitted from a pool thread),
    * else by its last stage: job ids are handed out in submission
    * order, so they are the ids strictly between two marker jobs, read
    * once the listener bus has delivered the second marker. */
  def jobsOf[T](f: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val marks = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val sqlCallSite = new java.util.concurrent.ConcurrentHashMap[String, String]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlCallSite.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        names.put(j.jobId, prop("spark.sql.execution.id").flatMap(id => Option(sqlCallSite.get(id)))
          .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse(""))
        prop("graft.test.mark").foreach(marks.put(_, j.jobId))
      }
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty("graft.test.mark", m)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.mark", null)
    }
    sc.addSparkListener(l)
    try {
      mark("before")
      val r = f
      mark("after")
      val deadline = System.nanoTime() + 30000000000L
      while (!marks.containsKey("after") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marks.containsKey("after"), "listener bus never delivered the marker job")
      (r, (marks.get("before") + 1 until marks.get("after")).map(names.get))
    } finally sc.removeSparkListener(l)
  }

  /** Collect matching nodes from an executed plan, descending through
    * the AQE wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaf
    * nodes to TreeNode.collect, hiding the real operators).
    */
  def collectInPlan[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    pf.lift(p).toSeq ++ kids.flatMap(collectInPlan(_)(pf))
  }
}
