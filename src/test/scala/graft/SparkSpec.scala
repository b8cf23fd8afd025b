package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` on a new temporary directory, then deletes it however
    * `f` ends, together with whatever was staged for a corpus at it or
    * under it: the `graft_*` directories of `java.io.tmpdir` named by
    * such a path's `StagePath.corpusToken`. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString) finally deleteTempDir(dir)
  }

  private val suiteDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A temporary directory the suite's tests share, deleted as
    * [[withTempDir]] deletes its own once the suite has run. */
  def suiteTempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    suiteDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try suiteDirs.forEach(d => deleteTempDir(d)) finally super.afterAll()

  private def deleteTempDir(dir: Path): Unit = {
    val tokens = if (!Files.exists(dir)) Seq(StagePath.corpusToken(dir.toString)) else {
      val corpora = Files.walk(dir)
      try corpora.filter(p => Files.isDirectory(p)).toArray.toSeq
        .map(p => StagePath.corpusToken(p.toString)) finally corpora.close()
    }
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    val staged = try tmp.toArray.toSeq.map(_.asInstanceOf[Path]).filter { p =>
      val name = p.getFileName.toString
      name.startsWith("graft_") && tokens.exists(name.contains)
    } finally tmp.close()
    (staged :+ dir).foreach(StagePath.deleteRecursively)
  }

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

  /** Deletes the staged artifact `name` under `dir`, keeping its
    * marker, and runs `f`: the stager must rebuild what a marker alone
    * cannot prove exists. */
  def withoutArtifact[T](dir: java.nio.file.Path, name: String)(f: => T): T = {
    assert(java.nio.file.Files.exists(dir.resolve("_src_meta")), s"no marker under $dir")
    StagePath.deleteRecursively(dir.resolve(name))
    val r = f
    assert(java.nio.file.Files.exists(dir.resolve(name)), s"$name was not re-staged under $dir")
    r
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
