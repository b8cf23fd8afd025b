package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Closed-loop runner: one client, the driver thread, calls each
  * query's public function (`SparkEntry.queries(name)(spark, dir)`,
  * which builds the DataFrame) and then the action that executes it,
  * and starts the next call only when the previous one has returned.
  *
  * Everything it observes goes to the span file as one JSON record a
  * line; `perfbench/run.py` turns the records into metrics.
  *
  * Arguments (all required, `--key value`):
  *   data     corpus directory (the generated parquet tables)
  *   work     scratch directory for outputs
  *   spans    span file to write
  *   queries  comma-separated query names, in call order
  *   setups   number of set-ups. Each starts a fresh session on
  *            cleared staging and makes one untimed pass that writes
  *            every query's output as parquet under work/setup<k>;
  *            the last set-up's outputs are the ones checked.
  *   warm     seconds of untimed iterations (at least one) between
  *            the set-ups and the timed loop
  *   seconds  length of the timed loop; it runs at least two
  *            iterations
  *   trace    1: the second half of the timed loop (at least one
  *            iteration) runs with the Spark listener attached
  *   scan     optional parquet path for the counter self-check: the
  *            query named `known_copy` copies it into the temp
  *            directory while building and reads the copy back
  */
object Main {
  private val Cores = 4

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, comparable to
    * the scheduler's task and job timestamps. */
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val spans = new java.io.PrintWriter(
      Files.newBufferedWriter(Paths.get(a("spans"))))
    try new Main(a("data"), work, a("queries").split(",").toSeq,
      a.get("scan"), spans).run(a("setups").toInt, a("warm").toDouble,
      a("seconds").toDouble, a("trace") == "1")
    finally spans.close()
  }
}

final class Main(data: String, work: Path, queries: Seq[String],
    scan: Option[String], spans: java.io.PrintWriter) {
  import Main.now

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val fns: Map[String, graft.QFn] =
    graft.SparkEntry.queries ++ scan.map(p => "known_copy" -> { (s: SparkSession, _: String) =>
      val copy = tmp.resolve("graft_known_copy").toString
      s.read.parquet(p).write.mode("overwrite").parquet(copy)
      s.read.parquet(copy)
    })
  private var spark: SparkSession = _

  private def emit(kv: (String, Any)*): Unit = { spans.println(Json.obj(kv: _*)); spans.flush() }

  def run(setups: Int, warm: Double, seconds: Double, trace: Boolean): Unit = {
    Files.writeString(work.resolve("oracle_sql.json"), Json.value(
      graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val probe = Host.probe()
    emit(("kind" -> "host") +: ("when" -> "before") +: probe.toSeq: _*)
    // set-up 1 runs from process start, less the probe just taken
    var start = jvmStart.toDouble + probe("probe_ms")
    spark = session()
    for (k <- 1 to setups) {
      if (k > 1) {
        spark.stop()
        clearStaging()
        start = now()
        spark = session()
      }
      iteration(s"s$k", "setup", Some(work.resolve(s"setup$k")))
      emit("kind" -> "setup", "k" -> k, "seconds" -> (now() - start) / 1e3)
    }

    loop("w", "warm", warm, 1, None)
    if (trace) {
      loop("t", "timed", seconds / 2, 1, None)
      val recorder = new Recorder
      spark.sparkContext.addSparkListener(recorder)
      loop("r", "traced", seconds / 2, 1, Some(recorder))
    } else loop("t", "timed", seconds, 2, None)
    spark.stop()
    emit(("kind" -> "host") +: ("when" -> "after") +: Host.probe().toSeq: _*)
    emit("kind" -> "process", "peak_rss_mb" -> Host.peakRssMb())
  }

  private def session(): SparkSession = {
    val s = graft.GraftSession.local(Main.Cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs whole iterations for `seconds`: at least `atLeast`, and
    * each further one only if it should end in time, judged by the
    * last one's length. */
  private def loop(prefix: String, phase: String, seconds: Double,
      atLeast: Int, recorder: Option[Recorder]): Unit = {
    val end = now() + seconds * 1e3
    var last = 0.0
    var i = 0
    while (i < atLeast || now() + last <= end) {
      i += 1
      val t = now()
      iteration(s"$prefix$i", phase, None)
      last = now() - t
      recorder.foreach { r =>
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        r.drained().foreach(spans.println)
      }
    }
  }

  /** One pass over the workload's queries. `out` = None executes each
    * result with the no-op sink; otherwise each is written as parquet
    * to out/<query> for the correctness check. */
  private def iteration(id: String, phase: String, out: Option[Path]): Unit = {
    val before = stagedMarkers()
    val start = now()
    for (q <- queries) {
      val df = call(s"$id/$q/build", id, q, "build")(fns(q)(spark, data))
      df.foreach { d =>
        call(s"$id/$q/exec", id, q, "exec") {
          out match {
            case None => d.write.format("noop").mode("overwrite").save()
            // the same plan as the no-op sink's, so set-up passes warm
            // what the timed iterations run
            case Some(o) => d.write.mode("overwrite").parquet(o.resolve(q).toString)
          }
        }
      }
    }
    val end = now()
    spark.sparkContext.setLocalProperty(Recorder.SpanKey, null)
    val extra: Seq[(String, Any)] =
      if (phase == "traced") outputsSince(start) else Nil
    emit(Seq[(String, Any)]("kind" -> "iteration", "id" -> id, "phase" -> phase,
      "start" -> start, "end" -> end,
      "restaged" -> (stagedMarkers() != before)) ++ extra: _*)
  }

  /** Times one public call; a throw is recorded, not rethrown, so the
    * run goes on and the failure counts against the attempts. */
  private def call[T](id: String, parent: String, q: String, phase: String)(
      f: => T): Option[T] = {
    spark.sparkContext.setLocalProperty(Recorder.SpanKey, id)
    val start = now()
    val (res, err) =
      try (Some(f), null)
      catch { case NonFatal(e) => (None, s"${e.getClass.getName}: ${e.getMessage}") }
    emit("kind" -> "call", "id" -> id, "parent" -> parent, "query" -> q,
      "phase" -> phase, "start" -> start, "end" -> now(), "error" -> err)
    res
  }

  /** Freshness markers of the per-corpus staged artifacts (graph and
    * IVF indexes, BPE tables) under the engine's temp directory; an
    * iteration that changes them rebuilt a staged artifact. */
  private def stagedMarkers(): Map[String, Long] = walk(tmp)
    .filter(_.getFileName.toString == "_src_meta")
    .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap

  /** Data files written under the engine's temp directory since
    * `start`, and the reference workflow's JSONL line counts: requests
    * written to `input` and results saved to `results.jsonl`, from
    * the initial run and the resume. */
  private def outputsSince(start: Double): Seq[(String, Any)] = {
    val files = walk(tmp).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && !n.endsWith(".crc") &&
        Files.getLastModifiedTime(p).toMillis >= start.toLong
    }
    def lines(dir: String) = files
      .filter(p => p.getParent.getFileName.toString == dir &&
        p.toString.contains("graft_g14_"))
      .map(p => Files.readAllLines(p).size.toLong).sum
    Seq("output_files" -> files.size.toLong,
      "g14_requests" -> lines("input"), "g14_results" -> lines("results.jsonl"))
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  /** Removes what the engine staged or wrote under its temp directory,
    * so the next set-up starts cold. */
  private def clearStaging(): Unit = {
    val s = Files.list(tmp)
    val graftDirs =
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("graft_"))
      finally s.close()
    graftDirs.foreach { d =>
      val w = Files.walk(d)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
  }
}

/** Host evidence: a fixed single-thread CPU probe, the same probe on
  * every core at once, and the kernel's steal counter. */
object Host {
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  private def timed(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
  }

  /** Steal time in seconds, summed over all CPUs (/proc/stat, USER_HZ
    * = 100). */
  def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble / 100)
      .getOrElse(0.0)
    finally src.close()
  }

  def probe(): Map[String, Double] = {
    val t = System.nanoTime()
    var sink = 0L
    spin() // JIT warm-up
    val single = Seq.fill(3)(timed(sink ^= spin())).sorted.apply(1)
    val par = timed {
      val ts = Seq.fill(Runtime.getRuntime.availableProcessors())(
        new Thread(() => { sink ^= spin() }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    if (sink == 42) println() // keeps the probe from being optimised away
    Map("calib_ms" -> single, "calib_par_ms" -> par, "steal_s" -> stealS(),
      "probe_ms" -> (System.nanoTime() - t) / 1e6)
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
