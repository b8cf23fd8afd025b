package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.{SessionEvent, Sessionizer}

/** Streaming failure recovery (VERDICT r10 #4): a stateful query
  * stopped mid-stream and restarted from its checkpoint must produce
  * exactly the single-uninterrupted-run output — state restored,
  * source offsets resumed, sink replay idempotent.
  *
  * The operator under test is st4's [[Sessionizer]]
  * (flatMapGroupsWithState — real distributed state), driven through
  * the [[graft.streaming.IdempotentSink]] batch_id=n overwrite
  * pattern. Batch decomposition is pinned identical across runs
  * (one file per micro-batch via maxFilesPerTrigger=1, mtimes
  * increasing in split order), so the comparison is deterministic:
  * any difference is a recovery bug, not batch-boundary noise.
  */
class StreamingRecoverySpec extends SparkSpec {

  private val base = suiteTempDir("graft_recovery")

  /** The staged event splits: event_id % 4 → b0..b3, one parquet FILE
    * each (each split interleaves the full time range, so most
    * sessions span splits — the state the restart must restore). */
  private def stageSplit(srcDir: String, ks: Seq[Int]): Unit = {
    val dir = java.nio.file.Paths.get(srcDir)
    java.nio.file.Files.createDirectories(dir)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"), col("value"))
    for (k <- ks) {
      val work = java.nio.file.Paths.get(s"$srcDir/_work")
      ev.filter(col("event_id") % 4 === k)
        .coalesce(1).write.mode("overwrite").parquet(work.toString)
      val part = {
        val l = java.nio.file.Files.list(work)
        try l.filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally l.close()
      }
      val dst = dir.resolve(f"b$k%02d.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 1000L))
      val l = java.nio.file.Files.list(work)
      try l.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally l.close()
      java.nio.file.Files.deleteIfExists(work)
    }
  }

  /** Start the sessionizer over `srcDir` into the idempotent batch_id
    * sink, process everything currently staged, stop. Restartable:
    * the same (out, ckpt) resumes from the checkpoint. */
  private def runSessions(srcDir: String, out: String, ckpt: String, name: String): Unit = {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tus", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir).as[SessionEvent]
    val q = Sessionizer.sessions(ev).toDF().writeStream
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private def landed(out: String): Seq[Row] =
    spark.read.parquet(out)
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_us"), col("session_end_us"))
      .collect().toSeq

  test("restart from checkpoint mid-stream reproduces the uninterrupted run") {
    // reference: all four splits staged up front, one uninterrupted run
    stageSplit(s"$base/src_ref", 0 to 3)
    runSessions(s"$base/src_ref", s"$base/ref/out", s"$base/ref/ckpt", "rec_ref")
    val ref = landed(s"$base/ref/out")
    assert(ref.nonEmpty, "reference run emitted no closed sessions")

    // interrupted: the stream stops after the first two splits (clean
    // checkpoint, open sessions held in state), then the remaining
    // splits arrive and the SAME checkpoint+sink resume
    stageSplit(s"$base/src_cut", 0 to 1)
    runSessions(s"$base/src_cut", s"$base/cut/out", s"$base/cut/ckpt", "rec_cut1")
    val atStop = landed(s"$base/cut/out")
    assert(atStop.size < ref.size,
      s"stop point saw ${atStop.size} of ${ref.size} sessions — nothing left to recover")
    stageSplit(s"$base/src_cut", 2 to 3)
    runSessions(s"$base/src_cut", s"$base/cut/out", s"$base/cut/ckpt", "rec_cut2")
    assert(landed(s"$base/cut/out") == ref,
      "restarted run diverged from the uninterrupted run")

    // the recovery genuinely used restored state: the same tail splits
    // on a FRESH checkpoint (no recovered open sessions) must disagree
    stageSplit(s"$base/src_tail", 2 to 3)
    runSessions(s"$base/src_tail", s"$base/fresh/out", s"$base/fresh/ckpt", "rec_fresh")
    assert(landed(s"$base/fresh/out") != ref,
      "tail-only run equals the full run — the test corpus cannot distinguish state recovery")
  }

  test("batch replay after a lost commit is exactly-once (overwrite, not append)") {
    // simulate a crash between the sink write and the checkpoint
    // commit: drop the newest commit marker and scribble a partial
    // file into that batch's output dir. The restart must replay the
    // batch INTO THE SAME batch_id dir, replacing the partial output.
    val commits = java.nio.file.Paths.get(s"$base/cut/ckpt/commits")
    val last = {
      val l = java.nio.file.Files.list(commits)
      try l.filter(p => p.getFileName.toString.forall(_.isDigit))
        .max((a, b) => a.getFileName.toString.toLong.compare(b.getFileName.toString.toLong))
        .get()
      finally l.close()
    }
    val lastId = last.getFileName.toString.toLong
    java.nio.file.Files.delete(last)
    val crc = last.resolveSibling("." + last.getFileName.toString + ".crc")
    java.nio.file.Files.deleteIfExists(crc)
    val batchDir = java.nio.file.Paths.get(s"$base/cut/out/batch_id=$lastId")
    java.nio.file.Files.write(batchDir.resolve("part-partial-from-crash.parquet"),
      "not parquet".getBytes("UTF-8"))

    runSessions(s"$base/src_cut", s"$base/cut/out", s"$base/cut/ckpt", "rec_replay")
    assert(landed(s"$base/cut/out") == landed(s"$base/ref/out"),
      "replayed batch duplicated or lost rows")
    assert(!java.nio.file.Files.exists(batchDir.resolve("part-partial-from-crash.parquet")),
      "the partial pre-crash file survived the replay overwrite")
    // and the replay reused the batch id — no extra batch directory
    val nBatches = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/cut/out"))
      try l.filter(p => p.getFileName.toString.startsWith("batch_id=")).count()
      finally l.close()
    }
    val nRef = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/ref/out"))
      try l.filter(p => p.getFileName.toString.startsWith("batch_id=")).count()
      finally l.close()
    }
    assert(nBatches == nRef, s"replay created a new batch dir: $nBatches vs $nRef")
  }

  /** st11's raw-event splits: the full events table cut by
    * `event_id % 4`, all columns st11Compact consumes. */
  private def stageEventSplit(srcDir: String, ks: Seq[Int]): Unit = {
    val dir = java.nio.file.Paths.get(srcDir)
    java.nio.file.Files.createDirectories(dir)
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    for (k <- ks) {
      val work = java.nio.file.Paths.get(s"$srcDir/_work")
      ev.filter(col("event_id") % 4 === k)
        .coalesce(1).write.mode("overwrite").parquet(work.toString)
      val part = {
        val l = java.nio.file.Files.list(work)
        try l.filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally l.close()
      }
      val dst = dir.resolve(f"b$k%02d.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 1000L))
      val l = java.nio.file.Files.list(work)
      try l.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally l.close()
      java.nio.file.Files.deleteIfExists(work)
    }
  }

  test("st11 compaction restarted from its checkpoint converges on the one-shot answer") {
    // the read-modify-write view's recovery claim, observed: stop the
    // compactor after 2 of 4 batches (clean checkpoint, store at v1),
    // stage the rest, resume the SAME checkpoint+store — the final
    // version must equal q34's one-shot compaction over the whole
    // table, with no duplicated n_events (the merge-by-sum would
    // double-count any replayed changelog row)
    val src = s"$base/st11_src"
    stageEventSplit(src, 0 to 1)
    val store = java.nio.file.Paths.get(s"$base/st11_store")
    val ckpt = java.nio.file.Paths.get(s"$base/st11_ckpt")
    java.nio.file.Files.createDirectories(store)
    def stream = {
      val schema = spark.read.parquet(src).schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "b*.parquet")
        .parquet(src)
    }
    streaming.StreamingOps.st11Compact(spark, stream, store, ckpt, "rec_st11a")
    val atStop = streaming.StreamingOps.st11StoreRead(spark, store)
    val full = SparkEntry.queries("q34_compact_latest")(spark, sf)
      .orderBy("user_id").collect().toSeq
    assert(atStop.agg(sum(col("n_events"))).head().getLong(0) <
      full.map(_.getAs[Long]("n_events")).sum,
      "stop point already saw every event — nothing left to recover")
    stageEventSplit(src, 2 to 3)
    streaming.StreamingOps.st11Compact(spark, stream, store, ckpt, "rec_st11b")
    val resumed = streaming.StreamingOps.st11StoreRead(spark, store)
      .orderBy("user_id").collect().toSeq
    assert(resumed == full,
      "restarted compaction diverged from the one-shot answer")
  }
}
