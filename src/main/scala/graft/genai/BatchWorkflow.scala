package graft.genai

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** The reference's top-level workflow (`BaseBatchProcessor.run`,
  * openai_batch_processor.py:262-303) as one composed Spark pipeline:
  * validate → prepare/upload (JSONL) → create batch (shard) → "run"
  * the external model (simulator) → retrieve/parse → split → save.
  *
  * The input subtree is evaluated once per run: the request relation
  * is materialized, and the pre-flight verdict and the error count ride
  * as observed metrics on actions that run anyway. The actions are that
  * materialization, the JSONL write, the manifest write (a map and a
  * result job) and the two saves: six jobs, plus the jobs the input
  * subtree plans inside the materialization (g14's initial run: 7 jobs;
  * its resume, with the anti-join against the saved JSONL: 9),
  * independent of corpus size. Each action's jobs carry its name as
  * their job description (`materialize requests`, `write input`,
  * `write manifest`, `save results`, `save errors`).
  */
object BatchWorkflow {

  case class BatchResult(results: DataFrame, errors: DataFrame, finalStatus: String)

  /** Timestamped output prefix — the reference stamps
    * `{output_path_prefix}_{YYYYMMDD_HHMMSS}` at the start of every
    * run (openai_batch_processor.py:273-274) so reruns never clobber
    * earlier outputs. UTC, clock injectable for tests; pass the result
    * as [[run]]'s `outputPathPrefix`.
    */
  def timestampedPrefix(prefix: String,
      clock: () => Long = () => System.currentTimeMillis()): String = {
    val fmt = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    s"${prefix}_${fmt.format(new java.util.Date(clock()))}"
  }

  /** @param documents       input corpus (doc_id, text, lang, ...)
    * @param outputPathPrefix where request/result files land
    *                         (reference: output_path_prefix)
    * @param shardSize        requests per batch file
    * @param validate         pre-flight check on a sample request; on
    *                         failure the workflow halts and returns
    *                         empty frames (reference:282-287)
    * @param endpoint         target API endpoint recorded per batch
    *                         (reference `_create_batch` endpoint arg)
    * @param completionWindow batch completion window (reference: only
    *                         "24h" is supported by the API today)
    * @param metadata         key/value metadata attached to each
    *                         created batch (reference:163-179)
    * @param jobStatus        external job-status supplier polled via
    *                         [[Monitor.await]] (the reference's
    *                         `_monitor_status`); `None` skips polling —
    *                         the simulator completes synchronously. A
    *                         `failed`/`cancelled`/`expired`/timed-out
    *                         job halts before retrieval and reports
    *                         that status (vertex:204-236)
    */
  def run(documents: DataFrame, outputPathPrefix: String,
      shardSize: Int = 50000, validate: Boolean = true,
      endpoint: String = "/v1/chat/completions",
      completionWindow: String = "24h",
      metadata: Map[String, String] = Map.empty,
      jobStatus: Option[() => String] = None,
      pollIntervalMs: Long = 30000L, timeoutMs: Long = 7200000L,
      clock: () => Long = () => System.currentTimeMillis(),
      sleep: Long => Unit = Thread.sleep): BatchResult = {
    // Materialized once: lazily, the JSONL write, the manifest and both
    // saves each re-ran the caller's input subtree (g14: a join against
    // the validated docs; resume: an anti-join against the saved JSONL).
    // The pre-flight sample (the reference probes the first request) is
    // the lowest doc_id, nulls first as orderBy(doc_id).limit(1) picks
    // it, ties going to an invalid row: a min over (has id, id, is_valid)
    // observed on the materializing job.
    val spark = documents.sparkSession
    val preflight = Observation()
    val reqs = Requests.chatRequests(documents)
    val requests = graft.withJobDescription(spark, "materialize requests") {
      (if (!validate) reqs
      else Validation.validate(reqs)
        .observe(preflight, min(struct(col("doc_id").isNotNull, col("doc_id"),
          col("is_valid"))).as("sample"))
        .select(reqs.columns.map(col): _*)).localCheckpoint()
    }
    def halted(status: String): BatchResult = {
      val empty = Responses.parse(Simulator.respond(requests.limit(0)))
      BatchResult(empty, empty, status)
    }

    if (validate) {
      val sample = preflight.get("sample").asInstanceOf[Row]
      if (sample != null && !sample.getBoolean(2))
        return halted("validation_failed")
    }

    // 1. prepare + "upload" the batch input files, sharded
    val sharded = Sharding.assign(requests, shardSize)
    graft.withJobDescription(spark, "write input") {
      Jsonl.writeLines(Requests.toJsonLines(sharded), s"$outputPathPrefix/input")
    }

    // 2a. batch-creation manifest — one record per shard with the
    // reference's `batches.create` arguments (endpoint,
    // completion_window, metadata) so a resubmission or audit can
    // reconstruct every job. Tiny (one row per shard).
    // metadata serialized via to_json so quotes/backslashes/control
    // chars in keys or values are escaped properly (hand-concatenated
    // JSON broke on a single embedded quote)
    val metaJson =
      if (metadata.isEmpty) lit("{}")
      else to_json(map(metadata.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
    val manifest = sharded.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_requests"))
      .select(col("shard_id"), col("n_requests"),
        lit(endpoint).as("endpoint"),
        lit(completionWindow).as("completion_window"),
        metaJson.as("metadata"))
    graft.withJobDescription(spark, "write manifest") {
      Jsonl.write(manifest, s"$outputPathPrefix/batches")
    }

    // 2-3. create batch + monitor → terminal state. When the job is
    // external, poll it; a non-success terminal state or a timeout
    // means there is nothing to retrieve (reference:204-236, 241).
    val monitored = jobStatus match {
      case Some(st) => Monitor.await(st, pollIntervalMs, timeoutMs, clock, sleep)
      case None     => "completed"
    }
    if (monitored != "completed") return halted(monitored)
    val parsed = Responses.parse(Simulator.respond(sharded))

    // 4. retrieve + split + save (reference:205-260); the status is the
    // error count observed on the errors save
    val results = Responses.results(parsed)
    val errors = Responses.errors(parsed)
    val errorCount = Observation()
    graft.withJobDescription(spark, "save results") {
      ResultSink.save(results, s"$outputPathPrefix/results.jsonl")
    }
    graft.withJobDescription(spark, "save errors") {
      ResultSink.save(errors.observe(errorCount, count(lit(1)).as("n")),
        s"$outputPathPrefix/errors.jsonl")
    }

    val status =
      if (errorCount.get("n").asInstanceOf[Long] == 0L) "completed" else "completed_with_errors"
    BatchResult(results, errors, status)
  }

  /** Resume an interrupted or partial run: documents that already have
    * a saved result OR error under `outputPathPrefix` are skipped
    * (anti-join on doc_id — distributed, no driver set), and only the
    * remainder is processed, into `outputPathPrefix/resume` so the
    * original outputs stay intact for the caller to union. Re-running
    * a completed prefix is a no-op over zero rows — the workflow is
    * idempotent.
    */
  def resume(documents: DataFrame, outputPathPrefix: String,
      shardSize: Int = 50000, validate: Boolean = true,
      endpoint: String = "/v1/chat/completions",
      completionWindow: String = "24h",
      metadata: Map[String, String] = Map.empty,
      jobStatus: Option[() => String] = None,
      pollIntervalMs: Long = 30000L, timeoutMs: Long = 7200000L,
      clock: () => Long = () => System.currentTimeMillis(),
      sleep: Long => Unit = Thread.sleep): BatchResult = {
    val spark = documents.sparkSession
    // explicit 1-field schema: the anti-join needs only doc_id, and
    // inference would scan each file once more just to learn it (r19)
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    // Only a missing output means "nothing saved"; any other failure
    // propagates, since reprocessing would duplicate saved work. The
    // reader globs its path and the writer does not, so the prefix's
    // glob metacharacters are escaped for the read.
    val processed = Seq("results.jsonl", "errors.jsonl").flatMap { f =>
      val path = new org.apache.hadoop.fs.Path(s"$outputPathPrefix/$f")
      if (!path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)) None
      else Some(Jsonl.read(spark, path.toString.replaceAll("""([\\\[\]{}*?])""", """\\$1"""),
        idSchema).select(col("doc_id")))
    }
    val remaining = processed.reduceOption(_ unionByName _) match {
      case Some(p) => documents.join(p.distinct(), Seq("doc_id"), "left_anti")
      case None    => documents
    }
    run(remaining, s"$outputPathPrefix/resume", shardSize, validate,
      endpoint, completionWindow, metadata, jobStatus,
      pollIntervalMs, timeoutMs, clock, sleep)
  }
}
