package graft.genai

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's top-level workflow (`BaseBatchProcessor.run`,
  * openai_batch_processor.py:262-303) as one composed Spark pipeline:
  * validate → prepare/upload (JSONL) → create batch (shard) → "run"
  * the external model (simulator) → retrieve/parse → split → save.
  *
  * The run works file to file, as the reference does: the written
  * request JSONL is its only materialization. The input subtree is
  * evaluated once, by the `write input` job, which also observes the
  * pre-flight verdict and the requests per shard. The driver writes
  * the manifest from those counts, the simulated batch reads the
  * request file back with an explicit schema, and one job simulates,
  * parses and saves both results and errors, observing the error
  * count ([[ResultSink.saveSplit]]). The returned frames read the
  * saved files. That is two jobs, independent of corpus size: `write
  * input` (plus the jobs the input subtree plans, such as a resume's
  * anti-join) and `save results and errors` (plus one when a side has
  * no rows), each carrying its name as the job description.
  */
object BatchWorkflow {

  /** A run's outcome. After a run that reached its save, `results`
    * and `errors` read the files saved under its prefix, so they are
    * valid until the next run or resume that writes the same prefix
    * overwrites those files. */
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
    *                         failure the workflow halts, returns
    *                         empty frames and leaves no `input`
    *                         (reference:282-287)
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
    // Observed on the input write: the requests per shard, for the
    // manifest, and the pre-flight sample (the reference probes the
    // first request), the lowest doc_id, nulls first as
    // orderBy(doc_id).limit(1) picks it, ties going to an invalid row:
    // a min over (has id, id, is_valid).
    val spark = documents.sparkSession
    val fs = new Path(outputPathPrefix).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val input = new Path(outputPathPrefix, "input")
    val pending = new Path(outputPathPrefix, "_input_pending")
    val written = Observation()
    val reqs = Requests.chatRequests(documents)
    val requests = (if (validate) Validation.validate(reqs) else reqs)
      .observe(written, Sharding.counts(shardSize).as("shards"),
        (if (!validate) Nil
         else Seq(min(struct(col("doc_id").isNotNull, col("doc_id"), col("is_valid"))).as("sample"))): _*)
      .select(reqs.columns.map(col): _*)
    def halted(status: String): BatchResult = {
      val empty = Responses.parse(Simulator.respond(reqs.limit(0)))
      BatchResult(empty, empty, status)
    }

    // 1. prepare + "upload" the batch input file. It is written under
    // a staging name and counts as submitted only once the verdict
    // observed on that write passes: then it is renamed to `input`;
    // on a halt (or a throw) the staging directory is deleted.
    val passed = try {
      graft.withJobDescription(spark, "write input") {
        Jsonl.writeLines(Requests.toJsonLines(requests), pending.toString)
      }
      val sample = if (validate) written.get("sample").asInstanceOf[Row] else null
      val ok = sample == null || sample.getBoolean(2)
      if (ok) {
        fs.delete(input, true)
        if (!fs.rename(pending, input)) throw new java.io.IOException(s"could not rename $pending to $input")
      }
      ok
    } finally fs.delete(pending, true)
    if (!passed) return halted("validation_failed")

    // 2a. batch-creation manifest — one record per shard with the
    // reference's `batches.create` arguments (endpoint,
    // completion_window, metadata) so a resubmission or audit can
    // reconstruct every job. Tiny (one row per shard): built from the
    // counts observed on the input write and written by the driver.
    // metadata serialized via to_json so quotes/backslashes/control
    // chars in keys or values are escaped properly (hand-concatenated
    // JSON broke on a single embedded quote)
    val metaJson =
      if (metadata.isEmpty) lit("{}")
      else to_json(map(metadata.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
    val shards = written.get("shards").asInstanceOf[Seq[Row]]
    val manifest = spark.createDataFrame(java.util.Arrays.asList(shards: _*),
        StructType.fromDDL("shard_id BIGINT, n_requests BIGINT"))
      .select(col("shard_id"), col("n_requests"),
        lit(endpoint).as("endpoint"),
        lit(completionWindow).as("completion_window"),
        metaJson.as("metadata"))
    Jsonl.writeLocal(manifest, s"$outputPathPrefix/batches")

    // 2-3. create batch + monitor → terminal state. When the job is
    // external, poll it; a non-success terminal state or a timeout
    // means there is nothing to retrieve (reference:204-236, 241).
    val monitored = jobStatus match {
      case Some(st) => Monitor.await(st, pollIntervalMs, timeoutMs, clock, sleep)
      case None     => "completed"
    }
    if (monitored != "completed") return halted(monitored)

    // 4. retrieve + parse + split + save (reference:205-260) in one
    // job over the written requests; the status is the error count
    // observed on it
    val parsed = Responses.parse(Simulator.respond(Requests.fromJsonLines(spark, input.toString)))
    val (resultsPath, errorsPath) =
      (s"$outputPathPrefix/results.jsonl", s"$outputPathPrefix/errors.jsonl")
    val errorCount = Observation()
    graft.withJobDescription(spark, "save results and errors") {
      ResultSink.saveSplit(
        parsed.observe(errorCount, count(when(!Responses.isResult, lit(1))).as("n")),
        Responses.isResult, resultsPath, errorsPath)
    }

    val status =
      if (errorCount.get("n").asInstanceOf[Long] == 0L) "completed" else "completed_with_errors"
    BatchResult(Jsonl.read(spark, parsed.schema, resultsPath),
      Jsonl.read(spark, parsed.schema, errorsPath), status)
  }

  /** Resume an interrupted or partial run: documents that already have
    * a saved result OR error under `outputPathPrefix` are skipped
    * (anti-join on doc_id — distributed, no driver set), and only the
    * remainder is processed, into `outputPathPrefix/resume` so the
    * original outputs stay intact for the caller to union. Re-running
    * a completed prefix is a run over zero rows — the workflow is
    * idempotent — that still rewrites `outputPathPrefix/resume`, so an
    * earlier resume's [[BatchResult]] no longer reads.
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
    val fs = new Path(outputPathPrefix).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Only a missing output means "nothing saved"; any other failure
    // propagates, since reprocessing would duplicate saved work. Both
    // outputs are one scan with an explicit 1-field schema (the
    // anti-join needs only doc_id).
    val saved = Seq("results.jsonl", "errors.jsonl")
      .map(f => new Path(s"$outputPathPrefix/$f")).filter(fs.exists).map(_.toString)
    // an anti-join only tests whether a match exists: no distinct
    val remaining =
      if (saved.isEmpty) documents
      else documents.join(Jsonl.read(spark, StructType.fromDDL("doc_id BIGINT"), saved: _*),
        Seq("doc_id"), "left_anti")
    run(remaining, s"$outputPathPrefix/resume", shardSize, validate,
      endpoint, completionWindow, metadata, jobStatus,
      pollIntervalMs, timeoutMs, clock, sleep)
  }
}
