package graft.genai

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QFn, Tables}

/** GenAI batch pipeline queries g1–g10 (SURVEY.md §2): the reference's
  * workflow stages as oracle-checked operators over `documents`.
  */
object GenAI {

  private def reqs(s: SparkSession, d: String): DataFrame =
    Requests.chatRequests(Tables.documents(s, d))

  /** Shared oracle CTE mirroring Requests.chatRequests. */
  private val ReqsCte =
    """WITH reqs AS (
      |  SELECT doc_id,
      |    'request-' || doc_id AS custom_id,
      |    'POST' AS method,
      |    '/v1/chat/completions' AS url,
      |    CASE WHEN lang = 'en' THEN 'gpt-4.1-nano' ELSE 'gpt-4o-mini' END AS model,
      |    'You are a helpful assistant that classifies text as ''positive'' or ''negative''.' AS system_content,
      |    'Classify the following sentence: ''' || text || '''' AS user_content,
      |    CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 10 END AS max_tokens,
      |    CAST(0.1 AS DOUBLE) AS temperature
      |  FROM documents)""".stripMargin

  /** Simulated-response oracle CTE mirroring Simulator.respond +
    * Responses.parse (parsed fields, not the JSON round-trip — the
    * Spark side really does serialize to JSON and re-extract).
    */
  private val ParsedCte = ReqsCte +
    """,
      |parsed AS (
      |  SELECT doc_id, custom_id,
      |    CASE WHEN doc_id % 53 = 0 THEN 500 ELSE 200 END AS status_code,
      |    CASE WHEN doc_id % 53 = 0 THEN NULL ELSE model END AS model,
      |    CASE WHEN doc_id % 53 = 0 THEN NULL
      |         WHEN length(regexp_extract_all(user_content, 'fast|small|value')) >=
      |              length(regexp_extract_all(user_content, 'slow|error|big'))
      |         THEN 'positive' ELSE 'negative' END AS content,
      |    CASE WHEN doc_id % 53 = 0 THEN NULL
      |         ELSE CAST((length(system_content) + length(user_content) + 3) // 4 AS BIGINT) END AS prompt_tokens,
      |    CASE WHEN doc_id % 53 = 0 THEN NULL ELSE CAST(1 AS BIGINT) END AS completion_tokens,
      |    CASE WHEN doc_id % 53 = 0 THEN 'Internal server error' ELSE NULL END AS error_message
      |  FROM reqs)""".stripMargin

  /** Deterministic layout for CORPUS-SIZED per-document outputs
    * (VERDICT r10 #8): `sortWithinPartitions`, NOT `orderBy`. A global
    * sort over a result proportional to the corpus pays a full range
    * exchange at 100 TB purely for presentation; within-partition
    * order plus the shuffle's deterministic hash partitioning keeps
    * run-to-run byte-identical output (DeterminismSpec), and the
    * driver's oracle compare row-sorts both sides anyway (tools/
    * parity.py `canon`), so ordering is a consumer concern — a bounded
    * reader merges sorted partitions, never re-sorting globally.
    * Bounded outputs (aggregates, top-k) keep their cheap orderBy. */
  private def byDoc(df: DataFrame): DataFrame =
    df.sortWithinPartitions(col("doc_id"))

  private def g1(s: SparkSession, d: String): DataFrame =
    byDoc(reqs(s, d))

  private val g1Sql = ReqsCte +
    """
      |SELECT * FROM reqs ORDER BY doc_id""".stripMargin

  private def g2(s: SparkSession, d: String): DataFrame =
    Validation.validate(reqs(s, d))
      .groupBy(coalesce(col("reason"), lit("valid")).as("reason"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("reason"))

  private val g2Sql = ReqsCte +
    """
      |SELECT COALESCE(
      |    CASE WHEN max_tokens <= 0 THEN 'max_tokens_out_of_range'
      |         WHEN model NOT IN ('gpt-4.1-nano','gpt-4o-mini','gpt-4o') THEN 'unknown_model'
      |         WHEN length(user_content) = 0 THEN 'empty_prompt'
      |         WHEN length(user_content) > 4000 THEN 'prompt_too_long'
      |    END, 'valid') AS reason,
      |  COUNT(*) AS n
      |FROM reqs GROUP BY 1 ORDER BY reason""".stripMargin

  private def g3(s: SparkSession, d: String): DataFrame =
    Sharding.assign(reqs(s, d), 100)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_requests"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(length(col("user_content")).cast("long")).as("payload_chars"))
      .orderBy(col("shard_id"))

  private val g3Sql = ReqsCte +
    """
      |SELECT doc_id // 100 AS shard_id, COUNT(*) AS n_requests,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
      |  CAST(SUM(length(user_content)) AS BIGINT) AS payload_chars
      |FROM reqs GROUP BY 1 ORDER BY shard_id""".stripMargin

  private def g4(s: SparkSession, d: String): DataFrame =
    byDoc(Responses.parse(Simulator.respond(reqs(s, d))))

  private val g4Sql = ParsedCte +
    """
      |SELECT custom_id, doc_id, status_code, model, content,
      |       prompt_tokens, completion_tokens, error_message
      |FROM parsed ORDER BY doc_id""".stripMargin

  private def g5(s: SparkSession, d: String): DataFrame = {
    val parsed = Responses.results(Responses.parse(Simulator.respond(reqs(s, d))))
    byDoc(parsed
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("custom_id"), col("lang"), col("source"),
        col("content").as("label"), col("prompt_tokens")))
  }

  private val g5Sql = ParsedCte +
    """
      |SELECT p.doc_id, p.custom_id, d.lang, d.source, p.content AS label, p.prompt_tokens
      |FROM parsed p JOIN documents d ON p.doc_id = d.doc_id
      |WHERE p.status_code = 200
      |ORDER BY p.doc_id""".stripMargin

  private def g6(s: SparkSession, d: String): DataFrame = {
    val parsed = Responses.parse(Simulator.respond(reqs(s, d)))
    parsed.join(Tables.documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("status_code") === 200, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status_code") =!= 200, 1L).otherwise(0L)).as("n_err"))
      .withColumn("err_rate", col("n_err").cast("double") / col("n_total"))
      .orderBy(col("source"))
  }

  private val g6Sql = ParsedCte +
    """
      |SELECT d.source, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN p.status_code = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
      |  CAST(SUM(CASE WHEN p.status_code <> 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
      |  CAST(SUM(CASE WHEN p.status_code <> 200 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS err_rate
      |FROM parsed p JOIN documents d ON p.doc_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Shard-level job status — the monitor stage
    * (openai_batch_processor.py:184) summarized over shards instead of
    * a polling loop: terminal state per batch file.
    */
  private def g7(s: SparkSession, d: String): DataFrame = {
    val parsed = Responses.parse(Simulator.respond(Sharding.assign(reqs(s, d), 100)))
      .withColumn("shard_id", expr("doc_id div 100"))
    parsed.groupBy(col("shard_id"))
      .agg(sum(when(col("status_code") === 200, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status_code") =!= 200, 1L).otherwise(0L)).as("n_err"))
      .withColumn("status",
        when(col("n_err") === 0, lit("completed"))
          .when(col("n_err") < 3, lit("completed_with_errors"))
          .otherwise(lit("failed")))
      .select(col("shard_id"), col("status"), col("n_ok"), col("n_err"))
      .orderBy(col("shard_id"))
  }

  private val g7Sql = ParsedCte +
    """
      |, sh AS (
      |  SELECT doc_id // 100 AS shard_id,
      |    CAST(SUM(CASE WHEN status_code = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
      |    CAST(SUM(CASE WHEN status_code <> 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_err
      |  FROM parsed GROUP BY 1)
      |SELECT shard_id,
      |  CASE WHEN n_err = 0 THEN 'completed'
      |       WHEN n_err < 3 THEN 'completed_with_errors'
      |       ELSE 'failed' END AS status,
      |  n_ok, n_err
      |FROM sh ORDER BY shard_id""".stripMargin

  /** Token/cost accounting in integer nanodollars — exact and
    * order-independent, converted to USD only at the end.
    */
  private def g8(s: SparkSession, d: String): DataFrame =
    Responses.results(Responses.parse(Simulator.respond(reqs(s, d))))
      .groupBy(col("model"))
      .agg(count(lit(1)).as("n_requests"),
        sum(col("prompt_tokens")).as("sum_prompt_tokens"),
        sum(col("completion_tokens")).as("sum_completion_tokens"),
        sum(col("prompt_tokens") * 2500L + col("completion_tokens") * 10000L).as("cost_nano"))
      .withColumn("cost_usd", col("cost_nano").cast("double") / 1e9)
      .orderBy(col("model"))

  private val g8Sql = ParsedCte +
    """
      |SELECT model, COUNT(*) AS n_requests,
      |  CAST(SUM(prompt_tokens) AS BIGINT) AS sum_prompt_tokens,
      |  CAST(SUM(completion_tokens) AS BIGINT) AS sum_completion_tokens,
      |  CAST(SUM(prompt_tokens * 2500 + completion_tokens * 10000) AS BIGINT) AS cost_nano,
      |  CAST(SUM(prompt_tokens * 2500 + completion_tokens * 10000) AS DOUBLE) / 1e9 AS cost_usd
      |FROM parsed WHERE status_code = 200
      |GROUP BY model ORDER BY model""".stripMargin

  /** Visual-exam request building (run_visual_exam.py:85-130): binary
    * payload → base64 data-URL image part, max_completion_tokens (the
    * o-series parameter), temperature, and forced json_object output.
    * The document text stands in for image bytes (image libs are
    * absent here); the plumbing — binary cast, base64, data-URL part,
    * body params — is the real operator.
    */
  private def g9(s: SparkSession, d: String): DataFrame = {
    val items = Tables.documents(s, d).select(
      col("doc_id"),
      lit("What shape is in the image? Answer in JSON.").as("prompt_text"),
      // Spark's base64 emits MIME-chunked output (CRLF every 76 chars);
      // strip to the canonical unchunked form.
      concat(lit("data:image/png;base64,"),
        regexp_replace(base64(col("text").cast("binary")), "\r\n", "")).as("data_url"))
    byDoc(Requests.visualRequests(items)
      .select(col("custom_id"), col("doc_id"), col("prompt_text"),
        col("data_url"), col("max_completion_tokens"), col("temperature"),
        col("response_format_type")))
  }

  private val g9Sql =
    """SELECT 'request-' || doc_id AS custom_id, doc_id,
      |  'What shape is in the image? Answer in JSON.' AS prompt_text,
      |  'data:image/png;base64,' || to_base64(encode(text)) AS data_url,
      |  100 AS max_completion_tokens,
      |  CAST(0.0 AS DOUBLE) AS temperature,
      |  'json_object' AS response_format_type
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Vertex-backend request records (the reference's second engine). */
  private def g10(s: SparkSession, d: String): DataFrame =
    byDoc(VertexRequests.generateContentRequests(Tables.documents(s, d)))

  private val g10Sql =
    """SELECT doc_id,
      |  'gemini-2.0-flash-001' AS model_id,
      |  'user' AS role,
      |  'Classify the following sentence: ''' || text || '''' AS part_text,
      |  128 AS max_output_tokens,
      |  CAST(0.1 AS DOUBLE) AS temperature
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Multiple-choice exam recipe end-to-end
    * (run_multichoice_exam.py): pre-formatted messages pass through
    * verbatim into json_object-forced requests, the simulated model
    * answers `{"answer": "N"}`, and answers are parsed and scored
    * against ground truth — per-source accuracy. Every stage is a
    * per-row projection or one groupBy; the scoring join is on doc_id.
    */
  /** The multichoice exam message column (run_multichoice_exam.py's
    * pre-formatted messages), a pure function of doc_id — shared by
    * g11/g20 (batch) and st16 (ingest), so stream and batch compile
    * the SAME expression. */
  private[graft] def examMessagesCol: org.apache.spark.sql.Column =
    array(
      struct(lit("system").as("role"),
        lit("You are a careful exam solver.").as("content")),
      struct(lit("user").as("role"),
        concat(
          lit("Answer the following multiple choice question. Choose the most " +
            "appropriate option and output in the following JSON format: " +
            "{\"answer\": \"{option_number}\"} Do not output any text other " +
            "than the answer.\nQuestion: which option number equals "),
          col("doc_id") % 4 + 1,
          lit("?\n1. one\n2. two\n3. three\n4. four")).as("content")))

  /** The exam item shape, shared by g11 (scoring) and g20
    * (response-contract validation). */
  private def examItems(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), examMessagesCol.as("messages"))

  private def g11(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val items = examItems(docs)
    val parsed = Responses.parse(Simulator.respondExam(Requests.examRequests(items)))
    Responses.results(parsed)
      .select(col("doc_id"),
        get_json_object(col("content"), "$.answer").cast("long").as("answer"))
      .join(items.select(col("doc_id"), col("source"),
        (col("doc_id") % 4 + 1).as("truth")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_answered"),
        sum(when(col("answer") === col("truth"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", col("n_correct").cast("double") / col("n_answered"))
      .orderBy(col("source"))
  }

  /** Oracle mirrors the parsed answers directly (the Spark side really
    * does round-trip through request JSONL and response JSON).
    */
  private val g11Sql =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    doc_id % 4 + 1 AS truth,
      |    CASE WHEN doc_id % 11 = 0 THEN (doc_id % 4 + 1) % 4 + 1
      |         ELSE doc_id % 4 + 1 END AS answer
      |  FROM documents
      |  WHERE doc_id % 53 <> 0)
      |SELECT source, COUNT(*) AS n_answered,
      |  CAST(SUM(CASE WHEN answer = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN answer = truth THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** g13: visual-exam recipe end-to-end (run_visual_exam.py:150-210):
    * build the image-part requests (the g9 stage), run the simulated
    * visual model, parse each `{"answer": "N"}` out of the forced
    * json_object response, compare against the answer key, and score
    * per-source accuracy — the visual analogue of g11's multichoice
    * scoring. Per-row projections + one doc_id equi-join + one groupBy.
    */
  private def g13(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val items = docs.select(
      col("doc_id"),
      lit("Which option number matches the shape in the image? Output " +
        "{\"answer\": \"{option_number}\"} and nothing else.").as("prompt_text"),
      concat(lit("data:image/png;base64,"),
        regexp_replace(base64(col("text").cast("binary")), "\r\n", "")).as("data_url"))
    val parsed = Responses.parse(Simulator.respondVisual(Requests.visualRequests(items)))
    // answer key: the "image" is the document bytes; its shape id is
    // the byte length mod 4 (what the simulated model derives too)
    val key = docs.select(col("doc_id"), col("source"),
      (length(col("text").cast("binary")) % 4 + 1).cast("long").as("truth"))
    Responses.results(parsed)
      .select(col("doc_id"),
        get_json_object(col("content"), "$.answer").cast("long").as("answer"))
      .join(key, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_answered"),
        sum(when(col("answer") === col("truth"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", col("n_correct").cast("double") / col("n_answered"))
      .orderBy(col("source"))
  }

  /** Oracle mirrors the scored answers directly (the Spark side really
    * round-trips through base64 data-URLs and response JSON).
    */
  private val g13Sql =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    octet_length(encode(text)) % 4 + 1 AS truth,
      |    CASE WHEN doc_id % 13 = 0 THEN (octet_length(encode(text)) % 4 + 1) % 4 + 1
      |         ELSE octet_length(encode(text)) % 4 + 1 END AS answer
      |  FROM documents
      |  WHERE doc_id % 53 <> 0)
      |SELECT source, COUNT(*) AS n_answered,
      |  CAST(SUM(CASE WHEN answer = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN answer = truth THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** g14: the reference's flagship `run()` + `resume`
    * (openai_batch_processor.py:262-303 and the resume-over-partial-
    * state pattern of vertex_ai_batch_processor.py:298) driver-checked
    * end-to-end. The corpus's FIRST request is invalid by construction
    * (doc 0: doc_id % 97 = 0 → max_tokens 0), so the reference's
    * single-probe validation would halt the whole run; the
    * corpus-scale recipe is the distributed preflight — validate every
    * request, carve out the rejects, run over the rest ([[Validation]]
    * is exactly the reference's `validate_request` applied per-row).
    *
    * The query then executes the real workflow twice against a staged
    * output prefix: an INITIAL run over the historical ~80% of valid
    * docs (d12's division-first split on the corpus max id — the
    * "interrupted after most of the corpus" state), then
    * [[BatchWorkflow.resume]] over the FULL valid corpus, whose
    * anti-join on the SAVED results/errors skips everything the
    * initial run already processed. The output is the on-disk end
    * state read back from the four saved JSONL files (the returned
    * [[BatchWorkflow.BatchResult]] frames read them, so the save+read
    * round-trip is part of the contract), one row per doc: its phase
    * (initial/resume/preflight), disposition (result/error/rejected),
    * parsed payload, and the phase's reported terminal status. The
    * oracle recomputes the same end state relationally, so the driver
    * literally checks "run + resume over partial state ≡ one logical pass".
    *
    * Scale: each run evaluates its input subtree once, in its input
    * write (see [[BatchWorkflow]]). The query runs 6 jobs while it is
    * built — the verdict checkpoint, the initial run's 2 and the
    * resume's 3 (its anti-join against the saved outputs adds one) —
    * and 1 when executed. The valid documents are a per-row filter on
    * the same validation rule, so neither run joins back to the
    * verdicts; the resume anti-join is a doc_id equi-join against the
    * saved outputs, no driver-side id set. The staging write is priced
    * in-query (the q27 pattern).
    */
  private def g14(s: SparkSession, d: String): DataFrame = {
    val prefix = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_g14_" + graft.StagePath.corpusToken(d))
    // clean slate: resume's anti-join must see exactly the initial
    // run's outputs, never files from an older logic version
    graft.StagePath.deleteRecursively(prefix)
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
    // The verdicts (doc-level metadata) feed the rejected tail and the
    // corpus max id, observed on the one job that materializes them.
    // The workflow runs select valid documents with a per-row filter
    // on the same rule instead of joining back to them.
    val corpusMax = Observation()
    val validated = Validation.validate(Requests.chatRequests(docs))
      .select(col("doc_id"), col("is_valid"), col("reason"))
      .observe(corpusMax, max(col("doc_id")).as("mx"))
      .localCheckpoint()
    val validDocs = Validation.validDocuments(docs)
    // division-first split form cannot ANSI-overflow
    val mx = corpusMax.get("mx").asInstanceOf[Long]
    val initial = BatchWorkflow.run(
      validDocs.filter(col("doc_id") <= lit(mx - mx / 5)), prefix.toString)
    val resumed = BatchWorkflow.resume(validDocs, prefix.toString)

    // the saved-file read-back: each run's BatchResult frames read the
    // files it saved, with the parsed schema (absent fields read as
    // typed nulls, no inference job), so no output is listed twice
    def readBack(saved: DataFrame, phase: String, disposition: String,
        runStatus: String): DataFrame =
      saved.select(col("doc_id"), col("content"), col("error_message"),
          col("prompt_tokens"), col("completion_tokens"))
        .withColumn("phase", lit(phase))
        .withColumn("disposition", lit(disposition))
        .withColumn("run_status", lit(runStatus))
    val rejected = validated.filter(!col("is_valid"))
      .select(col("doc_id"), lit(null).cast("string").as("content"),
        col("reason").as("error_message"),
        lit(null).cast("long").as("prompt_tokens"),
        lit(null).cast("long").as("completion_tokens"),
        lit("preflight").as("phase"), lit("rejected").as("disposition"),
        lit("rejected_preflight").as("run_status"))
    readBack(initial.results, "initial", "result", initial.finalStatus)
      .unionByName(readBack(initial.errors, "initial", "error", initial.finalStatus))
      .unionByName(readBack(resumed.results, "resume", "result", resumed.finalStatus))
      .unionByName(readBack(resumed.errors, "resume", "error", resumed.finalStatus))
      .unionByName(rejected)
      .select(col("doc_id"), col("phase"), col("disposition"), col("content"),
        col("error_message"), col("prompt_tokens"), col("completion_tokens"),
        col("run_status"))
      .sortWithinPartitions(col("doc_id")) // corpus-sized: see byDoc
  }

  /** Oracle: the workflow end state recomputed relationally — phase
    * from the same division-first split, disposition/payload from the
    * simulator rules, per-phase terminal status re-derived from its
    * own error population (exactly run()'s `errors.isEmpty` rule).
    */
  private val g14Sql = ReqsCte +
    """,
      |checked AS (
      |  SELECT doc_id, system_content, user_content,
      |    CASE WHEN max_tokens <= 0 THEN 'max_tokens_out_of_range'
      |         WHEN model NOT IN ('gpt-4.1-nano','gpt-4o-mini','gpt-4o') THEN 'unknown_model'
      |         WHEN length(user_content) = 0 THEN 'empty_prompt'
      |         WHEN length(user_content) > 4000 THEN 'prompt_too_long'
      |    END AS reason
      |  FROM reqs),
      |mxv AS (SELECT MAX(doc_id) AS mx FROM documents),
      |runs AS (
      |  SELECT c.doc_id,
      |    CASE WHEN c.doc_id <= mx - mx // 5 THEN 'initial' ELSE 'resume' END AS phase,
      |    CASE WHEN c.doc_id % 53 = 0 THEN 'error' ELSE 'result' END AS disposition,
      |    CASE WHEN c.doc_id % 53 = 0 THEN CAST(NULL AS VARCHAR)
      |         WHEN length(regexp_extract_all(c.user_content, 'fast|small|value')) >=
      |              length(regexp_extract_all(c.user_content, 'slow|error|big'))
      |         THEN 'positive' ELSE 'negative' END AS content,
      |    CASE WHEN c.doc_id % 53 = 0 THEN 'Internal server error'
      |         ELSE CAST(NULL AS VARCHAR) END AS error_message,
      |    CASE WHEN c.doc_id % 53 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST((length(c.system_content) + length(c.user_content) + 3) // 4 AS BIGINT) END AS prompt_tokens,
      |    CASE WHEN c.doc_id % 53 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST(1 AS BIGINT) END AS completion_tokens
      |  FROM checked c, mxv WHERE c.reason IS NULL),
      |run_status AS (
      |  SELECT phase,
      |    CASE WHEN SUM(CASE WHEN disposition = 'error' THEN 1 ELSE 0 END) > 0
      |         THEN 'completed_with_errors' ELSE 'completed' END AS run_status
      |  FROM runs GROUP BY phase)
      |SELECT r.doc_id, r.phase, r.disposition, r.content, r.error_message,
      |       r.prompt_tokens, r.completion_tokens, st.run_status
      |FROM runs r JOIN run_status st ON r.phase = st.phase
      |UNION ALL
      |SELECT doc_id, 'preflight' AS phase, 'rejected' AS disposition,
      |  CAST(NULL AS VARCHAR) AS content, reason AS error_message,
      |  CAST(NULL AS BIGINT) AS prompt_tokens, CAST(NULL AS BIGINT) AS completion_tokens,
      |  'rejected_preflight' AS run_status
      |FROM checked WHERE reason IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** g12: failure resubmission — rebuild a retry batch for every
    * request whose response came back non-200, keeping the original
    * body, tagging the attempt and re-keying custom_id so the Batch
    * API treats it as a new request while results still join back by
    * doc_id. The standard recover-step after `completed_with_errors`.
    */
  private def g12(s: SparkSession, d: String): DataFrame = {
    val r = reqs(s, d)
    val failed = Responses.errors(Responses.parse(Simulator.respond(r)))
      .select(col("doc_id"))
    byDoc(r.join(failed, Seq("doc_id"))
      .withColumn("custom_id", concat(lit("retry-1-"), col("doc_id").cast("string")))
      .withColumn("attempt", lit(2L)))
  }

  private val g12Sql = ParsedCte +
    """
      |SELECT r.doc_id, 'retry-1-' || r.doc_id AS custom_id, r.method, r.url, r.model,
      |  r.system_content, r.user_content, r.max_tokens, r.temperature,
      |  CAST(2 AS BIGINT) AS attempt
      |FROM reqs r JOIN parsed p ON r.doc_id = p.doc_id AND p.status_code <> 200
      |ORDER BY r.doc_id""".stripMargin

  /** g15: corrupt-record quarantine — the tolerance layer a real
    * retrieval step needs that the reference's parser assumes away:
    * a results JSONL that arrives truncated mid-object or with empty
    * lines must not kill the job OR silently drop rows. Every line
    * gets a verdict (`ok` / `empty` / `malformed`), valid lines parse
    * their fields, quarantined lines keep their raw bytes for the
    * audit trail (the badRecordsPath pattern, as a query).
    *
    * Corruption is PLANTED deterministically (the t16/d18 injection
    * discipline): every 13th-mod-5 line arrives empty, every
    * 7th-mod-3 truncated 4 bytes early — so the oracle checks the
    * REAL malformed-JSON behavior of both engines (Spark's
    * `get_json_object` → NULL on invalid input; DuckDB guarded by
    * `json_valid`, lazily — same verdict by construction).
    *
    * Scale: per-row projection, zero shuffle (plan-pinned, like t16).
    * JSON validity is decided per line, so corrupt records quarantine
    * locally in whatever partition they land — no coordination, no
    * job restart, and the quarantine relation is itself queryable
    * (feed it to g12's retry rebuild).
    */
  private def g15(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    Tables.documents(s, d)
      .select(id, concat(
        lit("{\"custom_id\":\"req-"), id.cast("string"),
        lit("\",\"doc_id\":"), id.cast("string"),
        lit(",\"content\":\"label-"), (id % 4).cast("string"),
        lit("\",\"tokens\":"), (lit(50) + id % 100).cast("string"),
        lit("}")).as("line0"))
      .withColumn("line",
        when(id % 13 === 5, lit(""))
          .when(id % 7 === 3, expr("substring(line0, 1, length(line0) - 4)"))
          .otherwise(col("line0")))
      .withColumn("parsed_custom_id", get_json_object(col("line"), "$.custom_id"))
      .withColumn("ok", col("parsed_custom_id").isNotNull)
      .select(id,
        col("ok"),
        when(col("line") === "", "empty")
          .when(!col("ok"), "malformed")
          .otherwise("ok").as("reason"),
        col("parsed_custom_id"),
        get_json_object(col("line"), "$.tokens").cast("long").as("parsed_tokens"),
        when(!col("ok"), col("line")).as("raw_quarantine"))
      .sortWithinPartitions(id)
  }

  private val g15Sql =
    """WITH lines AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 5 THEN ''
      |         WHEN doc_id % 7 = 3 THEN substring(l0, 1, length(l0) - 4)
      |         ELSE l0 END AS line
      |  FROM (SELECT doc_id,
      |      '{"custom_id":"req-' || CAST(doc_id AS VARCHAR)
      |        || '","doc_id":' || CAST(doc_id AS VARCHAR)
      |        || ',"content":"label-' || CAST(doc_id % 4 AS VARCHAR)
      |        || '","tokens":' || CAST(50 + doc_id % 100 AS VARCHAR)
      |        || '}' AS l0
      |    FROM documents)),
      |v AS (
      |  SELECT doc_id, line, json_valid(line) AS jv,
      |    CASE WHEN json_valid(line)
      |         THEN json_extract_string(line, '$.custom_id') END AS parsed_custom_id,
      |    CASE WHEN json_valid(line)
      |         THEN CAST(json_extract_string(line, '$.tokens') AS BIGINT) END AS parsed_tokens
      |  FROM lines)
      |SELECT doc_id, parsed_custom_id IS NOT NULL AS ok,
      |  CASE WHEN line = '' THEN 'empty'
      |       WHEN parsed_custom_id IS NULL THEN 'malformed'
      |       ELSE 'ok' END AS reason,
      |  parsed_custom_id, parsed_tokens,
      |  CASE WHEN parsed_custom_id IS NULL THEN line END AS raw_quarantine
      |FROM v""".stripMargin

  /** g16: byte-budget batch sharding — the scale generalization of
    * the reference's single-file batch prep
    * (openai_batch_processor.py:127 `_prepare_and_upload_file` writes
    * ONE jsonl for the whole corpus): the Batch API caps an input
    * file by request count AND bytes, so a large corpus must be
    * packed into budget-bounded shards before submission. g3 is the
    * count-based variant; this is the PAYLOAD-budget one:
    * shard = payload-offset div budget over the deterministic doc_id
    * order — the t10 packing idiom, reusing the same fully
    * distributed two-level prefix sum (per-bucket partial sums →
    * [[graft.operators.PrefixOffsets]] metadata fold → bounded
    * within-bucket windows; no unpartitioned window anywhere, so the
    * offset assignment scales to any corpus). Offset-bucket packing
    * overshoots a shard's budget by at most its last request;
    * `over_budget` reports exactly those shards so a submitter can
    * price the headroom (budget minus max single payload keeps every
    * shard under the hard API cap).
    */
  private[graft] val ShardBudgetChars = 64L * 1024

  private def g16(s: SparkSession, d: String): DataFrame = {
    val sized = reqs(s, d)
      .select(col("doc_id"),
        (length(col("system_content")) + length(col("user_content")))
          .cast("long").as("payload_chars"))
    // one metadata-sized scalar job to size the bucketing (see t10)
    val maxRow = sized.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val packBucket = graft.text.TextAnalysis.derivePackBucket(maxId)
    val base = sized.withColumn("pbucket", expr(s"doc_id div $packBucket"))
    val bsums = base.groupBy(col("pbucket")).agg(sum(col("payload_chars")).as("bchars"))
    val boffsets = graft.operators.PrefixOffsets.bucketOffsets(bsums, Nil, "bchars",
      graft.operators.PrefixOffsets.superBucket(maxId / packBucket))
    val local = Window.partitionBy(col("pbucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(boffsets), Seq("pbucket"))
      .withColumn("off",
        col("boffset") + coalesce(sum(col("payload_chars")).over(local), lit(0L)))
      .withColumn("shard_id", expr(s"off div $ShardBudgetChars"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_requests"),
        sum(col("payload_chars")).as("payload_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .withColumn("over_budget", col("payload_chars") > ShardBudgetChars)
      // shard count is corpus/budget-proportional — local sort only
      // (the global-Sort convention for corpus-sized outputs)
      .sortWithinPartitions(col("shard_id"))
  }

  private val g16Sql = ReqsCte +
    s"""
      |, sized AS (
      |  SELECT doc_id,
      |    CAST(length(system_content) + length(user_content) AS BIGINT) AS payload_chars
      |  FROM reqs),
      |o AS (
      |  SELECT doc_id, payload_chars,
      |    CAST(COALESCE(SUM(payload_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM sized)
      |SELECT off // $ShardBudgetChars AS shard_id, COUNT(*) AS n_requests,
      |  CAST(SUM(payload_chars) AS BIGINT) AS payload_chars,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
      |  CAST(SUM(payload_chars) AS BIGINT) > $ShardBudgetChars AS over_budget
      |FROM o GROUP BY 1 ORDER BY shard_id""".stripMargin

  /** g17: request idempotency dedup — collapse byte-identical request
    * bodies BEFORE submission and fan the one paid response back out.
    * The reference resubmits failed batches wholesale
    * (openai_batch_processor.py:217 `retry_failed_requests` re-uploads
    * every failed request), and a flaky client re-enqueues the same
    * prompt under a fresh custom_id — in a paid batch API every
    * collapsed duplicate is tokens not bought. The operational
    * duplicates are planted in-query (the m9/d23 plant discipline):
    * docs with doc_id % 7 = 3 are re-submitted under
    * `request-<id>-retry` with an IDENTICAL body, so the collapse is
    * falsifiable — the oracle must see exactly those groups at size 2
    * and every other group at size 1.
    *
    * Identity = md5 over the FULL body tuple (method, url, model,
    * system, user, max_tokens, temperature) — the d1 fp convention: a
    * 32-hex shuffle key instead of kilobyte prompt bodies; canonical =
    * lexicographic min custom_id (the original is a prefix of its
    * retry, so orig wins its group; deterministic in both engines).
    *
    * Scale shape: one partial+final count/min aggregate on fp, then
    * an equi-join back on fp. Catalyst picks the join strategy by the
    * aggregate's size estimate: on small corpora the groups side
    * broadcasts (seen in `graft.Dev explain` — correct, it IS small); at
    * scale the estimate exceeds the broadcast threshold and the join
    * becomes a shuffle join whose exchanged rows are the 32-hex fp +
    * two small columns, never the request bodies. The probe side
    * re-evaluates the md5 projection rather than reusing the
    * aggregate's exchange (column pruning specializes the partial
    * aggregate, so the exchanges never canonicalize equal — the same
    * mechanism measured in s14's df branch) — one extra codegen'd
    * hash pass, cheaper than forcing a second shuffle. Corpus-sized
    * output → sortWithinPartitions. Duplicate groups are bounded (a
    * retry storm on one prompt is operationally bounded by attempt
    * caps), so fp is not a skew key.
    */
  private def g17(s: SparkSession, d: String): DataFrame = {
    val base = reqs(s, d)
    val resub = base.filter(col("doc_id") % 7 === 3)
      .withColumn("custom_id", concat(col("custom_id"), lit("-retry")))
    val keyed = base.unionAll(resub)
      .select(col("doc_id"), col("custom_id"),
        md5(concat_ws("\u0001",
          col("method"), col("url"), col("model"), col("system_content"),
          col("user_content"), col("max_tokens").cast("string"),
          col("temperature").cast("string")).cast("binary")).as("fp"),
        length(col("user_content")).cast("long").as("chars"))
    val groups = keyed.groupBy(col("fp"))
      .agg(min(col("custom_id")).as("canonical_custom_id"),
        count(lit(1)).as("n_dup"))
    keyed.join(groups, Seq("fp"))
      .select(col("doc_id"), col("custom_id"), col("canonical_custom_id"),
        (col("custom_id") === col("canonical_custom_id")).as("is_canonical"),
        col("n_dup"),
        when(col("custom_id") === col("canonical_custom_id"), lit(0L))
          .otherwise(col("chars")).as("saved_chars"))
      .sortWithinPartitions(col("custom_id"))
  }

  private val g17Sql = ReqsCte +
    """,
      |allreq AS (
      |  SELECT doc_id, custom_id, method, url, model, system_content,
      |         user_content, max_tokens, temperature FROM reqs
      |  UNION ALL
      |  SELECT doc_id, custom_id || '-retry', method, url, model,
      |         system_content, user_content, max_tokens, temperature
      |  FROM reqs WHERE doc_id % 7 = 3),
      |keyed AS (
      |  SELECT doc_id, custom_id,
      |    md5(concat_ws(chr(1), method, url, model, system_content,
      |      user_content, CAST(max_tokens AS VARCHAR),
      |      CAST(temperature AS VARCHAR))) AS fp,
      |    CAST(length(user_content) AS BIGINT) AS chars
      |  FROM allreq),
      |grp AS (
      |  SELECT fp, MIN(custom_id) AS canonical_custom_id, COUNT(*) AS n_dup
      |  FROM keyed GROUP BY fp)
      |SELECT k.doc_id, k.custom_id, g.canonical_custom_id,
      |  k.custom_id = g.canonical_custom_id AS is_canonical, g.n_dup,
      |  CASE WHEN k.custom_id = g.canonical_custom_id THEN 0
      |       ELSE k.chars END AS saved_chars
      |FROM keyed k JOIN grp g USING (fp) ORDER BY k.custom_id""".stripMargin

  /** g18: best-of-n preference-pair construction — the DPO/RLHF
    * training-data operator downstream of a batch run (Rafailov et al.
    * 2023, arXiv:2305.18290: a preference dataset is (prompt, chosen,
    * rejected) triples; the standard recipe samples n completions per
    * prompt, scores them with a reward model, and pairs the best
    * against the worst when the margin is informative). The sampling
    * and the reward model are model-external — exactly the boundary
    * the [[Simulator]] stands in for everywhere else in this module —
    * so each of the [[BonSamples]] completions per request carries a
    * deterministic md5-derived milli-reward (the t24 uniform idiom,
    * engine-exact via conv/strpos decoding of the same 8 hex digits).
    *
    * chosen = argmax (reward DESC, sample ASC), rejected = argmin
    * (reward ASC, sample ASC) — both via min/max over ordered structs
    * (the d10 keep-best discipline, no window); pairs below
    * [[MinMarginMilli]] are dropped (the standard near-tie filter: a
    * pair the reward model can't separate teaches nothing). At 4
    * samples on a 0..999 uniform, P(range < 200) ≈ 2.7%, so both kept
    * and dropped populations exist at every test scale.
    *
    * Scale shape: one explode (×n, a constant), one partial+final
    * groupBy on doc_id, zero joins, zero windows, corpus-sized output
    * → sortWithinPartitions.
    */
  private[graft] val BonSamples = 4
  private[graft] val MinMarginMilli = 200L

  private def g18(s: SparkSession, d: String): DataFrame = {
    val samples = reqs(s, d)
      .select(col("doc_id"), col("custom_id"),
        explode(expr(s"sequence(0, ${BonSamples - 1})")).as("k"))
      .select(col("doc_id"), col("k").cast("long").as("k"),
        expr("cast(conv(substring(md5(concat(custom_id, '#', " +
          "cast(k as string))), 1, 8), 16, 10) as bigint) % 1000")
          .as("reward_milli"))
    samples.groupBy(col("doc_id"))
      .agg(
        max(struct(col("reward_milli"), (-col("k")).as("nk"))).as("mx"),
        min(struct(col("reward_milli"), col("k"))).as("mn"))
      .select(col("doc_id"),
        (-col("mx.nk")).as("chosen_k"),
        col("mx.reward_milli").as("chosen_reward_milli"),
        col("mn.k").as("rejected_k"),
        col("mn.reward_milli").as("rejected_reward_milli"),
        (col("mx.reward_milli") - col("mn.reward_milli")).as("margin_milli"))
      .filter(col("margin_milli") >= MinMarginMilli)
      .sortWithinPartitions(col("doc_id"))
  }

  private val g18Sql = {
    // 32-bit value from 8 md5 hex digits, decoded positionally (the
    // d17/t24 oracle idiom — DuckDB has no conv)
    val decode = (1 to 8).map { p =>
      s"(strpos('0123456789abcdef', substring(md5(custom_id || '#' || k), $p, 1)) - 1) * ${1L << (4 * (8 - p))}"
    }.mkString(" + ")
    ReqsCte +
      s""",
      |samples AS (
      |  SELECT r.doc_id, r.custom_id, CAST(t.k AS BIGINT) AS k
      |  FROM reqs r, unnest(generate_series(0, ${BonSamples - 1})) AS t(k)),
      |scored AS (
      |  SELECT doc_id, k, ($decode) % 1000 AS reward_milli FROM samples),
      |ch AS (
      |  SELECT doc_id, k AS chosen_k, reward_milli AS chosen_reward_milli,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY reward_milli DESC, k) AS rn
      |  FROM scored QUALIFY rn = 1),
      |rj AS (
      |  SELECT doc_id, k AS rejected_k, reward_milli AS rejected_reward_milli,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY reward_milli ASC, k) AS rn
      |  FROM scored QUALIFY rn = 1)
      |SELECT c.doc_id, c.chosen_k, c.chosen_reward_milli,
      |  r.rejected_k, r.rejected_reward_milli,
      |  c.chosen_reward_milli - r.rejected_reward_milli AS margin_milli
      |FROM ch c JOIN rj r USING (doc_id)
      |WHERE c.chosen_reward_milli - r.rejected_reward_milli >= $MinMarginMilli
      |ORDER BY c.doc_id""".stripMargin
  }

  /** g19: cost-aware model routing — the FrugalGPT-style cascade
    * (Chen et al. 2023, arXiv:2305.05176: route each request to the
    * cheapest model predicted to handle it; batch pipelines ship this
    * as a pre-submission pass because the price gap between tiers is
    * ~16×). The difficulty proxy is a deterministic integer text
    * feature — the long-word milli-ratio of the prompt (words > 7
    * chars per 1000 words; measured on this corpus: median ≈ 84,
    * IQR 62–120, so [[RouteTauMilli]] = 100 routes a robust ~40% to
    * premium at every scale) — compared by integer cross-
    * multiplication (1000·n_long ≥ τ·n_words, the t2/t14 no-float
    * discipline). Cost ledger in nano-USD per token (g8's premium
    * rates; the mini tier at the published ~16× discount), plus the
    * counterfactual `saved_vs_premium_nano` — the number the cascade
    * exists to maximize.
    *
    * Scale shape: per-row projections + ONE partial+final groupBy on
    * the 2-value tier key; no joins, no windows, 2-row output.
    */
  private[graft] val RouteTauMilli = 100L
  private[graft] val PremiumModel = "gpt-4.1"
  private[graft] val MiniModel = "gpt-4o-mini"

  /** The per-request routing decision — a stateless per-row
    * projection, shared by g19's ledger and the ingest-time streaming
    * router (st13, which pins stream ≡ batch row-for-row on exactly
    * this relation). Columns: doc_id, routed_model, ptok, ctok,
    * cost_nano, saved_nano.
    */
  private[graft] def routeRequests(requests: DataFrame): DataFrame =
    requests.select(col("doc_id"),
      expr("cast(size(filter(split(user_content, '\\\\s+'), " +
        "w -> length(w) > 7)) as bigint)").as("n_long"),
      expr("cast(regexp_count(user_content, '\\\\S+') as bigint)").as("n_words"),
      expr("cast((length(system_content) + length(user_content) + 3) div 4 as bigint)")
        .as("ptok"),
      col("max_tokens").cast("long").as("ctok"))
      .withColumn("routed_model",
        when(col("n_long") * 1000L >= col("n_words") * RouteTauMilli,
          lit(PremiumModel)).otherwise(lit(MiniModel)))
      .select(col("doc_id"), col("routed_model"), col("ptok"), col("ctok"),
        when(col("routed_model") === PremiumModel,
          col("ptok") * 2500L + col("ctok") * 10000L)
          .otherwise(col("ptok") * 150L + col("ctok") * 600L).as("cost_nano"),
        when(col("routed_model") === PremiumModel, lit(0L))
          .otherwise(col("ptok") * 2350L + col("ctok") * 9400L).as("saved_nano"))

  /** st13's oracle: the per-row routing decision as SQL (ReqsCte's
    * request derivation + the same integer rule). */
  private[graft] val RoutedRowsSql = ReqsCte +
    s""",
      |routed AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_extract_all(user_content, '\\S+'),
      |      w -> length(w) > 7)) AS BIGINT) AS n_long,
      |    CAST(len(regexp_extract_all(user_content, '\\S+')) AS BIGINT) AS n_words,
      |    CAST((length(system_content) + length(user_content) + 3) // 4 AS BIGINT) AS ptok,
      |    CAST(max_tokens AS BIGINT) AS ctok
      |  FROM reqs),
      |tagged AS (
      |  SELECT *,
      |    CASE WHEN n_long * 1000 >= n_words * $RouteTauMilli
      |         THEN '$PremiumModel' ELSE '$MiniModel' END AS routed_model
      |  FROM routed)
      |SELECT doc_id, routed_model, ptok, ctok,
      |  CASE WHEN routed_model = '$PremiumModel'
      |       THEN ptok * 2500 + ctok * 10000
      |       ELSE ptok * 150 + ctok * 600 END AS cost_nano,
      |  CASE WHEN routed_model = '$PremiumModel' THEN 0
      |       ELSE ptok * 2350 + ctok * 9400 END AS saved_nano
      |FROM tagged ORDER BY doc_id""".stripMargin

  private def g19(s: SparkSession, d: String): DataFrame =
    routeRequests(reqs(s, d))
      .groupBy(col("routed_model"))
      .agg(count(lit(1)).as("n_requests"),
        sum(col("ptok")).as("est_prompt_tokens"),
        sum(col("ctok")).as("est_completion_tokens"),
        sum(col("cost_nano")).as("est_cost_nano"),
        sum(col("saved_nano")).as("saved_vs_premium_nano"))
      .orderBy(col("routed_model"))

  private val g19Sql = ReqsCte +
    s""",
      |routed AS (
      |  SELECT
      |    CAST(len(list_filter(regexp_extract_all(user_content, '\\S+'),
      |      w -> length(w) > 7)) AS BIGINT) AS n_long,
      |    CAST(len(regexp_extract_all(user_content, '\\S+')) AS BIGINT) AS n_words,
      |    CAST((length(system_content) + length(user_content) + 3) // 4 AS BIGINT) AS ptok,
      |    CAST(max_tokens AS BIGINT) AS ctok
      |  FROM reqs),
      |tagged AS (
      |  SELECT *,
      |    CASE WHEN n_long * 1000 >= n_words * $RouteTauMilli
      |         THEN '$PremiumModel' ELSE '$MiniModel' END AS routed_model
      |  FROM routed)
      |SELECT routed_model, COUNT(*) AS n_requests,
      |  CAST(SUM(ptok) AS BIGINT) AS est_prompt_tokens,
      |  CAST(SUM(ctok) AS BIGINT) AS est_completion_tokens,
      |  CAST(SUM(CASE WHEN routed_model = '$PremiumModel'
      |       THEN ptok * 2500 + ctok * 10000
      |       ELSE ptok * 150 + ctok * 600 END) AS BIGINT) AS est_cost_nano,
      |  CAST(SUM(CASE WHEN routed_model = '$PremiumModel' THEN 0
      |       ELSE ptok * 2350 + ctok * 9400 END) AS BIGINT) AS saved_vs_premium_nano
      |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin

  /** g20: typed structured-output validation — the response-side g2
    * (VERDICT r15 #5): the reference forces
    * `response_format: json_object` and then hand-parses one field
    * (`json.loads(content)["answer"]`, run_multichoice_exam.py;
    * openai_batch_processor.py:79 sets the format) — a schema
    * violation crashes the whole retrieve step. Here every parsed
    * response gets a per-rule verdict
    * ([[Validation.validateStructured]]: required key, integer type,
    * enum 1–4 — first failing rule wins, the g2 form) against a
    * simulated model that disobeys JSON mode on deterministic slivers
    * ([[Simulator.respondStructured]] — prose, wrong type, enum
    * violation, missing key; every rule population non-empty at every
    * SF, the t16 falsifiability discipline), then one count rollup
    * per verdict (the g15 quarantine discipline applied to semantic
    * validity: invalid rows are a queryable population, not a crash).
    *
    * Scale: per-row codegen'd JSON predicates over the parsed
    * responses, zero joins; the only exchanges carry the ≤ 6-row
    * verdict rollup (plan-pinned). The oracle re-derives every
    * verdict from the CONTENT through DuckDB's own JSON machinery
    * (json_valid / json_extract_string / TRY_CAST), not from the
    * planting rule — so the two engines' parse semantics are being
    * compared, not the injection arithmetic.
    */
  private def g20(s: SparkSession, d: String): DataFrame = {
    val items = examItems(Tables.documents(s, d))
    val parsed = Responses.parse(
      Simulator.respondStructured(Requests.examRequests(items)))
    Validation.validateStructured(parsed)
      .groupBy(coalesce(col("reason"), lit("valid")).as("reason"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("reason"))
  }

  private val g20Sql =
    """WITH resp AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 53 = 0 THEN 500 ELSE 200 END AS status_code,
      |    CASE WHEN doc_id % 53 = 0 THEN NULL
      |         WHEN doc_id % 17 = 2 THEN 'The answer is ' || CAST(doc_id % 4 + 1 AS VARCHAR) || '.'
      |         WHEN doc_id % 19 = 4 THEN '{"answer": "option-' || CAST(doc_id % 4 + 1 AS VARCHAR) || '"}'
      |         WHEN doc_id % 23 = 6 THEN '{"answer": "7"}'
      |         WHEN doc_id % 29 = 8 THEN '{"verdict": "' || CAST(doc_id % 4 + 1 AS VARCHAR) || '"}'
      |         ELSE '{"answer": "' || CAST(doc_id % 4 + 1 AS VARCHAR) || '"}' END AS content
      |  FROM documents),
      |v AS (
      |  SELECT doc_id,
      |    CASE WHEN status_code <> 200 OR content IS NULL THEN 'missing_content'
      |         WHEN NOT json_valid(content) THEN 'not_json'
      |         WHEN json_extract_string(content, '$.answer') IS NULL THEN 'missing_key'
      |         WHEN TRY_CAST(json_extract_string(content, '$.answer') AS BIGINT) IS NULL THEN 'wrong_type'
      |         WHEN TRY_CAST(json_extract_string(content, '$.answer') AS BIGINT) NOT BETWEEN 1 AND 4 THEN 'enum_out_of_range'
      |         ELSE 'valid' END AS reason
      |  FROM resp)
      |SELECT reason, COUNT(*) AS n FROM v GROUP BY reason ORDER BY reason""".stripMargin

  /** g21: inter-judge agreement for LLM-as-judge pipelines — the
    * quality check a production eval runs BEFORE trusting model-graded
    * labels (two judges grade the same exam; if they can't agree with
    * each other beyond chance, neither's grades are usable as truth).
    * Two deterministic judges answer the SAME multichoice exam through
    * the full request → simulate → parse path ([[Simulator.respondExam]]
    * / [[Simulator.respondExamB]] — each with its own error sliver and
    * its own wrong-answer shift), then per LANGUAGE: n double-graded,
    * raw agreement, and Cohen's kappa — chance-corrected via the
    * judges' per-category marginals (Cohen 1960). The grouping is
    * lang, not source, deliberately: this corpus's sources are
    * doc_id-residue classes, so within a source the exam's answer
    * category is CONSTANT — chance-corrected agreement needs category
    * variation inside the group or pe saturates and kappa is
    * degenerate noise (the spec pins the lang groups non-degenerate).
    *
    * Exactness: kappa = (n·agree − Σₖ nAₖ·nBₖ) / (n² − Σₖ nAₖ·nBₖ) —
    * numerator and denominator are exact longs (the pe term never
    * becomes a float), the output double is one division of identical
    * exact integers in both engines; degenerate marginals (den = 0)
    * yield NULL, not NaN, in both.
    *
    * Scale: two per-row response pipelines + one doc_id equi-join +
    * bounded groupBys on (lang) and (lang, answer) — the marginal
    * product Σₖ nAₖ·nBₖ joins two ≤|langs|×4-row aggregates, a
    * metadata-sized relation; nothing corpus-sized shuffles twice.
    * (ADVICE r17: this note previously said `source` — the grouping
    * key is lang, per the degeneracy argument above.)
    */
  private def g21(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val items = examItems(docs)
    def answers(resp: DataFrame, name: String) =
      Responses.results(Responses.parse(resp))
        .select(col("doc_id"),
          get_json_object(col("content"), "$.answer").cast("long").as(name))
    val reqs = Requests.examRequests(items)
    val a = answers(Simulator.respondExam(reqs), "a")
    val b = answers(Simulator.respondExamB(reqs), "b")
    val graded = a.join(b, Seq("doc_id"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val base = graded.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"))
    val ca = graded.groupBy(col("lang"), col("a").as("k")).agg(count(lit(1)).as("na"))
    val cb = graded.groupBy(col("lang"), col("b").as("k")).agg(count(lit(1)).as("nb"))
    val prods = ca.join(cb, Seq("lang", "k"))
      .groupBy(col("lang")).agg(sum(col("na") * col("nb")).as("sum_prod"))
    base.join(prods, Seq("lang"))
      .withColumn("agree_rate", col("n_agree").cast("double") / col("n"))
      .withColumn("kappa_num", col("n") * col("n_agree") - col("sum_prod"))
      .withColumn("kappa_den", col("n") * col("n") - col("sum_prod"))
      .withColumn("kappa",
        when(col("kappa_den") =!= 0L,
          col("kappa_num").cast("double") / col("kappa_den")))
      .select(col("lang"), col("n"), col("n_agree"), col("agree_rate"),
        col("kappa_num"), col("kappa_den"), col("kappa"))
      .orderBy(col("lang"))
  }

  /** Oracle mirrors both judges' parsed answers directly (g11Sql's
    * discipline — the Spark side really round-trips JSONL). */
  private val g21Sql =
    """WITH ans AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 11 = 0 THEN (doc_id % 4 + 1) % 4 + 1
      |         ELSE doc_id % 4 + 1 END AS a,
      |    CASE WHEN doc_id % 13 = 0 THEN ((doc_id % 4 + 1) + 1) % 4 + 1
      |         ELSE doc_id % 4 + 1 END AS b
      |  FROM documents WHERE doc_id % 53 <> 0),
      |base AS (
      |  SELECT lang, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      |  FROM ans GROUP BY lang),
      |ca AS (SELECT lang, a AS k, COUNT(*) AS na FROM ans GROUP BY lang, a),
      |cb AS (SELECT lang, b AS k, COUNT(*) AS nb FROM ans GROUP BY lang, b),
      |pr AS (
      |  SELECT ca.lang, CAST(SUM(na * nb) AS BIGINT) AS sum_prod
      |  FROM ca JOIN cb ON ca.lang = cb.lang AND ca.k = cb.k
      |  GROUP BY ca.lang)
      |SELECT b.lang, n, n_agree,
      |  CAST(n_agree AS DOUBLE) / n AS agree_rate,
      |  n * n_agree - sum_prod AS kappa_num,
      |  n * n - sum_prod AS kappa_den,
      |  CASE WHEN n * n - sum_prod <> 0
      |       THEN CAST(n * n_agree - sum_prod AS DOUBLE) / (n * n - sum_prod)
      |       END AS kappa
      |FROM base b JOIN pr ON pr.lang = b.lang ORDER BY b.lang""".stripMargin

  /** g22: batch cost reconciliation — the spend report an ops team
    * runs after every retrieve: what the batch was PLANNED to cost
    * (pre-submission estimate from request payloads: chars-div-4
    * prompt tokens + the max_tokens completion cap — the numbers a
    * budget approval is granted on) vs what was BILLED (the usage
    * actually reported per 200 response, g8's actuals), per model:
    * planned/billed request counts, token sums both ways, cost both
    * ways at the g8 rate card, the unrealized delta and the realized
    * ratio. The two standing findings this surfaces on the simulated
    * batch: transport-failed requests (doc_id % 53) are planned but
    * never billed (unrealized spend), and the zero-cap rows
    * (max_tokens = 0, doc_id % 97) bill MORE completion than planned
    * — the under-estimate a reconciliation exists to catch.
    *
    * Exactness: every token sum and cost is an exact long (nano-USD
    * integer rate card, the g8 discipline); realized_ratio is one
    * division of identical exact longs. Scale: two per-row projections
    * + two bounded per-model aggregates joined on the ≤|models|-row
    * key — nothing corpus-sized shuffles twice.
    */
  private def g22(s: SparkSession, d: String): DataFrame = {
    val rq = reqs(s, d)
    val est = rq.groupBy(col("model"))
      .agg(count(lit(1)).as("n_planned"),
        sum(expr("(length(system_content) + length(user_content) + 3) div 4")
          .cast("long")).as("est_prompt"),
        sum(col("max_tokens").cast("long")).as("est_completion"))
    val act = Responses.results(Responses.parse(Simulator.respond(rq)))
      .groupBy(col("model"))
      .agg(count(lit(1)).as("n_billed"),
        sum(col("prompt_tokens")).as("act_prompt"),
        sum(col("completion_tokens")).as("act_completion"))
    est.join(act, Seq("model"), "left")
      .select(col("model"), col("n_planned"),
        coalesce(col("n_billed"), lit(0L)).as("n_billed"),
        col("est_prompt"), coalesce(col("act_prompt"), lit(0L)).as("act_prompt"),
        col("est_completion"),
        coalesce(col("act_completion"), lit(0L)).as("act_completion"))
      .withColumn("est_cost_nano",
        col("est_prompt") * 2500L + col("est_completion") * 10000L)
      .withColumn("act_cost_nano",
        col("act_prompt") * 2500L + col("act_completion") * 10000L)
      .withColumn("unrealized_nano", col("est_cost_nano") - col("act_cost_nano"))
      .withColumn("realized_ratio",
        col("act_cost_nano").cast("double") / col("est_cost_nano"))
      .orderBy(col("model"))
  }

  private val g22Sql = ParsedCte +
    """,
      |cest AS (
      |  SELECT model, COUNT(*) AS n_planned,
      |    CAST(SUM((length(system_content) + length(user_content) + 3) // 4) AS BIGINT) AS est_prompt,
      |    CAST(SUM(max_tokens) AS BIGINT) AS est_completion
      |  FROM reqs GROUP BY model),
      |cact AS (
      |  SELECT model, COUNT(*) AS n_billed,
      |    CAST(SUM(prompt_tokens) AS BIGINT) AS act_prompt,
      |    CAST(SUM(completion_tokens) AS BIGINT) AS act_completion
      |  FROM parsed WHERE status_code = 200 GROUP BY model)
      |SELECT e.model, n_planned, COALESCE(n_billed, 0) AS n_billed,
      |  est_prompt, COALESCE(act_prompt, 0) AS act_prompt,
      |  est_completion, COALESCE(act_completion, 0) AS act_completion,
      |  est_prompt * 2500 + est_completion * 10000 AS est_cost_nano,
      |  COALESCE(act_prompt, 0) * 2500 + COALESCE(act_completion, 0) * 10000 AS act_cost_nano,
      |  est_prompt * 2500 + est_completion * 10000
      |    - (COALESCE(act_prompt, 0) * 2500 + COALESCE(act_completion, 0) * 10000) AS unrealized_nano,
      |  CAST(COALESCE(act_prompt, 0) * 2500 + COALESCE(act_completion, 0) * 10000 AS DOUBLE)
      |    / (est_prompt * 2500 + est_completion * 10000) AS realized_ratio
      |FROM cest e LEFT JOIN cact a ON a.model = e.model
      |ORDER BY e.model""".stripMargin

  val queries: Map[String, QFn] = Map(
    "g22_cost_reconcile" -> (g22 _),
    "g21_judge_agreement" -> (g21 _),
    "g20_schema_validate" -> (g20 _),
    "g19_model_router" -> (g19 _),
    "g18_preference_pairs" -> (g18 _),
    "g17_request_dedup" -> (g17 _),
    "g16_budget_shard" -> (g16 _),
    "g15_corrupt_quarantine" -> (g15 _),
    "g14_workflow_run" -> (g14 _),
    "g13_visual_exam" -> (g13 _),
    "g12_retry_failed" -> (g12 _),
    "g11_multichoice" -> (g11 _),
    "g10_vertex_request" -> (g10 _),
    "g1_request_build" -> (g1 _),
    "g2_request_validate" -> (g2 _),
    "g3_batch_shard" -> (g3 _),
    "g4_response_parse" -> (g4 _),
    "g5_result_join" -> (g5 _),
    "g6_error_split" -> (g6 _),
    "g7_status_monitor" -> (g7 _),
    "g8_cost_estimate" -> (g8 _),
    "g9_multimodal_request" -> (g9 _))

  val oracles: Map[String, String] = Map(
    "g22_cost_reconcile" -> g22Sql,
    "g21_judge_agreement" -> g21Sql,
    "g20_schema_validate" -> g20Sql,
    "g19_model_router" -> g19Sql,
    "g18_preference_pairs" -> g18Sql,
    "g17_request_dedup" -> g17Sql,
    "g16_budget_shard" -> g16Sql,
    "g15_corrupt_quarantine" -> g15Sql,
    "g14_workflow_run" -> g14Sql,
    "g13_visual_exam" -> g13Sql,
    "g12_retry_failed" -> g12Sql,
    "g11_multichoice" -> g11Sql,
    "g10_vertex_request" -> g10Sql,
    "g1_request_build" -> g1Sql,
    "g2_request_validate" -> g2Sql,
    "g3_batch_shard" -> g3Sql,
    "g4_response_parse" -> g4Sql,
    "g5_result_join" -> g5Sql,
    "g6_error_split" -> g6Sql,
    "g7_status_monitor" -> g7Sql,
    "g8_cost_estimate" -> g8Sql,
    "g9_multimodal_request" -> g9Sql)
}
