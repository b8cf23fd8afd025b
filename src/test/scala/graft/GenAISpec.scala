package graft

import org.apache.spark.sql.functions._
import graft.genai._

/** Library-level pipeline checks: JSONL round trip, simulator/parse
  * inverse relationship, validation rules, result sinks.
  */
class GenAISpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val reqs = Requests.chatRequests(docs)

  test("request building covers every document with unique custom_id") {
    assert(reqs.count() == docs.count())
    assert(reqs.select("custom_id").distinct().count() == docs.count())
  }

  test("jsonl round trip preserves request fields") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    Jsonl.writeLines(Requests.toJsonLines(reqs.limit(50)), dir)
    val back = Jsonl.read(spark, dir)
    assert(back.count() == 50)
    val r = back.selectExpr("custom_id", "body.model",
      "body.messages[0].role", "body.max_tokens").collect()
    assert(r.forall(_.getString(2) == "system"))
    assert(r.map(_.getString(0)).distinct.length == 50)
  }

  test("response parse recovers doc_id and splits errors") {
    val parsed = Responses.parse(Simulator.respond(reqs))
    val errs = Responses.errors(parsed)
    val oks = Responses.results(parsed)
    assert(errs.count() + oks.count() == reqs.count())
    // error population = doc_id % 53 == 0 by construction
    assert(errs.filter(col("doc_id") % 53 =!= 0).count() == 0)
    assert(oks.filter(col("content").isNull).count() == 0)
  }

  test("validation flags only the planted invalid population") {
    val v = Validation.validate(reqs)
    assert(v.filter(!col("is_valid") && col("doc_id") % 97 =!= 0).count() == 0)
    assert(v.filter(col("reason") === "max_tokens_out_of_range").count() ==
      reqs.filter(col("doc_id") % 97 === 0).count())
  }

  test("vertex jsonl line and bigquery table shapes") {
    val vreqs = VertexRequests.generateContentRequests(docs.limit(10))
    val lines = VertexRequests.toJsonLines(vreqs)
    assert(lines.columns.toSeq == Seq("line"))
    val parsed = spark.read.json(spark.createDataset(
      lines.rdd.map(_.getString(0)))(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.selectExpr("request.contents[0].role").collect().forall(_.getString(0) == "user"))
    assert(parsed.selectExpr("request.generationConfig.maxOutputTokens")
      .collect().forall(_.getLong(0) == 128L))
    val table = VertexRequests.requestTable(vreqs)
    assert(table.columns.toSeq == Seq("request"))
    assert(table.count() == 10)
  }

  test("azure deployment override swaps the model field") {
    val az = VertexRequests.overrideModel(reqs.limit(5), "my-deployment")
    assert(az.select("model").collect().forall(_.getString(0) == "my-deployment"))
  }

  test("batch workflow runs end to end and saves outputs") {
    val base = java.nio.file.Files.createTempDirectory("graft_wf").toString
    // doc 0 is the planted-invalid row; exclude it so validation passes
    val r = BatchWorkflow.run(docs.filter(col("doc_id").between(1, 96)), base, shardSize = 25)
    assert(r.finalStatus == "completed_with_errors")  // doc 53 errors
    assert(r.results.count() + r.errors.count() == 96)
    assert(spark.read.json(s"$base/input").count() == 96)
    assert(spark.read.json(s"$base/results.jsonl").count() == r.results.count())
    // batch-creation manifest: one row per shard, create args recorded
    val manifest = spark.read.json(s"$base/batches")
    assert(manifest.count() == 4) // 96 docs / shardSize 25, doc_id div
    val row = manifest.orderBy(col("shard_id")).head()
    assert(row.getAs[String]("endpoint") == "/v1/chat/completions")
    assert(row.getAs[String]("completion_window") == "24h")
    assert(row.getAs[String]("metadata") == "{}")
    assert(manifest.agg(org.apache.spark.sql.functions.sum(col("n_requests"))).head().getLong(0) == 96)
  }

  test("resume processes only documents without a saved result or error") {
    val base = java.nio.file.Files.createTempDirectory("graft_resume").toString
    // first (interrupted) run covers docs 1-50
    BatchWorkflow.run(docs.filter(col("doc_id").between(1, 50)), base)
    // resume over the full 1-96 population picks up only 51-96
    val r = BatchWorkflow.resume(docs.filter(col("doc_id").between(1, 96)), base)
    assert(r.results.count() + r.errors.count() == 46)
    assert(spark.read.json(s"$base/resume/input").count() == 46)
    assert(r.results.agg(org.apache.spark.sql.functions.min(col("doc_id"))).head().getLong(0) >= 51)
    // resuming again is a no-op
    val again = BatchWorkflow.resume(docs.filter(col("doc_id").between(1, 50)), base)
    assert(again.results.count() + again.errors.count() == 0)
  }

  test("resume reads saved outputs under a prefix holding glob metacharacters") {
    // the writer takes the path literally and the reader globs it: a
    // saved output the read cannot resolve must not read as "nothing
    // saved" and reprocess every document
    val base = java.nio.file.Files.createTempDirectory("graft_resume[1").toString
    BatchWorkflow.run(docs.filter(col("doc_id").between(1, 50)), base)
    val r = BatchWorkflow.resume(docs.filter(col("doc_id").between(1, 96)), base)
    assert(r.results.count() + r.errors.count() == 46)
    assert(r.results.agg(org.apache.spark.sql.functions.min(col("doc_id"))).head().getLong(0) >= 51)
  }

  test("batch workflow halts when the sample request fails validation") {
    val base = java.nio.file.Files.createTempDirectory("graft_wf_halt").toString
    // doc 0 has max_tokens=0 → pre-flight fails → halt, like the reference
    val r = BatchWorkflow.run(docs.filter(col("doc_id") < 10), base)
    assert(r.finalStatus == "validation_failed")
    assert(r.results.isEmpty && r.errors.isEmpty)
  }

  test("run and resume evaluate their input subtree once: pinned job counts") {
    val base = java.nio.file.Files.createTempDirectory("graft_wf_jobs").toString
    // materialization + JSONL write + manifest (map, result) + two
    // saves; the pre-flight verdict and the status ride as observed
    // metrics, not jobs of their own
    // built outside the count: the parquet scan's schema read is a job
    val (head, all) = (docs.filter(col("doc_id").between(1, 60)),
      docs.filter(col("doc_id").between(1, 96)))
    val (first, runJobs) = jobsOf(BatchWorkflow.run(head, base))
    assert(first.finalStatus == "completed_with_errors") // doc 53
    assert(runJobs.size == 6, s"run: $runJobs")
    // resume's input subtree adds the saved-JSONL scan, its distinct
    // and the anti-join, all inside the one materialization
    val (resumed, resumeJobs) = jobsOf(BatchWorkflow.resume(all, base))
    assert(resumed.finalStatus == "completed")
    assert(resumed.results.count() == 36)
    assert(resumeJobs.size == 8, s"resume: $resumeJobs")
  }

  test("pre-flight sample is the orderBy(doc_id).limit(1) row, nulls first") {
    import spark.implicits._
    val long = "slow " * 1000 // user_content over 4000 chars: prompt_too_long
    val cases = Seq(
      // null id sorts first: its invalid request halts although doc 1 is valid
      Seq((None, long, "en"), (Some(1L), "fast", "en"), (Some(2L), "small", "fr")),
      // null id sorts first and is valid: doc 0 (max_tokens 0) is not the sample
      Seq((None, "fast", "en"), (Some(0L), "fast", "en"), (Some(1L), "big", "de")),
      // lowest id invalid (97 % 97 = 0), the rest valid
      Seq((Some(98L), "fast", "en"), (Some(97L), "slow", "es"), (Some(99L), "big", "en")),
      // lowest id valid, a later one invalid: not the sample
      Seq((Some(96L), "fast", "en"), (Some(97L), "slow", "es")))
    for ((rows, i) <- cases.zipWithIndex) {
      val in = rows.toDF("doc_id", "text", "lang")
      val probe = Validation.validate(Requests.chatRequests(in).orderBy(col("doc_id")).limit(1))
      val sampleInvalid = probe.filter(!col("is_valid")).count() > 0
      val base = java.nio.file.Files.createTempDirectory("graft_wf_sample").toString
      val r = BatchWorkflow.run(in, base)
      assert((r.finalStatus == "validation_failed") == sampleInvalid,
        s"case $i: ${r.finalStatus}, sample invalid = $sampleInvalid")
    }
    assert(Seq(true, false, true, false) == cases.map { rows =>
      Validation.validate(Requests.chatRequests(rows.toDF("doc_id", "text", "lang"))
        .orderBy(col("doc_id")).limit(1)).filter(!col("is_valid")).count() > 0
    }, "the cases must cover both verdicts")
  }

  test("the workflow's observations do not collide with the caller's own") {
    val base = java.nio.file.Files.createTempDirectory("graft_wf_obs").toString
    // a caller observing its input under the names a workflow would
    // pick for its own probes
    val mine = org.apache.spark.sql.Observation("sample")
    val in = docs.filter(col("doc_id").between(1, 40))
      .observe(mine, count(lit(1)).as("n"))
      .observe("preflight", count(lit(1)).as("n"))
    val r = BatchWorkflow.run(in, base)
    assert(r.finalStatus == "completed")
    assert(r.results.count() == 40)
    // the input subtree ran once, inside the workflow's materialization
    assert(mine.get("n") == 40L)
  }

  test("monitor polls to each terminal state and times out on a stuck job") {
    // virtual clock: each sleep advances time by the requested amount
    def fakeClockSleep(): (() => Long, Long => Unit, () => Long) = {
      var now = 0L
      (() => now, (ms: Long) => now += ms, () => now)
    }
    for (terminal <- Seq("completed", "failed", "cancelled", "expired")) {
      val (clock, sleep, _) = fakeClockSleep()
      val states = Iterator("validating", "in_progress", terminal)
      assert(Monitor.await(() => states.next(), 30000L, 7200000L, clock, sleep) == terminal)
    }
    val (clock, sleep, now) = fakeClockSleep()
    var polls = 0
    val got = Monitor.await(() => { polls += 1; "in_progress" },
      pollIntervalMs = 30000L, timeoutMs = 120000L, clock = clock, sleep = sleep)
    assert(got == "timeout")
    assert(now() == 120000L)   // slept exactly to the deadline
    assert(polls == 5)         // initial check + 4 poll-interval re-checks
  }

  test("monitor fires onPoll per status check with state and elapsed time") {
    var now = 0L
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val states = Iterator("validating", "in_progress", "completed")
    val got = Monitor.await(() => states.next(), 30000L, 7200000L,
      clock = () => now, sleep = ms => now += ms, onPoll = (s, e) => seen += ((s, e)))
    assert(got == "completed")
    // the reference's monitor loop prints every poll, first check included
    assert(seen.toSeq == Seq(("validating", 0L), ("in_progress", 30000L), ("completed", 60000L)))
  }

  test("batch workflow reports failed and timeout jobs without retrieving") {
    val base = java.nio.file.Files.createTempDirectory("graft_wf_mon").toString
    val good = docs.filter(col("doc_id").between(1, 20))
    val failed = BatchWorkflow.run(good, s"$base/f",
      jobStatus = Some(() => "failed"))
    assert(failed.finalStatus == "failed")
    assert(failed.results.isEmpty && failed.errors.isEmpty)

    var now = 0L
    val timedOut = BatchWorkflow.run(good, s"$base/t",
      jobStatus = Some(() => "in_progress"),
      pollIntervalMs = 1000L, timeoutMs = 3000L,
      clock = () => now, sleep = ms => now += ms)
    assert(timedOut.finalStatus == "timeout")
    assert(timedOut.results.isEmpty && timedOut.errors.isEmpty)

    val ok = BatchWorkflow.run(good, s"$base/ok",
      jobStatus = Some(() => "completed"))
    assert(ok.finalStatus == "completed")
    assert(ok.results.count() == 20)
  }

  test("visual requests carry image part, body params, and the o-series temperature rule") {
    import spark.implicits._
    val items = Seq((1L, "What shape?", "data:image/png;base64,QUJD"))
      .toDF("doc_id", "prompt_text", "data_url")
    val std = Requests.visualJsonLines(Requests.visualRequests(items)).as[String].head()
    assert(std.contains("\"max_completion_tokens\":100"), std)
    assert(std.contains("\"temperature\":0.0"), std)
    assert(std.contains("\"response_format\":{\"type\":\"json_object\"}"), std)
    assert(std.contains("\"image_url\":{\"url\":\"data:image/png;base64,QUJD\"}"), std)
    assert(std.contains("\"type\":\"text\""), std)
    // the line is well-formed JSON end to end (schema inference would
    // yield _corrupt_record on malformed output)
    val parsed = spark.read.json(Seq(std).toDS())
    assert(parsed.columns.sorted.toSeq == Seq("body", "custom_id", "method", "url"))
    assert(Seq(std).toDF("line")
      .selectExpr("get_json_object(line, '$.body.messages[1].content[1].image_url.url')")
      .as[String].head() == "data:image/png;base64,QUJD")
    // o-series models reject temperature: the body must omit it
    val oSeries = Requests.visualJsonLines(
      Requests.visualRequests(items, model = "o4-mini")).as[String].head()
    assert(!oSeries.contains("temperature"), oSeries)
    assert(oSeries.contains("\"max_completion_tokens\":100"), oSeries)
  }

  test("result sink writes csv, jsonl and parquet") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val small = Responses.parse(Simulator.respond(reqs.limit(20)))
    for (ext <- Seq("csv", "jsonl", "parquet")) {
      val p = s"$base/out.$ext"
      ResultSink.save(small, p)
      val readBack = ext match {
        case "csv" => spark.read.option("header", "true").csv(p)
        case "jsonl" => spark.read.json(p)
        case "parquet" => spark.read.parquet(p)
      }
      assert(readBack.count() == 20, s"sink $ext")
    }
  }

  test("exam requests pass messages through verbatim and force json_object") {
    import spark.implicits._
    val items = Seq(
      (1L, Seq(("system", "You are a medical expert."),
        ("user", "Question: which option number equals 2?\n1. one\n2. two"))),
      (2L, Seq(("user", "solo user turn, no system message")))
    ).toDF("doc_id", "msgs")
      .select(col("doc_id"),
        expr("transform(msgs, m -> named_struct('role', m._1, 'content', m._2))").as("messages"))
    val reqs = Requests.examRequests(items)
    // pass-through: the messages column is byte-identical to the input
    assert(reqs.select("doc_id", "messages").except(items).isEmpty &&
      items.except(reqs.select("doc_id", "messages")).isEmpty)
    val lines = Requests.examJsonLines(reqs).as[String].collect()
    assert(lines.length == 2)
    for (l <- lines) {
      assert(l.contains("\"response_format\":{\"type\":\"json_object\"}"), l)
      assert(l.contains("\"max_tokens\":50"), l)
      assert(l.contains("\"temperature\":0.0"), l)
      assert(l.contains("\"url\":\"/v1/chat/completions\""), l)
    }
    // the arbitrary caller-authored content survives serialization
    assert(lines.exists(_.contains("You are a medical expert.")))
    assert(lines.exists(_.contains("solo user turn, no system message")))
  }

  test("exam simulator answers {\"answer\": N} and scoring matches the planted truth") {
    val items = Tables.documents(spark, sf).select(
      col("doc_id"),
      array(
        struct(lit("system").as("role"), lit("sys").as("content")),
        struct(lit("user").as("role"),
          concat(lit("which option number equals "), col("doc_id") % 4 + 1,
            lit("?")).as("content"))).as("messages"))
    val parsed = Responses.parse(Simulator.respondExam(Requests.examRequests(items)))
    val ok = Responses.results(parsed)
      .withColumn("answer", get_json_object(col("content"), "$.answer").cast("long"))
    // every successful response is valid JSON with an in-range answer
    assert(ok.filter(col("answer").isNull || col("answer") < 1 || col("answer") > 4).count() == 0)
    // wrong-answer population is exactly doc_id % 11 (minus transport errors)
    val wrong = ok.filter(col("answer") =!= col("doc_id") % 4 + 1)
    assert(wrong.filter(col("doc_id") % 11 =!= 0).count() == 0)
    assert(wrong.count() > 0)
  }

  test("g13 visual exam scores exactly the planted error populations") {
    val got = SparkEntry.queries("g13_visual_exam")(spark, sf)
      .orderBy("source").collect()
    // answered = not a transport error (%53); wrong = %13 (the flipped
    // answer (t%4)+1 never equals t for t in 1..4)
    val exp = docs.filter(col("doc_id") % 53 =!= 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_answered"),
        sum(when(col("doc_id") % 13 =!= 0, 1L).otherwise(0L)).as("n_correct"))
      .orderBy("source").collect()
    assert(got.length == exp.length && got.nonEmpty)
    for ((g, e) <- got.zip(exp)) {
      assert(g.getString(0) == e.getString(0))
      assert(g.getLong(1) == e.getLong(1), s"n_answered for ${g.getString(0)}")
      assert(g.getLong(2) == e.getLong(2), s"n_correct for ${g.getString(0)}")
      assert(g.getDouble(3) == e.getLong(2).toDouble / e.getLong(1))
    }
  }

  test("vertex retrieval round-trips a GCS-style predictions directory") {
    val vreqs = VertexRequests.generateContentRequests(docs.limit(20))
    val dir = java.nio.file.Files.createTempDirectory("graft_vertex").toString
    // the reference's layout: {output_uri}/{job}/predictions.jsonl
    Jsonl.writeLines(VertexResults.simulateLines(vreqs), s"$dir/job-0/predictions.jsonl")
    val res = VertexResults.readOutputDir(spark, dir)
    assert(res.count() == 20)
    assert(res.filter(col("prediction").isin("positive", "negative")).count() == 20)
    assert(res.filter(col("prompt_tokens").isNull || col("candidates_tokens") =!= 1L).count() == 0)
    assert(res.filter(col("request_text").startsWith("Classify")).count() == 20)
  }

  test("vertex retrieval from a BigQuery-shaped table matches the JSONL path") {
    val vreqs = VertexRequests.generateContentRequests(docs.limit(15))
    val lines = VertexResults.simulateLines(vreqs)
    val table = lines.select(
      get_json_object(col("line"), "$.request").as("request"),
      get_json_object(col("line"), "$.response").as("response"))
    val viaTable = VertexResults.fromTable(table)
      .select("request_text", "prediction", "prompt_tokens", "candidates_tokens")
      .orderBy("request_text").collect().toSeq
    val viaLines = VertexResults.parse(lines)
      .select("request_text", "prediction", "prompt_tokens", "candidates_tokens")
      .orderBy("request_text").collect().toSeq
    assert(viaTable.nonEmpty && viaTable == viaLines)
  }

  test("fromTable tolerates a missing status column and absent usageMetadata") {
    import spark.implicits._
    // the reference's BQ parse (vertex_ai_batch_processor.py:283-296)
    // tolerates rows with no usageMetadata and tables with no status
    // column; the Spark read must yield nulls, not errors
    val table = Seq(
      ("""{"contents":[{"parts":[{"text":"full row"}]}]}""",
        """{"candidates":[{"content":{"parts":[{"text":"ok"}]}}],"usageMetadata":{"promptTokenCount":7,"candidatesTokenCount":1}}"""),
      ("""{"contents":[{"parts":[{"text":"no usage"}]}]}""",
        """{"candidates":[{"content":{"parts":[{"text":"fine"}]}}]}"""),
      ("""{"contents":[{"parts":[{"text":"failed row"}]}]}""",
        """{"error":"backend unavailable"}""")
    ).toDF("request", "response")
    val res = VertexResults.fromTable(table).orderBy("request_text").collect()
    assert(res.length == 3)
    assert(res.map(_.getString(4)).forall(_ == null), "missing status column reads as null status")
    val byText = res.map(r => r.getString(0) -> r).toMap
    assert(byText("full row").getLong(2) == 7L && byText("full row").getLong(3) == 1L)
    assert(byText("no usage").getString(1) == "fine")
    assert(byText("no usage").isNullAt(2) && byText("no usage").isNullAt(3),
      "absent usageMetadata yields null token counts")
    assert(byText("failed row").isNullAt(1) && byText("failed row").isNullAt(2))
  }

  test("cleanup manifest deletes registered artifacts and is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cleanup").toString
    val m = new CleanupManifest(spark)
    Jsonl.writeLines(Requests.toJsonLines(reqs.limit(5)), s"$dir/a")
    Jsonl.writeLines(Requests.toJsonLines(reqs.limit(5)), s"$dir/b")
    m.register(s"$dir/a"); m.register(s"$dir/b")
    assert(m.registered.size == 2)
    val r = m.cleanup()
    assert(r.size == 2 && r.values.forall(identity), r.toString)
    assert(!new java.io.File(s"$dir/a").exists && !new java.io.File(s"$dir/b").exists)
    assert(m.registered.isEmpty)
    // re-running cleanup on nothing (and on already-deleted paths) is a no-op
    m.register(s"$dir/a")
    assert(m.cleanup() == Map(s"$dir/a" -> true))
  }

  test("vertex workflow runs end-to-end over the JSONL input shape") {
    val base = java.nio.file.Files.createTempDirectory("graft_vwf").toString
    val r = VertexWorkflow.run(docs.limit(30), s"$base/input", s"$base/output",
      localSavePath = Some(s"$base/local.parquet"))
    assert(r.finalStatus == "completed")
    assert(r.results.get.count() == 30)
    assert(spark.read.parquet(s"$base/local.parquet").count() == 30)
    // both the input artifact and the job output dir are registered
    assert(r.cleanup.registered.toSet ==
      Set(s"$base/input", s"$base/output/job-0"))
    val outcome = r.cleanup.cleanup()
    assert(outcome.values.forall(identity), outcome.toString)
    assert(!new java.io.File(s"$base/input").exists)
    assert(!new java.io.File(s"$base/output/job-0").exists)
  }

  test("vertex workflow bq:// input writes the single-request-column table") {
    val base = java.nio.file.Files.createTempDirectory("graft_vwf_bq").toString
    val r = VertexWorkflow.run(docs.limit(10), s"bq://$base/reqtable", s"$base/output")
    assert(r.finalStatus == "completed")
    val table = spark.read.parquet(s"$base/reqtable")
    assert(table.columns.toSeq == Seq("request"))
    assert(table.count() == 10)
    assert(r.cleanup.registered.contains(s"$base/reqtable"))
  }

  test("vertex workflow halts on validation failure and failed jobs") {
    val base = java.nio.file.Files.createTempDirectory("graft_vwf_halt").toString
    val bad = VertexWorkflow.run(docs.limit(5), s"$base/i1", s"$base/o1",
      modelId = "not-a-gemini-model")
    assert(bad.finalStatus == "validation_failed:unknown_model")
    assert(bad.results.isEmpty && bad.cleanup.registered.isEmpty)
    val failed = VertexWorkflow.run(docs.limit(5), s"$base/i2", s"$base/o2",
      jobStatus = Some(() => "failed"))
    assert(failed.finalStatus == "failed" && failed.results.isEmpty)
    // the input was already uploaded when the job failed — it must be
    // in the manifest so cleanup can reclaim it (reference behavior)
    assert(failed.cleanup.registered == Seq(s"$base/i2"))
  }

  test("g14 end state: every doc exactly once, resume touches only the unprocessed tail") {
    val out = SparkEntry.queries("g14_workflow_run")(spark, sf).collect()
    val nDocs = docs.count()
    // exhaustive and disjoint: one final disposition per document
    assert(out.length == nDocs, s"expected one row per doc, got ${out.length}/$nDocs")
    assert(out.map(_.getLong(0)).distinct.length == out.length, "a doc appeared twice")
    val mx = out.map(_.getLong(0)).max
    val split = mx - mx / 5
    for (r <- out) {
      val (id, phase, disp) = (r.getLong(0), r.getString(1), r.getString(2))
      if (id % 97 == 0) {
        // invalid by construction (max_tokens 0) → preflight-rejected,
        // never entered either run — doc 0 is the probe-halt case the
        // distributed preflight absorbs
        assert(phase == "preflight" && disp == "rejected", s"doc $id: $phase/$disp")
        assert(r.getString(4) == "max_tokens_out_of_range")
      } else {
        // partial-state contract: historical ids came from the initial
        // run's saved files, only the tail from the resume run
        assert(phase == (if (id <= split) "initial" else "resume"), s"doc $id: $phase")
        assert(disp == (if (id % 53 == 0) "error" else "result"), s"doc $id: $disp")
      }
    }
  }

  test("timestamped prefix matches the reference's stamp format") {
    // 2026-08-16 00:30:40 UTC
    val fixed = 1786840240000L
    assert(BatchWorkflow.timestampedPrefix("out/batch", () => fixed) ==
      "out/batch_20260816_003040")
  }

  test("batch manifest metadata survives quotes and backslashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val raw = """has "quote" and \slash"""
    BatchWorkflow.run(docs.filter(col("doc_id").between(1, 5)), dir,
      metadata = Map("description" -> raw, "job" -> "exam"))
    val metaStr = Jsonl.read(spark, s"$dir/batches").select("metadata").head().getString(0)
    val back = spark.range(1)
      .select(get_json_object(lit(metaStr), "$.description").as("d"),
        get_json_object(lit(metaStr), "$.job").as("j")).head()
    assert(back.getString(0) == raw, s"metadata JSON mangled: $metaStr")
    assert(back.getString(1) == "exam")
  }

  test("g16 budget shards partition the corpus in doc_id order with bounded overshoot") {
    val shards = SparkEntry.queries("g16_budget_shard")(spark, sf).collect()
    assert(shards.nonEmpty)
    val budget = GenAI.ShardBudgetChars
    // every request lands in exactly one shard
    val total = shards.map(_.getAs[Long]("n_requests")).sum
    assert(total == reqs.count(), "sharding dropped or duplicated requests")
    // shards are contiguous, non-overlapping doc_id ranges in order
    val ordered = shards.sortBy(_.getAs[Long]("shard_id"))
    ordered.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_doc_id") < b.getAs[Long]("min_doc_id"),
          s"shards ${a.getAs[Long]("shard_id")}/${b.getAs[Long]("shard_id")} overlap in doc_id")
      case _ => ()
    }
    // offset-bucket packing: a shard overshoots the budget by at most
    // its largest single payload, and over_budget flags exactly the
    // overshooting shards
    val maxPayload = reqs
      .select((length(col("system_content")) + length(col("user_content")))
        .cast("long").as("p"))
      .agg(max(col("p"))).head().getLong(0)
    ordered.foreach { r =>
      val chars = r.getAs[Long]("payload_chars")
      assert(chars <= budget + maxPayload,
        s"shard ${r.getAs[Long]("shard_id")} overshoots by more than one payload: $chars")
      assert(r.getAs[Boolean]("over_budget") == (chars > budget))
    }
  }

  test("g17 collapses exactly the planted identical-body resubmissions") {
    val out = SparkEntry.queries("g17_request_dedup")(spark, sf).collect()
    val nBase = reqs.count()
    val plantIds = docs.filter(col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every request (original + planted retry) survives to the output
    assert(out.length == nBase + plantIds.size)
    // groups: the planted docs collapse at size 2, everything else is
    // singleton — i.e. no accidental byte-identical bodies in the corpus
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rows) =>
      val expected = if (plantIds(id)) 2 else 1
      assert(rows.length == expected && rows.forall(_.getAs[Long]("n_dup") == expected),
        s"doc $id: expected group size $expected")
      // exactly one canonical per group, and it is the ORIGINAL id
      // (lexicographic min — the original is a prefix of its retry)
      val canon = rows.filter(_.getAs[Boolean]("is_canonical"))
      assert(canon.length == 1)
      assert(!canon.head.getAs[String]("custom_id").endsWith("-retry"))
      // canonical rows save nothing; every duplicate saves its payload
      assert(canon.head.getAs[Long]("saved_chars") == 0L)
      rows.filterNot(_.getAs[Boolean]("is_canonical")).foreach { r =>
        assert(r.getAs[Long]("saved_chars") > 0L)
        assert(r.getAs[String]("canonical_custom_id") ==
          canon.head.getAs[String]("custom_id"))
      }
    }
    // the saved-chars ledger equals the planted docs' payload lengths
    val savedTotal = out.map(_.getAs[Long]("saved_chars")).sum
    val plantChars = reqs.filter(col("doc_id") % 7 === 3)
      .agg(sum(length(col("user_content")).cast("long"))).head().getLong(0)
    assert(savedTotal == plantChars)
  }

  test("g18 preference pairs equal the in-JVM best-of-n reference") {
    val ids = reqs.select("doc_id", "custom_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = ids.flatMap { case (id, cid) =>
      val rs = (0L until GenAI.BonSamples.toLong).map { k =>
        k -> java.lang.Long.parseLong(md5hex(s"$cid#$k").substring(0, 8), 16) % 1000
      }
      val (ck, cr) = rs.maxBy { case (k, r) => (r, -k) }
      val (rk, rr) = rs.minBy { case (k, r) => (r, k) }
      if (cr - rr >= GenAI.MinMarginMilli) Some((id, ck, cr, rk, rr, cr - rr))
      else None
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("g18_preference_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chosen_k"),
        r.getAs[Long]("chosen_reward_milli"), r.getAs[Long]("rejected_k"),
        r.getAs[Long]("rejected_reward_milli"), r.getAs[Long]("margin_milli")))
      .sortBy(_._1).toSeq
    assert(got == want)
    // both populations exist: some pairs kept, some near-ties dropped
    assert(want.nonEmpty)
    assert(want.length < ids.length,
      "no near-tie was dropped — the margin filter is untested")
    // a kept pair is always a real preference: distinct samples,
    // strictly ordered rewards
    got.foreach { case (_, ck, cr, rk, rr, m) =>
      assert(ck != rk && cr > rr && m == cr - rr)
    }
  }

  test("g19 routing ledger equals the in-JVM recomputation; both tiers populated") {
    val rows = reqs.select("user_content", "system_content", "max_tokens").collect()
      .map { r =>
        val uc = r.getString(0)
        val nLong = uc.split("\\s+").count(_.length > 7).toLong
        val nWords = uc.split("\\s+").count(_.nonEmpty).toLong
        val ptok = (r.getString(1).length + uc.length + 3L) / 4
        val ctok = r.getAs[Number]("max_tokens").longValue()
        val premium = nLong * 1000 >= nWords * GenAI.RouteTauMilli
        (if (premium) GenAI.PremiumModel else GenAI.MiniModel, ptok, ctok)
      }
    val want = rows.groupBy(_._1).map { case (m, rs) =>
      val prem = m == GenAI.PremiumModel
      (m, rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum,
        rs.map(r => if (prem) r._2 * 2500 + r._3 * 10000 else r._2 * 150 + r._3 * 600).sum,
        rs.map(r => if (prem) 0L else r._2 * 2350 + r._3 * 9400).sum)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("g19_model_router")(spark, sf).collect()
      .map(r => (r.getAs[String]("routed_model"), r.getAs[Long]("n_requests"),
        r.getAs[Long]("est_prompt_tokens"), r.getAs[Long]("est_completion_tokens"),
        r.getAs[Long]("est_cost_nano"), r.getAs[Long]("saved_vs_premium_nano")))
      .sortBy(_._1).toSeq
    assert(got == want, s"\n got: $got\nwant: $want")
    // the cascade is live: both tiers carry requests, and the mini
    // tier's counterfactual saving is positive
    assert(got.map(_._1).toSet == Set(GenAI.PremiumModel, GenAI.MiniModel))
    assert(got.find(_._1 == GenAI.MiniModel).get._6 > 0)
    assert(got.find(_._1 == GenAI.PremiumModel).get._6 == 0)
  }

  test("g20 verdict rollup equals the planting arithmetic; every rule population live") {
    // independent reference: the verdicts the INJECTION rules imply,
    // recomputed in plain Scala — the operator derives its verdicts
    // through Spark's JSON machinery from the content, so agreement
    // here proves the parse chain classifies every planted shape right
    def expected(id: Long): String =
      if (id % 53 == 0) "missing_content"
      else if (id % 17 == 2) "not_json"
      else if (id % 19 == 4) "wrong_type"
      else if (id % 23 == 6) "enum_out_of_range"
      else if (id % 29 == 8) "missing_key"
      else "valid"
    val want = docs.select("doc_id").collect().map(_.getLong(0))
      .groupBy(expected).map { case (r, ids) => r -> ids.length.toLong }
    val got = SparkEntry.queries("g20_schema_validate")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"\n got: $got\nwant: $want")
    // falsifiability: all six verdict populations are non-empty
    assert(got.keySet == Set("missing_content", "not_json", "missing_key",
      "wrong_type", "enum_out_of_range", "valid"))
    assert(got.values.forall(_ > 0))
  }

  test("g20 per-row verdicts: valid rows parse to an in-range integer, invalid rows keep raw content") {
    val items = docs.select(col("doc_id"), col("source"),
      array(struct(lit("system").as("role"), lit("s").as("content")),
        struct(lit("user").as("role"),
          concat(lit("which option number equals "), col("doc_id") % 4 + 1,
            lit("?")).as("content"))).as("messages"))
    val parsed = Responses.parse(
      Simulator.respondStructured(Requests.examRequests(items)))
    val v = Validation.validateStructured(parsed)
    import org.apache.spark.sql.functions.{expr => e}
    // every valid row yields the solved answer (doc_id % 4 + 1) in 1..4
    val badValid = v.filter(col("is_valid") &&
      (e("try_cast(get_json_object(content, '$.answer') AS BIGINT)")
        =!= (col("doc_id") % 4 + 1))).count()
    assert(badValid == 0L)
    // invalid non-transport rows still carry their raw content for the
    // audit trail (the g15 quarantine property)
    assert(v.filter(!col("is_valid") && col("reason") =!= "missing_content" &&
      col("content").isNull).count() == 0L)
    // reason is total: every row gets exactly one verdict
    assert(v.filter(col("reason").isNull && !col("is_valid")).count() == 0L)
  }

  test("g22 reconciliation cross-pins to g8's actuals and recomputes the plan side") {
    val rows = SparkEntry.queries("g22_cost_reconcile")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9), r.getDouble(10)))
    assert(rows.nonEmpty)
    // actual side ≡ g8 (same corpus, the registered billing query)
    val g8 = SparkEntry.queries("g8_cost_estimate")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // plan side recomputed in JVM from the raw corpus (the request
    // build rules, independently re-derived)
    val plan = docs.select("doc_id", "lang", "text").collect().map { r =>
      val (id, lang, text) = (r.getLong(0), r.getString(1), r.getString(2))
      val model = if (lang == "en") "gpt-4.1-nano" else "gpt-4o-mini"
      val sys = Requests.SystemPrompt
      val user = s"Classify the following sentence: '$text'"
      val estP = (sys.length + user.length + 3L) / 4L
      val estC = if (id % 97 == 0) 0L else 10L
      (model, estP, estC)
    }.groupBy(_._1)
    rows.foreach { case (model, nPlanned, nBilled, estP, actP, estC, actC,
        estCost, actCost, unreal, ratio) =>
      val p = plan(model)
      assert(nPlanned == p.length.toLong, s"$model n_planned")
      assert(estP == p.map(_._2).sum, s"$model est_prompt")
      assert(estC == p.map(_._3).sum, s"$model est_completion")
      val (gN, gP, gC, gCost) = g8(model)
      assert(nBilled == gN && actP == gP && actC == gC, s"$model actuals != g8")
      assert(estCost == estP * 2500L + estC * 10000L)
      assert(actCost == gCost, s"$model act cost != g8 cost_nano")
      assert(unreal == estCost - actCost)
      assert(ratio == actCost.toDouble / estCost)
      // the two standing findings: failures leave plan unbilled, and
      // the net reconciliation shows unrealized spend on this corpus
      assert(nBilled < nPlanned, s"$model: no transport failures billed out?")
      assert(unreal > 0 && ratio > 0 && ratio < 1, s"$model reconciliation vacuous")
    }
  }

  test("g21 kappa recomputes exactly from the two judges' registered answers") {
    val rows = SparkEntry.queries("g21_judge_agreement")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    // independent recomputation from the SIMULATORS' parsed outputs
    // (not the oracle's closed form): run both judges, parse, join
    val items = docs.select(col("doc_id"), col("source"), GenAI.examMessagesCol.as("messages"))
    val rq = Requests.examRequests(items)
    def parsedAnswers(resp: org.apache.spark.sql.DataFrame) =
      Responses.results(Responses.parse(resp))
        .select(col("doc_id"), get_json_object(col("content"), "$.answer").cast("long").as("ans"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = parsedAnswers(Simulator.respondExam(rq))
    val b = parsedAnswers(Simulator.respondExamB(rq))
    assert(a.keySet == b.keySet, "the two judges graded different doc sets")
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byLang = a.keys.groupBy(langOf)
    rows.foreach { case (lang, n, nAgree, rate, num, den, kappa) =>
      val ids = byLang(lang).toSeq
      assert(n == ids.length.toLong, s"$lang n")
      val agree = ids.count(id => a(id) == b(id)).toLong
      assert(nAgree == agree, s"$lang n_agree")
      val sumProd = (1L to 4L).map(k =>
        ids.count(a(_) == k).toLong * ids.count(b(_) == k).toLong).sum
      assert(num == n * agree - sumProd, s"$lang kappa_num")
      assert(den == n * n - sumProd, s"$lang kappa_den")
      assert(rate == agree.toDouble / n)
      assert(kappa == (n * agree - sumProd).toDouble / (n * n - sumProd), s"$lang kappa")
      // the groups must be NON-degenerate for kappa to mean anything
      // (the reason g21 groups by lang, not this corpus's residue-class
      // sources): all 4 categories present, so pe is far from 1 and
      // the judges' shared signal shows as strongly positive kappa
      assert((1L to 4L).forall(k => ids.exists(a(_) == k)),
        s"$lang missing an answer category — degenerate kappa group")
      assert(kappa > 0.5 && kappa < 1.0, s"$lang kappa $kappa not in (0.5, 1)")
      assert(kappa <= rate, s"$lang kappa $kappa above raw agreement $rate")
    }
    // disagreement really fires: some double-graded doc got different answers
    assert(rows.map(t => t._2 - t._3).sum > 0, "the two judges never disagreed — vacuous")
  }

  test("st16 ingest verdicts equal the batch per-row validation row-for-row") {
    val items = docs.select(col("doc_id"), GenAI.examMessagesCol.as("messages"))
    val batch = Validation.validateStructured(Responses.parse(
        Simulator.respondStructured(Requests.examRequests(items))))
      .select(col("doc_id"), coalesce(col("reason"), lit("valid")).as("reason"),
        col("is_valid"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val stream = SparkEntry.queries("st16_stream_validate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(stream == batch,
      s"stream/batch divergence; first diff: ${
        stream.zip(batch).find { case (a, b) => a != b }}")
  }
}
