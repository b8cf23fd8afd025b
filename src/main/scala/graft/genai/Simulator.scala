package graft.genai

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stand-in for the external model endpoint. Model
  * inference is external to the reference too (the Batch API service);
  * the engine's job is everything around it. This simulator produces
  * the response JSONL the reference's monitor/retrieve stages consume
  * (openai_batch_processor.py:205-260): per-request status, a response
  * body with choices[0].message.content, usage accounting, and a
  * deterministic error population.
  *
  * The fake "model" is a keyword-count sentiment rule over the prompt —
  * pure per-row expressions, reproducible on any cluster.
  */
object Simulator {
  /** requests (flat, from Requests.chatRequests) → raw response lines:
    * custom_id, status_code, body_json (NULL on transport error),
    * error_message.
    */
  def respond(requests: DataFrame): DataFrame = {
    val pos = regexp_count(col("user_content"), lit("fast|small|value"))
    val neg = regexp_count(col("user_content"), lit("slow|error|big"))
    val label = when(pos >= neg, lit("positive")).otherwise(lit("negative"))
    envelope(requests, label,
      expr("(length(system_content) + length(user_content) + 3) div 4"), 1L)
  }

  /** Visual-exam responder (for Requests.visualRequests): the fake
    * model "looks at the image" by decoding the data-URL payload and
    * deriving the shape from its byte length, answers
    * `{"answer": "N"}`, and answers WRONG on a deterministic sliver
    * (doc_id % 13) so accuracy scoring has signal. Transport errors
    * keep the doc_id % 53 rule of [[respond]].
    */
  def respondVisual(requests: DataFrame): DataFrame = {
    // strip the 22-char "data:image/png;base64," prefix, decode
    val truth = length(unbase64(expr("substring(data_url, 23)"))) % 4 + 1
    val answer = when(col("doc_id") % 13 === 0, (truth % 4) + 1).otherwise(truth)
    envelope(requests, answerJson(answer),
      expr("(length(prompt_text) + length(data_url) div 4 + 3) div 4"), 9L)
  }

  /** Exam responder that DISOBEYS the json_object contract on
    * deterministic slivers — what a real model does even when
    * `response_format` forces JSON mode (the mode guarantees
    * syntactic JSON at best; nothing guarantees the schema, and
    * providers without strict mode emit prose too). The reference
    * hand-parses `json.loads(content)["answer"]`
    * (run_multichoice_exam.py) and would crash or mis-score on every
    * one of these; g20 is the validation stage that quarantines them
    * first. Planting is the g15 injection discipline (deterministic
    * doc_id slivers, CASE precedence top-down so both engines agree
    * on overlaps):
    *   doc_id % 53 == 0 → transport 500 (the standing rule)
    *   doc_id % 17 == 2 → prose, not JSON
    *   doc_id % 19 == 4 → wrong type ("option-N", not an integer)
    *   doc_id % 23 == 6 → enum violation ("7", outside 1–4)
    *   doc_id % 29 == 8 → required key missing ("verdict" instead)
    *   else             → schema-conforming {"answer": "N"}
    */
  def respondStructured(requests: DataFrame): DataFrame = {
    val userContent = expr("element_at(messages, 2).content")
    val solved = regexp_extract(userContent, "equals (\\d)", 1)
    val content =
      when(col("doc_id") % 17 === 2, concat(lit("The answer is "), solved, lit(".")))
        .when(col("doc_id") % 19 === 4,
          concat(lit("{\"answer\": \"option-"), solved, lit("\"}")))
        .when(col("doc_id") % 23 === 6, lit("{\"answer\": \"7\"}"))
        .when(col("doc_id") % 29 === 8,
          concat(lit("{\"verdict\": \""), solved, lit("\"}")))
        .otherwise(answerJson(solved))
    examResponder(requests, content)
  }

  /** Exam-request responder (for Requests.examRequests): the fake
    * model "solves" the question by reading the option number out of
    * the user message, answers `{"answer": "N"}` as the forced
    * json_object response, and answers WRONG on a deterministic sliver
    * of rows (doc_id % 11) so accuracy scoring has signal. Transport
    * errors keep the doc_id % 53 rule of [[respond]].
    */
  def respondExam(requests: DataFrame): DataFrame = {
    val solved = examSolved
    examResponder(requests,
      answerJson(when(col("doc_id") % 11 === 0, (solved % 4) + 1).otherwise(solved)))
  }

  /** A SECOND exam judge for agreement measurement (g21): same exam,
    * same transport-error rule, but its OWN deterministic error sliver
    * (doc_id % 13) and its own wrong-answer shift (`((s+1)%4)+1` —
    * provably never the true answer, and provably different from
    * [[respondExam]]'s wrong answer on the doc_id % 143 overlap where
    * both judges err, so disagreement-on-error is exercised).
    */
  def respondExamB(requests: DataFrame): DataFrame = {
    val solved = examSolved
    examResponder(requests,
      answerJson(when(col("doc_id") % 13 === 0, ((solved + 1) % 4) + 1).otherwise(solved)))
  }

  private def examSolved =
    regexp_extract(expr("element_at(messages, 2).content"), "equals (\\d)", 1)
      .cast("long")

  /** `{"answer": "<answer>"}`, the json_object content the exam
    * prompts ask for. */
  private def answerJson(answer: Column): Column =
    concat(lit("{\"answer\": \""), answer, lit("\"}"))

  private def examResponder(requests: DataFrame, content: Column): DataFrame =
    envelope(requests, content,
      expr("aggregate(messages, 3L, (acc, m) -> acc + length(m.content)) div 4"), 7L)

  /** The response line every responder returns: custom_id, the
    * doc_id % 53 transport-error rule (status 500, NULL body, an error
    * message), and otherwise status 200 with a body holding the model,
    * `choices[0].message` {role assistant, `content`} and the usage
    * counts. */
  private def envelope(requests: DataFrame, content: Column, promptTokens: Column,
      completionTokens: Long): DataFrame = {
    val failed = col("doc_id") % 53 === 0
    requests.select(
      col("custom_id"),
      when(failed, lit(500)).otherwise(lit(200)).as("status_code"),
      when(failed, lit(null).cast("string")).otherwise(
        to_json(struct(
          col("model"),
          array(struct(
            struct(lit("assistant").as("role"), content.as("content")).as("message")
          )).as("choices"),
          struct(
            promptTokens.as("prompt_tokens"),
            lit(completionTokens).as("completion_tokens")).as("usage")))).as("body_json"),
      when(failed, lit("Internal server error")).otherwise(lit(null).cast("string")).as("error_message"))
  }
}
