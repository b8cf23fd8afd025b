package graft.genai

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch request construction — the Spark-native form of the
  * reference's `_create_request` (openai_batch_processor.py:79,
  * examples/openai/run_text_classifier.py:38): every input row becomes
  * one chat-completions request record with a `custom_id` derived from
  * the row key.
  *
  * Scale: a pure per-row projection (whole-stage codegen, no shuffle);
  * at 100 TB this is a map over the corpus.
  */
object Requests {
  val SystemPrompt =
    "You are a helpful assistant that classifies text as 'positive' or 'negative'."

  /** Model routing: per-row model choice (reference routes via kwargs;
    * here a deterministic per-language policy). */
  def modelFor(lang: Column): Column =
    when(lang === "en", lit("gpt-4.1-nano")).otherwise(lit("gpt-4o-mini"))

  private val CustomIdPrefix = "request-"

  /** A request's `custom_id`: `request-<doc_id>`. */
  def customId(docId: Column): Column = concat(lit(CustomIdPrefix), docId)

  /** The inverse of [[customId]]: everything after the prefix, as a
    * bigint, so a negative id (`request--5`) comes back whole. */
  def docIdOf(customId: Column): Column =
    substr(customId, lit(CustomIdPrefix.length + 1)).cast("long")

  /** documents → flat request records (one per row). Columns:
    * doc_id, custom_id, method, url, model, system_content,
    * user_content, max_tokens, temperature.
    */
  def chatRequests(documents: DataFrame): DataFrame =
    documents.select(col("doc_id") +: chatFields: _*)

  /** The fields [[chatRequests]] derives from a document row, as
    * columns over the documents: custom_id through temperature. */
  def chatFields: Seq[Column] = Seq(
    customId(col("doc_id")).as("custom_id"),
    lit("POST").as("method"),
    lit("/v1/chat/completions").as("url"),
    modelFor(col("lang")).as("model"),
    lit(SystemPrompt).as("system_content"),
    concat(lit("Classify the following sentence: '"), col("text"), lit("'")).as("user_content"),
    // max_tokens=0 on a sliver of rows: a deterministic invalid-request
    // population so the validation operator has something to reject
    // (mirrors the reference's pre-flight failure path).
    when(col("doc_id") % 97 === 0, lit(0)).otherwise(lit(10)).as("max_tokens"),
    lit(0.1).as("temperature"))

  /** Pre-formatted-messages pass-through — the multiple-choice-exam
    * recipe (examples/openai/run_multichoice_exam.py:37-59): the caller
    * supplies the complete `messages` array verbatim (array of
    * {role, content} structs); the body pins `max_tokens: 50`,
    * `temperature: 0.0` and forces JSON output via
    * `response_format: {"type": "json_object"}`.
    */
  def examRequests(items: DataFrame, model: String = "gpt-4.1-nano"): DataFrame =
    items.select(
      col("doc_id"),
      customId(col("doc_id")).as("custom_id"),
      lit("POST").as("method"),
      lit("/v1/chat/completions").as("url"),
      lit(model).as("model"),
      col("messages"),
      lit(50).as("max_tokens"),
      lit(0.0).as("temperature"),
      lit("json_object").as("response_format_type"))

  /** Serialize exam requests to Batch API JSONL — same line shape as
    * [[toJsonLines]] plus the `response_format` body field.
    */
  def examJsonLines(requests: DataFrame): DataFrame =
    requests.select(
      to_json(struct(
        col("custom_id"),
        col("method"),
        col("url"),
        struct(
          col("model"),
          col("messages"),
          col("max_tokens"),
          col("temperature"),
          struct(col("response_format_type").as("type")).as("response_format")).as("body"))).as("line"))

  /** Visual-exam request records
    * (examples/openai/run_visual_exam.py:85-130): a text part plus a
    * base64 data-URL image part, `max_completion_tokens: 100` (the
    * o-series parameter name, not max_tokens) and forced json_object
    * output. Expects columns doc_id, prompt_text, data_url.
    */
  def visualRequests(items: DataFrame, model: String = "gpt-4.1-nano"): DataFrame =
    items.select(
      col("doc_id"),
      customId(col("doc_id")).as("custom_id"),
      lit("POST").as("method"),
      lit("/v1/chat/completions").as("url"),
      lit(model).as("model"),
      col("prompt_text"),
      col("data_url"),
      lit(100).as("max_completion_tokens"),
      lit(0.0).as("temperature"),
      lit("json_object").as("response_format_type"))

  /** Serialize visual requests to Batch API JSONL. The two content
    * parts (text, image_url) and the two messages (string content vs
    * parts-array content) are heterogeneous JSON, which a single Spark
    * array can't hold — the parts share one nullable struct shape
    * (to_json omits nulls), and the messages level is assembled from
    * per-message to_json pieces (each escapes its own strings). The
    * reference drops `temperature` for o-series models
    * (run_visual_exam.py:119-122 — they reject it); mirrored here on
    * the model name.
    */
  def visualJsonLines(requests: DataFrame): DataFrame = {
    val sysMsg = to_json(struct(
      lit("system").as("role"),
      lit("You are a visual exam solver.").as("content")))
    val userMsg = to_json(struct(
      lit("user").as("role"),
      array(
        struct(lit("text").as("type"), col("prompt_text").as("text"),
          lit(null).cast("struct<url:string>").as("image_url")),
        struct(lit("image_url").as("type"), lit(null).cast("string").as("text"),
          struct(col("data_url").as("url")).as("image_url"))).as("content")))
    val head = concat(
      lit("{\"custom_id\":\""), col("custom_id"),
      lit("\",\"method\":\""), col("method"),
      lit("\",\"url\":\""), col("url"),
      lit("\",\"body\":{\"model\":\""), col("model"),
      lit("\",\"messages\":["), sysMsg, lit(","), userMsg,
      lit("],\"max_completion_tokens\":"), col("max_completion_tokens").cast("string"))
    val tail = concat(
      lit(",\"response_format\":{\"type\":\""), col("response_format_type"), lit("\"}}}"))
    requests.select(
      when(lower(col("model")).startsWith("o"), concat(head, tail))
        .otherwise(concat(head,
          lit(",\"temperature\":"), col("temperature").cast("string"), tail))
        .as("line"))
  }

  /** Serialize flat request records to the Batch API JSONL body shape
    * (custom_id/method/url/body{model,messages,...}) — the line format
    * of openai_batch_processor.py:136.
    */
  def toJsonLines(requests: DataFrame): DataFrame =
    requests.select(
      to_json(struct(
        col("custom_id"),
        col("method"),
        col("url"),
        struct(
          col("model"),
          array(
            struct(lit("system").as("role"), col("system_content").as("content")),
            struct(lit("user").as("role"), col("user_content").as("content"))
          ).as("messages"),
          col("max_tokens"),
          col("temperature")).as("body"))).as("line"))

  private val LineSchema = StructType.fromDDL("custom_id STRING, method STRING, url STRING, " +
    "body STRUCT<model: STRING, messages: ARRAY<STRUCT<role: STRING, content: STRING>>, " +
    "max_tokens: INT, temperature: DOUBLE>")

  /** The inverse of [[toJsonLines]]: the flat request records of
    * [[chatRequests]] read back from written JSONL, with an explicit
    * schema (no inference job) and `doc_id` recovered by [[docIdOf]]. */
  def fromJsonLines(spark: SparkSession, path: String): DataFrame = {
    val messages = col("body.messages")
    Jsonl.read(spark, LineSchema, path).select(
      docIdOf(col("custom_id")).as("doc_id"),
      col("custom_id"), col("method"), col("url"),
      col("body.model").as("model"),
      messages.getItem(0).getField("content").as("system_content"),
      messages.getItem(1).getField("content").as("user_content"),
      col("body.max_tokens").as("max_tokens"),
      col("body.temperature").as("temperature"))
  }
}
