package graft.genai

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-flight request validation — distributed form of the reference's
  * `validate_request` (openai_batch_processor.py:92): instead of one
  * synchronous probe call, every request is structurally checked, and
  * the pipeline can halt on any invalid row (as the reference halts on
  * a failed probe).
  *
  * Scale: per-row predicates, codegen'd, no shuffle.
  */
object Validation {
  private val allowedModels = Seq("gpt-4.1-nano", "gpt-4o-mini", "gpt-4o")

  /** Structured-output contract check over PARSED responses (the
    * response-side mirror of [[validate]] — VERDICT r15 #5): a
    * json_object `response_format` promises syntax at most, so every
    * downstream consumer needs the semantic contract checked — JSON
    * parses, the required key exists, its value has the declared
    * type, and the value is in the enum range. Adds `reason` (first
    * failing rule top-down, else NULL) + `is_valid`.
    *
    * Rules ride Spark's own JSON machinery so the verdicts are the
    * engine's real parse behavior, not a regex: `get_json_object`
    * returns NULL on non-JSON input and on a missing path, `try_cast`
    * returns NULL on a non-integer string (plain `cast` would THROW
    * under ANSI mode, which is exactly the crash this stage exists to
    * prevent). Per-row predicates, codegen'd, no shuffle. */
  def validateStructured(parsed: DataFrame, key: String = "answer",
      lo: Long = 1L, hi: Long = 4L): DataFrame =
    parsed
      .withColumn("_val", expr(s"try_cast(get_json_object(content, '$$.$key') AS BIGINT)"))
      .withColumn("reason",
        when(col("status_code") =!= 200 || col("content").isNull, lit("missing_content"))
          .when(expr("get_json_object(content, '$')").isNull, lit("not_json"))
          .when(expr(s"get_json_object(content, '$$.$key')").isNull, lit("missing_key"))
          .when(col("_val").isNull, lit("wrong_type"))
          .when(!col("_val").between(lo, hi), lit("enum_out_of_range"))
          .otherwise(lit(null).cast("string")))
      .withColumn("is_valid", col("reason").isNull)
      .drop("_val")

  /** The rows of `documents`, with their own columns, whose chat
    * request ([[Requests.chatRequests]]) passes [[validate]]: a per-row
    * filter. */
  def validDocuments(documents: DataFrame): DataFrame =
    validate(documents.select(col("*") +: Requests.chatFields: _*))
      .filter(col("is_valid")).select(documents.columns.map(col): _*)

  /** Adds is_valid + reason (first failing rule, else NULL). */
  def validate(requests: DataFrame): DataFrame =
    requests
      .withColumn("reason",
        when(col("max_tokens") <= 0, lit("max_tokens_out_of_range"))
          .when(!col("model").isin(allowedModels.map(lit(_)): _*), lit("unknown_model"))
          .when(length(col("user_content")) === 0, lit("empty_prompt"))
          .when(length(col("user_content")) > 4000, lit("prompt_too_long"))
          .otherwise(lit(null).cast("string")))
      .withColumn("is_valid", col("reason").isNull)
}
