package graft.genai

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Response parsing — the Spark-native form of the reference's
  * `_retrieve_and_save_results` + example post-processing
  * (openai_batch_processor.py:205, run_text_classifier.py:100-120):
  * extract `choices[0].message.content` and usage from the response
  * body, recover the source row index from `custom_id`, and keep the
  * results/errors split.
  *
  * Parsing is `get_json_object` over the body string — per-row, no
  * shuffle; at 100 TB this is a map over response files.
  */
object Responses {
  def parse(responses: DataFrame): DataFrame =
    responses.select(
      col("custom_id"),
      Requests.docIdOf(col("custom_id")).as("doc_id"),
      col("status_code"),
      get_json_object(col("body_json"), "$.model").as("model"),
      get_json_object(col("body_json"), "$.choices[0].message.content").as("content"),
      get_json_object(col("body_json"), "$.usage.prompt_tokens").cast("long").as("prompt_tokens"),
      get_json_object(col("body_json"), "$.usage.completion_tokens").cast("long").as("completion_tokens"),
      col("error_message"))

  /** results/errors split, as the reference returns `(results, errors)`:
    * status 200 is a result, any other status an error, and a NULL
    * status neither. */
  def isResult: Column = col("status_code") === 200
  def results(parsed: DataFrame): DataFrame = parsed.filter(isResult)
  def errors(parsed: DataFrame): DataFrame = parsed.filter(!isResult)
}
