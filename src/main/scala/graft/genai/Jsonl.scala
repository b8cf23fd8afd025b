package graft.genai

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** JSONL request/response file source+sink — the reference's batch
  * files (openai_batch_processor.py:136) as a distributed format.
  * Spark's json source reads/writes one JSON object per line, sharded
  * across partitions — exactly the Batch API file shape, but parallel.
  */
object Jsonl {
  /** Writes a metadata-sized frame over driver rows (a
    * `createDataFrame` of local data) as JSON lines, one `to_json`
    * object per row as the json writer prints it, into one part file
    * under `path`, replacing what is there, and marks it `_SUCCESS` as
    * a Spark save does. A local relation evaluates the lines while it
    * is planned and the driver writes them, so this runs no Spark job. */
  def writeLocal(df: DataFrame, path: String): Unit = {
    val lines = df.select(to_json(struct(col("*")))).collect().map(_.getString(0))
    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    val out = fs.create(new Path(dir, "part-00000.json"))
    try lines.foreach(l => out.write((l + "\n").getBytes(StandardCharsets.UTF_8)))
    finally out.close()
    fs.create(new Path(dir, "_SUCCESS")).close()
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Schema-typed read of one or more paths as one scan. Schema
    * inference is a Spark job of its own per read; with the projection
    * given, absent fields read as typed nulls (as the writer omits
    * all-NULL fields), extra fields are ignored, and an empty output
    * directory reads as zero rows instead of failing to infer. The
    * paths are taken literally, as the writers take them: the reader
    * would glob them, so their glob metacharacters are escaped. */
  def read(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      paths: String*): DataFrame =
    spark.read.schema(schema).json(paths.map(_.replaceAll("""([\\\[\]{}*?])""", """\\$1""")): _*)

  /** Write pre-serialized lines (a single string column). */
  def writeLines(lines: DataFrame, path: String): Unit =
    lines.write.mode("overwrite").text(path)
}
