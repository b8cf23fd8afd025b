package graft.genai

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}

/** Result persistence — the reference saves results as CSV / JSONL /
  * Parquet by extension (vertex_ai_batch_processor.py:298-320). Same
  * dispatch, but distributed writers.
  */
object ResultSink {
  def save(df: DataFrame, path: String): Unit = {
    val (format, target) = formatOf(path)
    writer(df, format).save(target)
  }

  /** Saves the rows of `df` where `isResult` is true to `resultsPath`
    * and those where it is false to `errorsPath`, in one job: one
    * `partitionBy` write to a temporary sibling directory, whose two
    * partitions are then renamed onto the two paths, each marked
    * `_SUCCESS` as a plain save marks it. A side with no rows gets a
    * zero-row save of its own (one more job), so it reads back as a
    * plain save of no rows does: a JSON file with no line, a CSV
    * header, a Parquet footer. A row where `isResult` is NULL is saved
    * to neither, and the temporary directory is removed whether the
    * write succeeds or throws. Both sides take the format of
    * `resultsPath`, which `errorsPath` must share. */
  def saveSplit(df: DataFrame, isResult: Column, resultsPath: String, errorsPath: String): Unit = {
    val (format, results) = formatOf(resultsPath)
    val (errorsFormat, errors) = formatOf(errorsPath)
    require(format == errorsFormat, s"$resultsPath and $errorsPath differ in format")
    require(!df.columns.contains(SideCol), s"$SideCol is reserved for the split")
    val resultsDir = new Path(results)
    val fs = resultsDir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = new Path(resultsDir.getParent, s"_split_${java.util.UUID.randomUUID}")
    try {
      writer(df.filter(isResult.isNotNull).withColumn(SideCol, isResult), format)
        .partitionBy(SideCol).save(tmp.toString)
      for ((side, dest) <- Seq(true -> resultsDir, false -> new Path(errors))) {
        val part = new Path(tmp, s"$SideCol=$side")
        if (!fs.exists(part)) {
          val none = df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row], df.schema)
          writer(none, format).save(dest.toString)
        } else {
          fs.delete(dest, true)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(part, dest)) throw new java.io.IOException(s"could not save $dest")
          if (fs.exists(new Path(tmp, "_SUCCESS"))) fs.create(new Path(dest, "_SUCCESS")).close()
        }
      }
    } finally fs.delete(tmp, true)
  }

  private val SideCol = "is_result"

  /** The writer format and target path for `path`'s extension; an
    * unknown extension saves as CSV at `path.csv`. */
  private def formatOf(path: String): (String, String) =
    if (path.endsWith(".csv")) ("csv", path)
    else if (path.endsWith(".jsonl")) ("json", path)
    else if (path.endsWith(".parquet")) ("parquet", path)
    else ("csv", path + ".csv")

  private def writer(df: DataFrame, format: String): DataFrameWriter[Row] = {
    val w = df.write.mode("overwrite").format(format)
    if (format == "csv") w.option("header", "true") else w
  }
}
