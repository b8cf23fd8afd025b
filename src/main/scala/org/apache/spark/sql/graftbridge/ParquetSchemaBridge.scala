package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's parquet file listing rule and footer → schema
  * conversion, so a table's schema is read from one footer on the
  * driver instead of by the Spark job parquet schema inference runs. */
object ParquetSchemaBridge {
  private val Summaries = Seq("_common_metadata", "_metadata")

  /** The schema Spark's parquet inference (without schema merging)
    * gives `path`, read from the one footer it would read: the first
    * of `_common_metadata`, `_metadata` and the first data file by
    * path, among the files a scan lists. A partitioned layout
    * (subdirectories, whose partition columns only inference derives)
    * has no such file at its top level. Fails naming `path` when it
    * holds no data file. */
  def inferredSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(f => f.isFile && !HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
      .sortBy(_.getPath.toString)
    val footerFile = Summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !Summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    footerSchema(spark, footerFile)
  }

  /** `file`'s footer schema, converted as the session's inference
    * converts it. */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.asInstanceOf[classic.SparkSession].sessionState.conf))
  }
}
