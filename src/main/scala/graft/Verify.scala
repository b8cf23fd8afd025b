package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is logged and skipped so the rest still dump; the run then
  * names every failed query on stderr and exits 1. */
object Verify {
  /** Writes each query's result to `outDir/<name>` as one parquet file
    * and returns the names of the queries that failed. A fatal error
    * (out of memory, an interrupt) propagates: the JVM is not fit to
    * go on. */
  private[graft] def dumpResults(spark: SparkSession, queries: Seq[(String, QFn)],
      sfDir: String, outDir: String): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names filter the dump
    // (iterating on one operator shouldn't re-run all 50+)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = dumpResults(spark,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.isEmpty || only(name) },
      sfDir, outDir)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(Json.obj(SparkEntry.oracleSql.toSeq: _*)))
    // declared rows-only queries: an oracle compare reads an
    // oracle-free query as `err: no_oracle`, which pattern-matches to
    // failure; this sidecar states each omission is a design decision
    // and names the companion query that oracle-checks its accuracy
    // contract
    Files.writeString(Paths.get(s"$outDir/rows_only.json"),
      Json.render(Json.obj(SparkEntry.rowsOnly.toSeq.map { case (k, v) =>
        k -> Json.obj("rows_only" -> true, "accuracy_contract" -> v) }: _*)))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
