package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst pushes filters and
  * prunes columns at the source — callers select/filter and the scan
  * narrows accordingly (verified via explain: PushedFilters/ReadSchema).
  */
object Tables {
  /** Reads with the schema taken from one footer on the driver
    * ([[ParquetSchemaBridge.inferredSchema]]), the schema inference
    * would give, so loading a table runs no Spark job. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(ParquetSchemaBridge.inferredSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` is normalized to an epoch-nanos Long at this boundary,
    * whatever the file's physical type: early testdata generations wrote
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * [[GraftSession]] sets `nanosAsLong`, which reads it as the Long
    * directly), the round-10 refresh
    * writes timestamp[us] (read as TIMESTAMP_NTZ, converted here via the
    * session's UTC clock). All downstream event-time logic is pure
    * integer math on the nanos column, and the DuckDB oracles read the
    * same instant via `epoch_us(ts)` — engine timestamp-precision and
    * timezone differences are confined to this one conversion.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        // NTZ wall clock interpreted in the session tz → epoch micros
        // → nanos; micros * 1000 cannot overflow Long for any
        // representable timestamp. The cast is correct ONLY under UTC
        // (GraftSession pins it) — a non-UTC session would silently
        // shift every epoch value off the DuckDB oracle's epoch_us, so
        // the precondition is asserted, not assumed (ADVICE r10).
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"Tables.events NTZ conversion requires spark.sql.session.timeZone=UTC, got '$tz'")
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
