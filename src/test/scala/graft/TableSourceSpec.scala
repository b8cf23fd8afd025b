package graft

import graft.sources.TableSource
import org.apache.spark.sql.functions._

class TableSourceSpec extends SparkSpec {

  test("round trip preserves rows across formats") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "source", "n_chars")
    withTempDir("graft_src") { base =>
      for (fmt <- Seq("parquet", "csv", "json", "orc")) {
        TableSource.write(docs, s"$base/$fmt", fmt)
        val back = TableSource.read(spark, s"$base/$fmt", fmt)
        assert(back.count() == docs.count(), fmt)
        assert(back.agg(sum("n_chars")).head().getLong(0) ==
          docs.agg(sum("n_chars")).head().getLong(0), fmt)
      }
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    val docs = Tables.documents(spark, sf)
    withTempDir("graft_part") { base =>
      TableSource.write(docs, s"$base/by_lang", "parquet", partitionBy = Seq("lang"))
      val en = TableSource.read(spark, s"$base/by_lang").filter(col("lang") === "en")
      val plan = en.queryExecution.executedPlan.toString
      assert(en.count() == docs.filter(col("lang") === "en").count())
      // partition filter must reach the scan, not a post-filter
      assert(plan.contains("PartitionFilters") || !plan.contains("Filter isnotnull(lang"))
    }
  }

  test("Tables.events NTZ conversion refuses a non-UTC session") {
    // ADVICE r10: the cast-to-timestamp path interprets the NTZ wall
    // clock in the session timezone — correct only under UTC (which
    // GraftSession pins). A non-UTC caller must fail loudly, not
    // silently shift every epoch value off the oracle's epoch_us.
    val ntz = Tables.load(spark, sf, "events").schema("ts").dataType !=
      org.apache.spark.sql.types.LongType
    assume(ntz, "testdata generation writes ts as a physical Long; no NTZ path to guard")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] { Tables.events(spark, sf) }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
