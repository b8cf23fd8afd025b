package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Dev probe (not part of the query API): times the
  * candidate pass shapes behind s14's plan — split+explode vs
  * explode_outer vs regex alternation vs columnar HOF vs columnar
  * regexp_count — best-of-3 on the raw RDD so the numbers in
  * [[Bm25]]'s scaladoc stay re-measurable.
  * Usage: runMain graft.sim.Bm25AB [sfDir]
  */
object Bm25AB {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = Tables.documents(spark, d).filter(col("doc_id").isNotNull)
    def time(name: String)(df: => DataFrame): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); df.queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9
      }
      println(f"AB $name%-28s best=${ts.min}%.3f all=${ts.map(x => f"$x%.2f").mkString(",")}")
    }
    val terms = Bm25.QueryTerms
    val tsE = "filter(split(lower(text), '\\\\s+'), w -> w != '')"
    // pass-A variants: hit stream -> (doc,tok) agg
    time("A1 split+explode+isin") {
      docs.select(col("doc_id"), expr(tsE).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("len"), explode(col("ts")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"), min(col("len")).as("len"))
    }
    time("A2 split+explode_outer") {
      docs.select(col("doc_id"), expr(tsE).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("len"), explode_outer(col("ts")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"), min(col("len")).as("len"))
    }
    val alt = terms.mkString("|")
    time("A3 regex-alternation") {
      docs.select(col("doc_id"), expr("regexp_count(text, '\\\\S+')").cast("long").as("len"),
          explode_outer(expr(s"regexp_extract_all(concat(' ', lower(text), ' '), '\\\\s($alt)(?=\\\\s)', 1)")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"), min(col("len")).as("len"))
    }
    time("A4 columnar HOF counts") {
      docs.select(col("doc_id") +: size(expr(tsE)).cast("long").as("len") +:
        terms.map(t => size(expr(s"filter($tsE, h -> h = '$t')")).cast("long").as(s"tf_$t")): _*)
    }
    time("A5 columnar regexp_count") {
      docs.select(col("doc_id") +: expr("regexp_count(text, '\\\\S+')").cast("long").as("len") +:
        terms.map(t => expr(s"regexp_count(concat(' ', lower(text), ' '), '\\\\s$t(?=\\\\s)')").cast("long").as(s"tf_$t")): _*)
    }
    // pass-B variants: corpus stats
    time("B1 size(filter(split))") {
      docs.select(size(expr(tsE)).cast("long").as("len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("s_tok"))
    }
    time("B2 regexp_count \\S+") {
      docs.select(expr("regexp_count(text, '\\\\S+')").cast("long").as("len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("s_tok"))
    }
    time("B3 size(split(trim))") {
      docs.select(expr("size(split(trim(text), '\\\\s+'))").cast("long").as("len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("s_tok"))
    }
    spark.stop()
  }
}
