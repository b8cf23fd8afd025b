package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.TopK

/** The custom heap-based operator must agree with the composable
  * window row_number() formulation on real data.
  */
class TopKPerKeySpec extends SparkSpec {

  test("TopK.perKey equals window row_number <= k") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val got = TopK.perKey(o, Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 5)
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    assert(got == expected)
  }

  test("TopK.perKey ranks NULL order keys last, matching the window formulation") {
    import spark.implicits._
    // group "a": nulls must lose to every real value, including
    // negatives and -Inf; group "b": all-null group still returns k
    // rows ranked by tie
    val df = Seq[(String, java.lang.Double, Long)](
      ("a", null, 1L), ("a", 5.0, 2L), ("a", -3.0, 3L),
      ("a", null, 4L), ("a", Double.NegativeInfinity, 5L), ("a", 7.0, 6L),
      ("b", null, 7L), ("b", null, 8L), ("b", null, 9L)
    ).toDF("k", "v", "id")
    val got = TopK.perKey(df, Seq("k"), "v", "id", 3)
      .orderBy(col("k"), col("v").desc, col("id"))
      .select("k", "id").as[(String, Long)].collect().toSeq
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy(col("k"), col("v").desc, col("id"))
      .select("k", "id").as[(String, Long)].collect().toSeq
    assert(got == expected)
    // explicit shape: a keeps 7.0, 5.0, -3.0 (nulls and -Inf beaten out
    // only when non-null values fill k — -Inf still beats null)
    assert(got.filter(_._1 == "a").map(_._2) == Seq(6L, 2L, 3L))
    assert(got.filter(_._1 == "b").map(_._2) == Seq(7L, 8L, 9L))
  }

  test("TopK.perKey ranks BIGINT order keys above 2^53 in native precision") {
    import spark.implicits._
    // 2^53 and 2^53+1 cast to the SAME double — the pre-round-5 Double
    // image would call these tied and pick by tie id; native long
    // ordering must rank 2^53+1 first
    val big = 1L << 53
    val df = Seq(
      ("a", big, 1L), ("a", big + 1L, 2L), ("a", big - 1L, 3L),
      ("a", 0L, 4L), ("b", Long.MaxValue, 5L), ("b", Long.MaxValue - 1L, 6L)
    ).toDF("k", "v", "id")
    val got = TopK.perKey(df, Seq("k"), "v", "id", 2)
      .orderBy(col("k"), col("v").desc)
      .select("k", "id").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 2L), ("a", 1L), ("b", 5L), ("b", 6L)), got.toString)
  }

  test("TopK.perKey ranks string order keys lexicographically (no numeric cast)") {
    import spark.implicits._
    val df = Seq(("g", "banana", 1L), ("g", "apple", 2L), ("g", "cherry", 3L))
      .toDF("k", "v", "id")
    val got = TopK.perKey(df, Seq("k"), "v", "id", 2)
      .orderBy(col("v").desc)
      .select("v").as[String].collect().toSeq
    assert(got == Seq("cherry", "banana"), got.toString)
  }

  test("TopK.perKey with k larger than group size returns whole groups") {
    val o = Tables.orders(spark, sf).limit(7)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val got = TopK.perKey(o, Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 1000)
    assert(got.count() == 7)
  }

  test("TopKPerKeyExec reports numOutputRows like a built-in operator") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val df = TopK.perKey(o, Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 5)
    val n = df.collect().length
    val execs = collectInPlan(df.queryExecution.executedPlan) {
      case t: graft.plans.TopKPerKeyExec => t
    }
    assert(execs.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(execs.head.metrics.contains("numOutputRows"))
    assert(execs.head.metrics("numOutputRows").value == n.toLong)
  }

  test("TopK.perKey plans one partial stage under the final one") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val plan = TopK.perKey(o, Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 5)
      .queryExecution.executedPlan
    val execs = collectInPlan(plan) { case t: graft.plans.TopKPerKeyExec => t }
    assert(execs.count(_.partial) === 1, plan.toString)
    assert(execs.count(!_.partial) === 1, plan.toString)
  }

  test("near-unique key: partial+final equals the window reference") {
    import spark.implicits._
    // every key has exactly one row: the partial stage thins nothing
    val df = (1L to 1000L).map(i => (s"k$i", i.toDouble, i)).toDF("k", "v", "id")
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
    val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
      .orderBy(col("k"), col("id")).collect().toSeq
    val top = TopK.perKey(df, Seq("k"), "v", "id", 3)
    val got = top.orderBy(col("k"), col("id")).collect().toSeq
    assert(got === expected)
    top.collect()
    val partials = collectInPlan(top.queryExecution.executedPlan) {
      case t: graft.plans.TopKPerKeyExec if t.partial => t
    }
    assert(partials.map(_.metrics("numOutputRows").value) === Seq(1000L))
  }

  test("TopK.perKey fails fast when keys-per-partition exceeds the guard") {
    // key on the unique order id: every row its own heap — exactly the
    // mis-keyed call the guard exists for
    spark.conf.set("graft.topk.maxKeysPerPartition", "10")
    try {
      val o = Tables.orders(spark, sf).limit(500)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      val ex = intercept[Exception] {
        TopK.perKey(o, Seq("o_orderkey"), "o_totalprice", "o_orderkey", 1).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("TopKPerKey")), ex.toString)
    } finally spark.conf.unset("graft.topk.maxKeysPerPartition")
  }
}
