package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's inputs: Spark confs pass, malformed `SPARK_GRAFT_CONF`
  * entries, `graft.*` keys and unregistered `SPARK_GRAFT_BENCH_ONLY`
  * names fail fast with a readable message. */
class BenchConfSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF refuses graft.* keys and non-k=v entries") {
    assert(Bench.parsePassConf(None).isEmpty)
    assert(Bench.parsePassConf(Some(" spark.sql.shuffle.partitions=8 , a.b=c=d ,")) ==
      Seq("spark.sql.shuffle.partitions" -> "8", "a.b" -> "c=d"))
    for ((raw, needle) <- Seq("graft.skew.salted=false" -> "graft.*",
        "spark.x=1,graft.topk.maxKeysPerPartition=5" -> "graft.*",
        "novalue" -> "is not k=v")) {
      val e = intercept[RuntimeException](Bench.parsePassConf(Some(raw)))
      assert(e.getMessage.contains(needle), s"$raw: ${e.getMessage}")
    }
  }

  test("SPARK_GRAFT_BENCH_ONLY refuses unregistered names and a list that names none") {
    val env = Map("SPARK_GRAFT_BENCH_ONLY" -> " q1_agg, g14_workflow_run ,",
      "SPARK_GRAFT_CONF" -> "spark.sql.shuffle.partitions=8")
    val in = Bench.Inputs.parse(env.get)
    assert(in.only.contains(Set("q1_agg", "g14_workflow_run")))
    assert(in.passConf == Seq("spark.sql.shuffle.partitions" -> "8"))
    assert(Bench.Inputs.parse(Map.empty[String, String].get).only.isEmpty)
    for ((raw, needle) <- Seq("q1_agg,q1_agx" -> "q1_agx", "q1agg" -> "q1agg", " , " -> "names no query")) {
      val e = intercept[RuntimeException](Bench.Inputs.parse(Map("SPARK_GRAFT_BENCH_ONLY" -> raw).get))
      assert(e.getMessage.contains(needle), s"$raw: ${e.getMessage}")
    }
  }
}
