package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's `SPARK_GRAFT_CONF` passthrough: Spark confs pass, malformed
  * entries and `graft.*` keys fail fast with a readable message. */
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
}
