package graft

import java.nio.file.Files

/** Verify's dump keeps going past a failed query and reports it; a
  * fatal error stops it. */
class VerifySpec extends SparkSpec {

  test("a failed query is reported by name while the others still dump") {
    withTempDir("graft_verify_spec") { out =>
      val queries: Seq[(String, QFn)] = Seq(
        "ok_before" -> ((s, _) => s.range(3).toDF("id")),
        "broken" -> ((_, _) => throw new IllegalStateException("boom")),
        "ok_after" -> ((s, _) => s.range(2).toDF("id")))
      val failed = Verify.dumpResults(spark, queries, sf, out)
      assert(failed == Seq("broken"))
      assert(spark.read.parquet(s"$out/ok_before").count() == 3)
      assert(spark.read.parquet(s"$out/ok_after").count() == 2)
      assert(!Files.exists(java.nio.file.Paths.get(out, "broken")))
    }
  }

  test("a fatal error propagates out of the dump instead of counting as one failed query") {
    withTempDir("graft_verify_fatal") { out =>
      val queries: Seq[(String, QFn)] = Seq(
        "interrupted" -> ((_, _) => throw new InterruptedException("stop")),
        "never_run" -> ((s, _) => s.range(1).toDF("id")))
      intercept[InterruptedException](Verify.dumpResults(spark, queries, sf, out))
      assert(!Files.exists(java.nio.file.Paths.get(out, "never_run")))
    }
  }
}
