package graft

import java.nio.file.{Files, Path, Paths}

/** [[StagePath.staged]]'s contract on a tiny scratch parquet corpus,
  * and the rule that it is the only stager in `src/main`. */
class StagePathSpec extends SparkSpec {

  /** Runs `f` on a fresh one-table corpus, so every test stages under
    * its own token, then deletes the corpus and what was staged for it. */
  private def withCorpus(f: String => Unit): Unit = withTempDir("graft_stagepath_corpus") { d =>
    spark.range(3).write.parquet(s"$d/t.parquet")
    f(d)
  }

  private def marker(dir: Path): Option[String] = {
    val m = dir.resolve("_src_meta")
    if (Files.exists(m)) Some(new String(Files.readAllBytes(m), "UTF-8")) else None
  }

  /** Stages artifacts `a` (a text file) and `b` (a parquet directory),
    * counting builds. */
  private def stageAB(d: String, version: String, builds: java.util.concurrent.atomic.AtomicInteger,
      writes: Seq[String] = Seq("a", "b")): Path =
    StagePath.staged(spark, "unit", d, Seq("t.parquet"), version, Seq("a", "b")) { st =>
      builds.incrementAndGet()
      if (writes.contains("a")) st.write("a")(p => Files.write(p, version.getBytes("UTF-8")))
      if (writes.contains("b")) st.write("b")(p => spark.range(2).write.parquet(p.toString))
    }

  test("a fresh call runs no build; the directory and payload keep their names") {
    withCorpus { d =>
      val builds = new java.util.concurrent.atomic.AtomicInteger
      val dir = stageAB(d, "v1", builds)
      assert(dir == Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_unit_" + StagePath.corpusToken(d)))
      assert(builds.get == 1)
      assert(stageAB(d, "v1", builds) == dir)
      assert(builds.get == 1, "a fresh stage ran its build")
      assert(marker(dir).contains(StagePath.srcMeta(d, Paths.get(d, "t.parquet"), "v1")))
      assert(spark.read.parquet(dir.resolve("b").toString).count() == 2)
    }
  }

  test("a version change rebuilds and swaps the artifacts") {
    withCorpus { d =>
      val builds = new java.util.concurrent.atomic.AtomicInteger
      val dir = stageAB(d, "v1", builds)
      stageAB(d, "v2", builds)
      assert(builds.get == 2)
      assert(new String(Files.readAllBytes(dir.resolve("a")), "UTF-8") == "v2")
      assert(marker(dir).contains(StagePath.srcMeta(d, Paths.get(d, "t.parquet"), "v2")))
      val left = Files.list(dir)
      try assert(left.toArray.map(_.toString).forall(n => !n.contains("_swap_")))
      finally left.close()
    }
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    withCorpus { d =>
      val builds = new java.util.concurrent.atomic.AtomicInteger
      val dir = stageAB(d, "v1", builds)
      val e = intercept[RuntimeException](
        StagePath.staged(spark, "unit", d, Seq("t.parquet"), "v2", Seq("a", "b")) { _ =>
          throw new RuntimeException("build failed")
        })
      assert(e.getMessage == "build failed")
      assert(marker(dir).isEmpty, "a failed build left a marker behind")
      stageAB(d, "v1", builds)
      assert(builds.get == 2, "the call after a failed build did not rebuild")
      assert(marker(dir).nonEmpty)
    }
  }

  test("a build that skips a declared artifact fails, names it, and writes no marker") {
    withCorpus { d =>
      val builds = new java.util.concurrent.atomic.AtomicInteger
      val cold = intercept[IllegalStateException](stageAB(d, "v1", builds, writes = Seq("a")))
      assert(cold.getMessage.contains("did not write b"), cold.getMessage)
      val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_unit_" + StagePath.corpusToken(d))
      assert(marker(dir).isEmpty)
      // an artifact left by an earlier build does not stand in for one
      // this build skipped
      stageAB(d, "v1", builds)
      val warm = intercept[IllegalStateException](stageAB(d, "v2", builds, writes = Seq("b")))
      assert(warm.getMessage.contains("did not write a"), warm.getMessage)
      assert(marker(dir).isEmpty)
      // and an undeclared artifact is refused before it is written
      val undeclared = intercept[IllegalArgumentException](
        StagePath.staged(spark, "unit", d, Seq("t.parquet"), "v3", Seq("a")) { st =>
          st.write("c")(p => Files.write(p, Array[Byte]()))
        })
      assert(undeclared.getMessage.contains("undeclared artifact 'c'"))
      assert(!Files.exists(dir.resolve("c")))
    }
  }

  test("several sources join their srcMeta payloads with '|'; a suffix ends the name") {
    withCorpus { d =>
      spark.range(5).write.parquet(s"$d/u.parquet")
      val dir = StagePath.staged(spark, "unit2", d, Seq("t.parquet", "u.parquet"), "v1",
          Seq("a"), "_n4") { st =>
        st.write("a")(p => Files.write(p, Array[Byte]()))
      }
      assert(dir.getFileName.toString == s"graft_unit2_${StagePath.corpusToken(d)}_n4")
      assert(marker(dir).contains(
        StagePath.srcMeta(d, Paths.get(d, "t.parquet"), "v1") + "|" +
          StagePath.srcMeta(d, Paths.get(d, "u.parquet"), "v1")))
    }
  }

  test("the build's jobs carry the stage name; the previous description comes back") {
    withCorpus { d =>
      val sc = spark.sparkContext
      sc.setJobDescription("outer")
      try {
        val (_, jobs) = jobsOf(StagePath.staged(spark, "unit3", d, Seq("t.parquet"), "v1",
            Seq("b")) { st =>
          assert(sc.getLocalProperty("spark.job.description") == "stage unit3")
          st.write("b")(p => spark.range(2).write.parquet(p.toString))
        })
        assert(jobs.nonEmpty && jobs.forall(_ == "stage unit3"), jobs)
        assert(sc.getLocalProperty("spark.job.description") == "outer")
      } finally sc.setJobDescription(null)
    }
  }

  test("no file in src/main but StagePath.scala names the marker, swaps artifacts or deletes trees") {
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(main), s"no source tree at $main")
    def breaches(text: String): Seq[String] = Seq(
      "names \"_src_meta\"" -> text.contains("\"_src_meta\""),
      "calls atomicSwapDir" -> text.contains("atomicSwapDir"),
      "walks a tree to delete it" -> (text.contains("Files.walk") && text.contains("reverseOrder"))
    ).collect { case (what, true) => what }
    val walk = Files.walk(main)
    val files = try walk.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala")) finally walk.close()
    val (stager, others) = files.partition(_.getFileName.toString == "StagePath.scala")
    assert(stager.size == 1)
    // the patterns match the one place that is allowed to hold them
    assert(breaches(new String(Files.readAllBytes(stager.head), "UTF-8")).size == 3)
    val offenders = others.flatMap { f =>
      breaches(new String(Files.readAllBytes(f), "UTF-8")).map(w => s"${main.relativize(f)} $w")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
