package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Salted

/** Property-style checks over ScalaCheck-generated inputs (driven
  * manually with fixed seeds — deterministic, no scalatestplus
  * bridge): the vector expression agrees with a reference fold; salted
  * aggregation and the TopK operator are exactly equivalent to their
  * naive formulations on arbitrary data.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val floatGen = Gen.chooseNum(-100f, 100f)
  private val vecGen = Gen.listOfN(16, floatGen).map(_.toSeq)

  test("FloatDot equals the sequential reference fold on random vectors") {
    for (pairs <- samples(Gen.listOfN(8, Gen.zip(vecGen, vecGen)), 5)) {
      val df = pairs.toDF("a", "b")
      val got = df.select(VectorFunctions.dot("a", "b")).as[Double].collect()
      val expected = pairs.map { case (a, b) =>
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      }
      assert(got.toSeq == expected)
    }
  }

  test("ExactPercentile equals the buffering built-in on random grouped data") {
    import graft.operators.ExactPercentile
    // values with deliberate ties and negatives; ragged group sizes
    val rowGen = Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(-50, 50).map(_ / 4.0))
    for (rows <- samples(Gen.listOfN(80, rowGen), 5); p <- Seq(0.0, 0.37, 0.5, 0.91, 1.0)) {
      val df = rows.toDF("g", "v")
      val exp = df.groupBy(col("g")).agg(expr(s"percentile(v, $p)").as("value"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = ExactPercentile.percentiles(df, "g", "v", Seq(p), nBuckets = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got == exp, s"p=$p: $got != $exp")
    }
  }

  test("salted sum equals plain sum for arbitrary key/value data") {
    val rowGen = Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(-1000, 1000))
    for (rows <- samples(Gen.listOfN(60, rowGen), 5)) {
      val df = rows.toDF("k", "v")
        .select(col("k"), col("v").cast("long").as("v"),
          monotonically_increasing_id().as("rid"))
      val salted = Salted.sumByKey(df, "k", col("v"), "total", saltBy = col("rid"), salt = 4)
        .orderBy("k").as[(Long, Long)].collect().toSeq
      val plain = df.groupBy("k").agg(sum("v").as("total"))
        .orderBy("k").as[(Long, Long)].collect().toSeq
      assert(salted == plain)
    }
  }

  test("TopK.perKey returns exactly the k best rows per key") {
    val rowGen = Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0.0, 1000.0))
    for (rows <- samples(Gen.listOfN(50, rowGen), 5)) {
      val indexed = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      val df = indexed.toDF("k", "v", "id")
      val got = graft.plans.TopK.perKey(df, Seq("k"), "v", "id", 3)
        .as[(String, Double, Long)].collect().toSeq
      val expected = indexed.groupBy(_._1).values.flatMap(
        _.sortBy(r => (-r._2, r._3)).take(3)).toSet
      assert(got.toSet == expected)
      assert(got.groupBy(_._1).values.forall(_.size <= 3))
    }
  }

  test("SortedBucket binary search equals the interpreted filter count") {
    import graft.functions.SortedBucket
    val doubleGen = Gen.chooseNum(-1000.0, 1000.0)
    for (seedIdx <- 0 until 5) {
      val bounds = samples(Gen.listOfN(40, doubleGen), 1).head
        .map(b => math.rint(b * 4) / 4)   // force some exact boundary hits
        .distinct.sorted
      val vals = samples(Gen.listOfN(200, doubleGen), 1)
        .head.map(v => math.rint(v * 4) / 4) ++ bounds   // include the boundaries themselves
      val df = vals.map(Tuple1(_)).toDF("v")
      val bArr = array(bounds.map(lit(_)): _*)
      val rows = df.select(
        SortedBucket.of(col("v"), bounds).as("fast"),
        (size(filter(bArr, b => b <= col("v"))) + 1).as("ref")).collect()
      rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"seed $seedIdx: $r"))
    }
  }

  test("CDC chunking survives a prefix insertion that kills fixed-offset chunking") {
    // doc 2 = doc 1 with 9 inserted bytes at the front. Fixed 64-byte
    // chunks (m4) all shift -> zero shared fingerprints; CDC
    // boundaries (m5) re-synchronize at the first rolling-hash cut
    // after the edit -> the tail chunks are shared. THIS is why
    // content-defined chunking exists.
    val base = (1 to 60).map(i => s"w${i * 7}").mkString(" ") // ~400 chars
    val corpus = Seq((1L, base), (2L, "INSERTED " + base))
    val dir = java.nio.file.Files.createTempDirectory("m5cdc").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cdcShared = SparkEntry.queries("m5_cdc_chunks")(spark, dir).count()
    val fixedShared = SparkEntry.queries("m4_chunk_dedup")(spark, dir).count()
    assert(cdcShared >= 2, s"CDC found only $cdcShared shared chunks after the insertion")
    assert(fixedShared == 0, s"fixed-offset chunking unexpectedly survived: $fixedShared")
  }

  test("perceptual hash survives a byte edit that changes the md5 fingerprint") {
    // doc 2 = doc 1 with two adjacent characters SWAPPED inside one
    // 8×8-grid span: every span's code-point sum — and so every aHash
    // bit — is provably unchanged, while the byte-exact fingerprint
    // family (t4/d1/m4 md5s) sees a different document. THIS is why a
    // perceptual hash exists next to the exact one.
    val base = (1 to 40).map(i => s"x${i % 9}${(i * 3) % 7}").mkString(" ") // ~160 chars
    assert(base(0) != base(1))
    val swapped = "" + base(1) + base(0) + base.substring(2)
    val corpus = Seq((1L, base), (2L, swapped), (3L, "a completely different payload " * 5))
    val dir = java.nio.file.Files.createTempDirectory("m6ph").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("m6_perceptual_hash")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(out(1L)._1 == out(2L)._1, s"aHash diverged under a span-local swap: $out")
    assert(out(1L)._2 == 2L, s"exact-phash group should pair docs 1+2: $out")
    assert(out(3L)._1 != out(1L)._1, s"unrelated doc collided: $out")
    // and the byte-exact view really does see two different documents
    val fps = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text").cast("binary"))).distinct().count()
    assert(fps == 3L, s"expected 3 distinct md5s, got $fps")
  }

  test("PrefixOffsets equals the flat cumulative window for arbitrary grouped data") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // sparse buckets, multiple parts groups, values incl. zero, and a
    // superbucket width that splits the domain unevenly
    val rnd = new scala.util.Random(7)
    val data = for {
      g <- Seq("x", "y", "z")
      pb <- 0L to 40L if rnd.nextInt(3) > 0
    } yield (g, pb, rnd.nextInt(100).toLong)
    val df = data.toDF("g", "pbucket", "v")
    val expected = df
      .withColumn("boffset", coalesce(sum(col("v")).over(
        Window.partitionBy(col("g")).orderBy(col("pbucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("g"), col("pbucket"), col("boffset"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (b2 <- Seq(1L, 4L, 7L, 1000L)) {
      val got = operators.PrefixOffsets.bucketOffsets(df, Seq("g"), "v", b2)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected, s"b2=$b2 diverged from the flat window")
    }
    // and the no-parts form
    val flat = df.filter(col("g") === "x").drop("g")
    val expFlat = flat.withColumn("boffset", coalesce(sum(col("v")).over(
        Window.orderBy(col("pbucket")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("pbucket"), col("boffset"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotFlat = operators.PrefixOffsets.bucketOffsets(flat, Nil, "v", 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFlat == expFlat)
  }

  test("t22 packs t20's learned counts; the staged merge table is version-gated") {
    import org.apache.spark.sql.functions._
    val t20n = SparkEntry.queries("t20_bpe_learned")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tokens_learned")).toMap
    val out = SparkEntry.queries("t22_learned_pack")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toList
    // the packed counts ARE the learned tokenizer's, doc for doc
    assert(out.size == t20n.size)
    out.foreach { case (id, n, _, _) => assert(n == t20n(id)) }
    // offsets are the exact running sums
    out.sliding(2).foreach {
      case List((_, n1, o1, _), (_, _, o2, _)) => assert(o2 == o1 + n1)
      case _ =>
    }
    // one training run serves both queries: the staged table is
    // version-gated (s11's rule) and a stale marker forces a retrain
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_bpe_" + StagePath.corpusToken(sf))
    val marker = dir.resolve("_src_meta")
    val current = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(current.contains(":" + text.TextAnalysis.BpeVersion + ":"), current)
    java.nio.file.Files.write(marker, current
      .replace(":" + text.TextAnalysis.BpeVersion + ":", ":stale0:").getBytes("UTF-8"))
    val before = java.nio.file.Files
      .getLastModifiedTime(dir.resolve("merges.tsv")).toMillis
    val again = text.TextAnalysis.mergesFor(spark, sf)
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == current)
    val after = java.nio.file.Files
      .getLastModifiedTime(dir.resolve("merges.tsv")).toMillis
    assert(after > before, "stale marker must retrain the merge table")
    assert(again.size == text.TextAnalysis.BpeMerges)
  }

  test("m8 interleaved packing conserves byte and token mass") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("m8_interleaved_pack")(spark, sf)
    val out = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1).toList
    // token mass conserved through packing: offsets are EXACTLY the
    // running sums — no token lost, none double-counted
    out.sliding(2).foreach {
      case List((_, _, _, n1, o1, _), (_, _, _, _, o2, _)) =>
        assert(o2 == o1 + n1, "offset gap/overlap between adjacent docs")
      case _ =>
    }
    assert(out.head._5 == 0L)
    assert(out.last._5 + out.last._4 == out.map(_._4).sum)
    // per-doc: combined cost is the sum of its modality costs
    out.foreach { case (_, t, i, n, _, _) => assert(n == t + i) }
    // vision-token mass == byte mass priced at the patch rate
    val bytes = Tables.documents(spark, sf)
      .filter(col("doc_id").isNotNull && col("doc_id") % 3 === 0)
      .agg(sum(expr("(octet_length(cast(text AS binary)) + 255) div 256")))
      .head.getLong(0)
    assert(out.map(_._3).sum == bytes, "vision-token mass diverged from byte mass")
    // sequences genuinely interleave modalities
    val bySeq = out.groupBy(_._6)
    assert(bySeq.exists { case (_, ds) => ds.exists(_._3 > 0) && ds.exists(_._3 == 0) },
      "no sequence mixes image-bearing and text-only docs")
    // inherits t10's window discipline: nothing unpartitioned
    val bad = collectInPlan(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty)
  }

  test("t21 integer milli-bit log matches IEEE -log2 within quantization error") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // exhaustive-ish probe: prime-ish nums/dens, powers of two (exact
    // cases), and near-1 ratios where the integer part is 0
    val rnd = new scala.util.Random(21)
    val randomCases = Seq.fill(200) {
      val den = 1L + rnd.nextInt(1 << 24)
      val num = 1L + (rnd.nextLong().abs % den)
      (num, den)
    }
    val cases = Seq((1L, 2L), (1L, 1024L), (1L, 3L), (3L, 7L), (999L, 1000L),
      (1L, 1000000L), (17L, 53L), (1023L, 1024L), (1L, 1L), (500L, 501L),
      (123L, 456789L), (7L, 7L)) ++ randomCases
    val got = cases.toDF("num", "den")
      .select(expr(text.TextAnalysis.surpMilliSpark).as("s")).as[Long].collect()
    cases.zip(got).foreach { case ((num, den), s) =>
      val exact = -math.log(num.toDouble / den) / math.log(2.0) * 1000
      assert(math.abs(s - exact) <= 2,
        s"-log2($num/$den): got $s milli-bits, exact $exact")
    }
    // the query's codegen'd CHAINED-PROJECTION form computes the same
    // integers as the reference fold (surpMilliSpark)
    val chain = {
      val m2c = 1L << text.TextAnalysis.PplShift
      val topc = 2L << text.TextAnalysis.PplShift
      var df = cases.toDF("num", "den")
        .withColumn("e", expr("length(bin(den div num)) - 1"))
        .withColumn("m",
          expr(s"(den * $m2c) div (num * shiftleft(CAST(1 AS BIGINT), e))"))
        .withColumn("f", lit(0L))
      for (_ <- 1 to text.TextAnalysis.PplSteps)
        df = df.withColumn("msq", expr(s"(m * m) div $m2c"))
          .withColumn("f", expr(s"f * 2 + CASE WHEN msq >= $topc THEN 1 ELSE 0 END"))
          .withColumn("m", expr(s"CASE WHEN msq >= $topc THEN msq div 2 ELSE msq END"))
          .drop("msq")
      df.select(expr("e * 1000 + (f * 1000) div 1024").as("s")).as[Long].collect()
    }
    assert(chain.toSeq == got.toSeq, "chained projections diverged from the fold")
    // both verdicts populated for every language at this scale, and the
    // gate is the integer compare it claims to be
    val out = SparkEntry.queries("t21_perplexity_filter")(spark, sf).collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    assert(byLang.size == 5)
    byLang.foreach { case (lang, rows) =>
      val kept = rows.count(_.getAs[Boolean]("keep"))
      assert(kept > 0 && kept < rows.size,
        s"$lang: gate must split the corpus (kept $kept of ${rows.size})")
    }
    val thrMap = text.TextAnalysis.PplThresholds.toMap
    out.foreach { r =>
      val keep = r.getAs[Boolean]("keep")
      val ppl = r.getAs[Long]("ppl_milli")
      assert(keep == (ppl <= thrMap(r.getAs[String]("lang"))))
    }
  }

  test("t21 gate default-keeps docs whose lang is missing from the calibration table") {
    // r12 advice: an inner join against the 5-row threshold dim made a
    // doc with an uncalibrated (or NULL) lang vanish identically in
    // both engines — unfalsifiable by parity. The contract is now a
    // LEFT join with default keep: no calibration = no evidence = keep.
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "en"),
      (1L, "the quick brown fox jumps over the lazy dog again and again", "xx"),
      (2L, "una frase corta para el corpus de referencia y sus pares", null.asInstanceOf[String]),
      (3L, "short", "en"))
    val dir = java.nio.file.Files.createTempDirectory("t21lang").toString
    corpus.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t21_perplexity_filter")(spark, dir).collect()
    assert(out.length == corpus.length,
      s"every doc must surface regardless of lang coverage, got ${out.length}")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep"), "uncalibrated lang must default to keep")
    assert(byId(2L).getAs[Boolean]("keep"), "NULL lang must default to keep")
    assert(byId(3L).getAs[Boolean]("keep"), "sub-2-word doc keeps by the no-evidence contract")
    // calibrated docs still take the real verdict path (ppl populated)
    assert(!byId(0L).isNullAt(byId(0L).fieldIndex("ppl_milli")))
  }

  test("t23 terciles are exact per-lang order statistics with the no-evidence bucket") {
    val out = SparkEntry.queries("t23_ccnet_bucket")(spark, sf).collect()
    val t21 = SparkEntry.queries("t21_perplexity_filter")(spark, sf).collect()
    // 'unscored' is exactly t21's no-evidence population (one LM, one
    // scoring chain — pplPerDoc is shared, so the sets must coincide)
    val noEvidence = t21.filter(_.getAs[Long]("n_pairs") == 0L).map(_.getLong(0)).toSet
    assert(out.filter(_.getAs[String]("bucket") == "unscored")
      .map(_.getLong(0)).toSet == noEvidence)
    out.filter(r => !r.isNullAt(r.fieldIndex("ppl_milli")))
      .groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
        val n = rows.length
        val byB = rows.groupBy(_.getAs[String]("bucket"))
          .view.mapValues(_.map(_.getAs[Long]("ppl_milli"))).toMap
        val head = byB.getOrElse("head", Array.empty[Long])
        val mid = byB.getOrElse("middle", Array.empty[Long])
        val tail = byB.getOrElse("tail", Array.empty[Long])
        // buckets are contiguous perplexity ranges in order
        if (head.nonEmpty && mid.nonEmpty) assert(head.max <= mid.min, lang)
        if (mid.nonEmpty && tail.nonEmpty) assert(mid.max <= tail.min, lang)
        // exact order statistics: head reaches ⌈n/3⌉, head+middle
        // ⌈2n/3⌉ (ties can only push a bucket PAST its boundary)
        assert(head.length >= (n + 2) / 3, s"$lang head ${head.length} of $n")
        assert(head.length + mid.length >= (2 * n + 2) / 3, lang)
        // tie-minimality: without its boundary VALUE the head would
        // fall short — thr1 really is the ⌈n/3⌉-th order statistic
        assert(head.count(_ < head.max) < (n + 2) / 3, s"$lang head not minimal")
      }
  }

  test("native CdcChunks equals the declarative HOF chunking on random unicode") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // r13: m5's boundary detection moved from the O(n²)-on-non-ASCII
    // HOF form into the codegen'd CdcChunks expression; the HOF form
    // stays as the executable reference. Fuzz across the unicode
    // corners where they could diverge: multi-byte BMP chars (substring
    // walk), astral chars (codePointAt vs charAt), empty/short strings
    // (below the window), and boundary-at-end.
    val charGen: Gen[String] = Gen.frequency(
      (20, Gen.alphaNumChar.map(_.toString)),
      (4, Gen.const(" ")),
      (2, Gen.oneOf("é", "€", "中", "ß")),
      (1, Gen.const(new String(Character.toChars(0x1F600))))) // astral
    def samples(seed: Long): Seq[String] =
      Seq.tabulate(60) { i =>
        Gen.listOfN(i * 7 % 200, charGen).apply(Gen.Parameters.default, Seed(seed * 100 + i))
          .map(_.mkString).getOrElse("")
      } ++ Seq("", "a", "abcdefg", "abcdefgh")
    import spark.implicits._
    for (seed <- 0 until 3) {
      val df = samples(seed).toDF("text")
      val (codesC, bC) = multimodal.Multimodal.cdcBoundsHof
      val ref = df.withColumn("codes", codesC).withColumn("b", bC)
        .select(col("text"), multimodal.Multimodal.cdcChunksHof.as("chunks"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val got = df.select(col("text"),
          multimodal.Multimodal.cdcChunksCol(col("text")).as("chunks"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      assert(got == ref, s"seed=$seed: native chunking diverged from the HOF reference")
      // chunks must reassemble to the exact input (no byte lost at a
      // boundary) for every non-empty string
      got.foreach { case (t, cs) => assert(cs.mkString == t, s"reassembly failed for '$t'") }
    }
  }

  test("native AHash equals the explode + aggregate phash pipeline, unicode included") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // r13: m6's signature moved into the codegen'd AHash expression;
    // the explode pipeline stays as the executable reference. Fuzz
    // where they could diverge: span-boundary arithmetic (lengths 64,
    // 65, 127, 128, non-multiples of 64), multi-byte code points, and
    // the sub-64 exclusion contract. Plus the whole sf0.001 corpus.
    val charGen: Gen[String] = Gen.frequency(
      (20, Gen.alphaNumChar.map(_.toString)),
      (3, Gen.const(" ")),
      (2, Gen.oneOf("é", "€", "中")),
      (1, Gen.const(new String(Character.toChars(0x1F600)))))
    def str(len: Int, seed: Long): String =
      Gen.listOfN(len, charGen).apply(Gen.Parameters.default, Seed(seed))
        .map(_.mkString).getOrElse("")
    val lens = Seq(63, 64, 65, 100, 127, 128, 129, 200, 500)
    val docs = lens.zipWithIndex.flatMap { case (l, i) =>
      (0 until 3).map(s => ((i * 10 + s).toLong, str(l, i * 31 + s)))
    }
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val ref = multimodal.Multimodal.aHashExplode(df)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = df.filter(length(col("text")) >= 64)
      .select(col("doc_id"), multimodal.Multimodal.aHashCol(col("text")).as("phash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == ref, "native aHash diverged from the explode pipeline")
    assert(ref.nonEmpty, "fuzz corpus produced no >= 64-code-point docs")
    // and on the real corpus
    val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val refC = multimodal.Multimodal.aHashExplode(corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotC = corpus.filter(col("doc_id").isNotNull && length(col("text")) >= 64)
      .select(col("doc_id"), multimodal.Multimodal.aHashCol(col("text")).as("phash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotC == refC && gotC.nonEmpty)
  }

  test("BPE training sample is hard-capped when the modulus alone would exceed the cap") {
    // r12 verdict #2: the modulus sample grows linearly with the
    // corpus; the absolute cap (s8's KmeansTrainCap rule) must bound
    // it. 12005 docs -> 2401 pass the %5 modulus > BpeTrainCap.
    import text.TextAnalysis.{BpeSampleMod, BpeTrainCap}
    val dir = java.nio.file.Files.createTempDirectory("bpecap").toString
    spark.range(0, 12005).toDF("doc_id")
      .withColumn("text", concat(lit("aa bb ab"), lit(" w"), col("doc_id") % 17))
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sample = text.TextAnalysis.bpeSampleDocs(spark, dir)
    val ids = sample.select("doc_id").as[Long].collect()
    assert(ids.length == BpeTrainCap, s"cap did not bind: ${ids.length}")
    assert(ids.forall(_ % BpeSampleMod == 0), "cap must apply AFTER the modulus")
    // the kept set is exactly the md5-smallest slice of the modulus
    // rows — deterministic hash order, no id-prefix bias, and stable
    // across physical plans (re-run with a different partitioning)
    val md5Rank = spark.range(0, 12005).filter(col("id") % BpeSampleMod === 0)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
      .orderBy(col("h"), col("id")).limit(BpeTrainCap)
      .select("id").as[Long].collect().toSet
    assert(ids.toSet == md5Rank, "sample is not the md5-smallest slice")
    val again = text.TextAnalysis.bpeSampleDocs(spark, dir)
      .repartition(7).select("doc_id").as[Long].collect().toSet
    assert(again == ids.toSet, "capped sample changed across runs")
    // and the trainer still converges on the capped sample: the
    // planted pair dominates, so round 1 must merge ('a','a')-family
    // pairs rather than fail on a degenerate sample
    val merges = text.TextAnalysis.bpeTrain(spark, dir)
    assert(merges.length == text.TextAnalysis.BpeMerges)
  }

  test("t20 learned BPE: double-replace equals the sequential greedy fold on real corpus words") {
    import org.apache.spark.sql.functions._
    // the reference: textbook greedy left-to-right merge application,
    // one rule at a time over the symbol list
    def greedyApply(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms: Seq[String] = word.map(_.toString) :+ "</w>"
      for ((a, b) <- merges) {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        for (s0 <- syms) {
          if (out.nonEmpty && out.last == a && s0 == b) out(out.size - 1) = a + b
          else out += s0
        }
        syms = out.toSeq
      }
      syms
    }
    val merges = text.TextAnalysis.bpeTrain(spark, sf)
    assert(merges.size == text.TextAnalysis.BpeMerges)
    // training is deterministic: integer counts, lexicographic tie-break
    assert(text.TextAnalysis.bpeTrain(spark, sf) == merges, "merge table not deterministic")
    // adjacent-chain edge cases + real corpus words
    val corpus = Tables.documents(spark, sf).select(col("text")).limit(40)
      .collect().flatMap(_.getString(0).split("\\s+")).filter(_.nonEmpty).distinct
    val words = corpus ++ Seq("aaaa", "abababab", "a", "merge", "batchbatch")
    val expected = words.map(w => greedyApply(w, merges).size.toLong).sum
    // the engine's formulation: whole-doc spaced string + double replace
    import spark.implicits._
    val df = words.toSeq.toDF("text")
    val spacedDoc = expr(
      """concat(' ', array_join(transform(filter(split(text, '\\s+'), t -> t != ''),
        |  w -> concat(concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1))), ' </w>')), ' '), ' ')""".stripMargin)
    val applied = merges.foldLeft(spacedDoc: org.apache.spark.sql.Column) {
      case (c, (a, b)) =>
        val (pat, rep) = (lit(s" $a $b "), lit(s" $a$b "))
        replace(replace(c, pat, rep), pat, rep)
    }
    val actual = df.select(size(filter(split(applied, " "), x => x =!= "")).cast("long").as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    assert(actual == expected,
      s"double-replace diverged from the greedy fold: $actual vs $expected")
    // merges actually compress: learned tokens < raw symbol count
    val out = SparkEntry.queries("t20_bpe_learned")(spark, sf).collect()
    val rawSyms = Tables.documents(spark, sf)
      .select(sum(length(regexp_replace(col("text"), "\\s+", "")) +
        text.TextAnalysis.tokenCount(col("text")))).head.getLong(0)
    val learned = out.map(_.getAs[Long]("n_tokens_learned")).sum
    assert(learned < rawSyms, s"8 merges must compress: $learned !< $rawSyms")
    // fertility comparison columns present and finite
    out.foreach { r =>
      assert(!r.getAs[Double]("fertility_learned").isNaN)
      assert(!r.getAs[Double]("fertility_bpeish").isNaN)
    }
  }

  test("BPE-ish tokenizer splits contractions, long words and punctuation as designed") {
    import graft.text.TextAnalysis
    val cases = Seq(
      "don't stop",   // don | 't (contraction suffix) | " stop" -> 3
      "windowing",    // wind | owin | g (4-char letter pieces)   -> 3
      "a!!!b",        // a | !!! (punct run) | b                  -> 3
      "12345")        // 123 | 45 (3-digit pieces)                -> 2
    val df = cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(TextAnalysis.BpeishPattern)).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 2L), df.toString)
  }

  test("t12 DF profile matches a hand-computed corpus") {
    // 4 docs, n_docs = 4 → "niche" means df*2 <= 4, i.e. df <= 2.
    //   common: docs 1-4, df=4 — never niche
    //   mid:    docs 1-3, df=3 — not niche
    //   pair:   docs 1,2,4 (doc 4 via uppercase PAIR), df=3 — not
    //           niche. If lowercasing failed to merge PAIR, "pair"
    //           (df=2) and "PAIR" (df=1) would BOTH be niche and doc
    //           4's n_niche would read 2 — so the merge is pinned.
    //   only3/only4: df=1 — niche. Doc 4's repeated "common" also
    //   checks the per-doc DISTINCT step (counted once in df).
    val corpus = Seq(
      (1L, "common mid pair"),
      (2L, "common mid pair"),
      (3L, "common mid only3"),
      (4L, "common  common PAIR only4"))
    val dir = java.nio.file.Files.createTempDirectory("t12df").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t12_doc_frequency")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), r.getDouble(5))).toMap
    // (n_distinct, min_df, max_df, n_niche) per doc
    assert(got(1L) == ((3L, 3L, 4L, 0L), 0.0))
    assert(got(2L) == ((3L, 3L, 4L, 0L), 0.0))
    assert(got(3L) == ((3L, 1L, 4L, 1L), 1.0 / 3))
    assert(got(4L) == ((3L, 1L, 4L, 1L), 1.0 / 3))
  }

  test("t10 hierarchical prefix sum equals the flat single-window cumsum") {
    import org.apache.spark.sql.expressions.Window
    // the distributed (bucketed) offset computation must be value-
    // identical to the single-task formulation it replaces
    val got = SparkEntry.queries("t10_pack")(spark, sf)
      .select("doc_id", "tok_offset", "seq_id", "crosses_boundary").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val flat = Tables.documents(spark, sf)
      .select(col("doc_id"), text.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("tok_offset"), col("n_tokens")).collect()
      .map { r =>
        val (off, n) = (r.getLong(1), r.getLong(2))
        (r.getLong(0), off, off / 512L, n > 0 && off / 512L != (off + n - 1) / 512L)
      }
    assert(got.sortBy(_._1).toSeq == flat.sortBy(_._1).toSeq)
    // packing must actually produce straddling docs (the rows the
    // masking pass exists for) and multiple sequences
    assert(got.count(_._4) > 0 && got.map(_._3).distinct.length > 1)
  }

  test("native TokenGramHash equals an independent BigInt reference, unicode included") {
    import graft.functions.TokenGramHash
    val P = BigInt(TokenGramHash.P)
    def refCode(t: String): BigInt =
      t.codePoints().toArray.foldLeft(BigInt(0))((h, cp) => (h * TokenGramHash.B0 + cp) mod P)
    def refGrams(tokens: Seq[String], k: Int): Seq[String] = {
      val codes = tokens.map(refCode)
      (0 to tokens.length - k).map { p =>
        def lane(b: Long) =
          codes.slice(p, p + k).foldLeft(BigInt(0))((h, c) => (h * b + c) mod P)
        s"${lane(TokenGramHash.B1)}_${lane(TokenGramHash.B2)}"
      }
    }
    def nativeGrams(tokens: Seq[String], k: Int): Seq[String] = {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val in = new GenericArrayData(tokens.map(UTF8String.fromString).toArray[Any])
      val out = TokenGramHash.compute(in, k)
      (0 until out.numElements()).map(i => out.getUTF8String(i).toString)
    }
    val rnd = new scala.util.Random(20260815)
    val alphabets = Seq("abcdef", "a兔🧪é</w>x0.", " aZé世😀")
    for (trial <- 1 to 40) {
      val alpha = alphabets(trial % alphabets.length)
      // tokens as random code-point sequences (1..6 cps, astral incl.)
      val cps = alpha.codePoints().toArray
      val n = 1 + rnd.nextInt(40)
      val tokens = Seq.fill(n) {
        val len = 1 + rnd.nextInt(6)
        val sb = new StringBuilder
        (1 to len).foreach(_ => sb.appendAll(Character.toChars(cps(rnd.nextInt(cps.length)))))
        sb.toString
      }
      val k = 1 + rnd.nextInt(math.min(8, n))
      assert(nativeGrams(tokens, k) == refGrams(tokens, k),
        s"trial $trial mismatch for k=$k tokens=$tokens")
    }
    // the rolling update and the per-window polynomial agree on the
    // real corpus tokenization width too
    val wide = Seq.fill(200)(rnd.nextInt(1114111).toChar.toString.filter(!_.isSurrogate))
      .map(t => if (t.isEmpty) "x" else t)
    assert(nativeGrams(wide, 28) == refGrams(wide, 28))
  }

  test("native ShingleSketch equals the declarative explode + aggregate form, char and word grams") {
    import org.apache.spark.sql.DataFrame
    // the reference: the form the sketch replaced, one row per gram
    // (Dedup.shingles for char grams; the split/slice rule for words),
    // then md5 slice minima and the collect_set of xxhash64 per doc
    def wordGrams(docs: DataFrame): DataFrame = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) >= 3,
          expr("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))"))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("sh"))
    def reference(grams: DataFrame): Map[Long, (Seq[String], Seq[Long])] = {
      val mins = (0 until 8).map { j =>
        val h = if (j < 4) md5(col("sh")) else md5(concat(lit("x"), col("sh")))
        min(substring(h, 1 + 8 * (j % 4), 8)).as(s"s$j")
      }
      grams.groupBy(col("doc_id"))
        .agg(mins.head, (mins.tail :+ sort_array(collect_set(xxhash64(col("sh")))).as("shs")): _*)
        .collect().map(r => r.getLong(0) ->
          ((1 to 8).map(r.getString), r.getSeq[Long](9).toSeq)).toMap
    }
    def native(docs: DataFrame, words: Boolean): Map[Long, (Seq[String], Seq[Long])] =
      dedup.Dedup.sketches(docs, words).collect().map { r =>
        val shs = r.getSeq[Long](r.fieldIndex("shs")).toSeq
        assert(r.getAs[Long]("sz") == shs.size.toLong)
        r.getLong(0) -> ((1 to 8).map(r.getString), shs)
      }.toMap
    // combining marks, astral code points (surrogate pairs in Java),
    // whitespace Java's \s does and does not split on, repeated grams
    val charGen: Gen[String] = Gen.frequency(
      (20, Gen.oneOf("a", "b", "c", "Z", "0")),
      (6, Gen.oneOf(" ", "  ", "\t", "\n")),
      (2, Gen.oneOf("é", "€", "中", "\u00a0", "\u2003")),
      (2, Gen.oneOf("e\u0301", "\u0301")),
      (2, Gen.oneOf(new String(Character.toChars(0x1F600)), new String(Character.toChars(0x10348)))))
    val astral = new String(Character.toChars(0x1F600))
    val fixed = Seq[String](null, "", "abc", "abcd", "abcde", "abcdef",
      astral * 4, astral * 5, "e\u0301e\u0301e", "ababababababab", "aaaaaaaaaa",
      "one two", "one two three", "  a \t b\nc  ", "x x x x x", "a\u00a0b c d")
    val texts = fixed ++ (0 until 120).map { i =>
      Gen.listOfN(i % 40 * 7, charGen).apply(Gen.Parameters.default, Seed(700L + i))
        .map(_.mkString).getOrElse("")
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (java.lang.Long.valueOf(i.toLong), t) } :+
      ((null: java.lang.Long), "a null doc_id is dropped by both")
    // a multi-partition input: four parquet splits
    val dir = java.nio.file.Files.createTempDirectory("sketch_fuzz").toString
    rows.toDF("doc_id", "text").repartition(4).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    assert(docs.rdd.getNumPartitions > 1)
    for (words <- Seq(false, true)) {
      val ref = reference(if (words) wordGrams(docs) else dedup.Dedup.shingles(docs))
      val got = native(docs, words)
      assert(got.keySet == ref.keySet, s"words=$words: documents with grams differ")
      for ((id, want) <- ref)
        assert(got(id) == want, s"words=$words doc $id '${texts(id.toInt)}'")
    }
    // the corners are exercised, not skipped
    val charDocs = native(docs, words = false).keySet
    assert(!charDocs.contains(3L) && charDocs.contains(4L), "4 and 5 code points")
    assert(!charDocs.contains(6L) && charDocs.contains(7L), "4 and 5 astral code points")
    assert(native(docs, words = false)(10L)._2.size == 1, "repeated grams are one set member")
  }

  test("t24 DSIR resampling moves the kept mixture toward the target distribution") {
    val rows = SparkEntry.queries("t24_dsir_resample")(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(3), r.getBoolean(5)))
    val tgt = text.TextAnalysis.DsirTargetLang
    val corpusShare = rows.count(_._1 == tgt).toDouble / rows.length
    val kept = rows.filter(_._3)
    val keptShare = kept.count(_._1 == tgt).toDouble / kept.length
    // the point of importance resampling: the kept set is tilted
    // toward the target domain, without a hard domain filter
    assert(keptShare > corpusShare,
      f"kept target share $keptShare%.3f must exceed corpus share $corpusShare%.3f")
    assert(kept.length < rows.length, "resampling must actually drop documents")
    assert(kept.exists(_._1 != tgt),
      "resampling must not degenerate into a hard language filter")
    // at tau = 0, acceptance prob = min(1, 2^(w/T)) — a doc with
    // non-negative importance weight survives DETERMINISTICALLY
    // (u_milli >= 0 always); only negative-weight docs face the coin
    rows.filter(_._2 >= 0).foreach { case (_, w, keep) =>
      assert(keep, s"doc with non-negative weight $w must always be kept at tau=0")
    }
    // target-language docs must carry higher importance weight on
    // average — the model actually learned the target distribution
    val avgT = rows.filter(_._1 == tgt).map(_._2).sum.toDouble / rows.count(_._1 == tgt)
    val avgO = rows.filter(_._1 != tgt).map(_._2).sum.toDouble / rows.count(_._1 != tgt)
    assert(avgT > avgO + 500,
      f"mean weight separation too weak: target $avgT%.0f vs others $avgO%.0f milli-bits")
  }

  test("m9 catches planted cross-modal near-dups that BOTH single-signal detectors miss") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("m9_crossmodal_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    // reconstruct the planted (source, re-encode) pairs straight from
    // the table: i % 10 == 3 with source i-3 present, both long enough
    val docs = Tables.documents(spark, sf).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = docs.keys.filter { i =>
      i % 10 == 3 && docs(i).length >= 64 &&
        docs.get(i - 3).exists(_.length >= 65) && (i - 3) % 10 == 0
    }.toSeq.sorted
    assert(planted.nonEmpty, "corpus must yield planted re-encode pairs")
    planted.foreach { i =>
      val (srcTxt, plantPayload) = (docs(i - 3),
        s"${docs(i - 3)(1)}${docs(i - 3)(0)}${docs(i - 3).drop(2)}")
      // single-signal miss #1: the re-encode changed the payload bytes
      assert(plantPayload != srcTxt || srcTxt(0) == srcTxt(1))
      // single-signal miss #2: the caption edit changed the caption
      // (word 10 -> 'v2'); both exact fingerprints therefore differ
      // whenever the swapped chars differ — restrict assertions there
      if (srcTxt(0) != srcTxt(1)) {
        assert(out.contains(i) && out.contains(i - 3),
          s"planted pair ($i, ${i - 3}) missing from the m9 verdict")
        // the swap preserves length, so the pair ties on bytes and the
        // d10 argmax keeps the LOWER id — the source — deterministically
        if (out(i)._1 == 1 && out(i - 3)._1 == 1) {
          assert(!out(i)._2, s"re-encode $i must lose the keep argmax")
          assert(out(i - 3)._2, s"source ${i - 3} must win the keep argmax")
        }
      }
    }
  }

  test("t10's derived pack bucket bounds BOTH prefix-sum stages at any corpus size") {
    // stage 2's bucket-offset window reads maxId/width rows on one
    // task; stage 3's within-bucket cumsum partitions hold ≤ width
    // rows. The √n derivation keeps both ~√n — the property a fixed
    // width loses at 1000× growth.
    for (maxId <- Seq(0L, 499L, 1000000L, 1000000000L, 1000000000000L)) {
      val width = text.TextAnalysis.derivePackBucket(maxId)
      val metadataRows = maxId / width + 1
      assert(width >= 64L, s"maxId=$maxId width=$width")
      val bound = math.max(64L, math.ceil(math.sqrt((maxId + 1).toDouble)).toLong) + 1
      assert(metadataRows <= bound, s"maxId=$maxId window input $metadataRows > $bound")
      assert(width <= bound, s"maxId=$maxId partition width $width > $bound")
    }
  }

  test("chunk stride offsets equal the naive prefix re-join on adversarial spacing") {
    // r16: char_start moved from an O(prefix) re-join per chunk row to
    // a per-doc stride-offset array — pin the identity on inputs the
    // corpus never exercises: empty tokens (multi-space runs), leading/
    // trailing spaces, unicode, and docs spanning many strides
    val wordGen = Gen.oneOf(
      Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)),
      Gen.const(""), Gen.const("héllo"), Gen.const("東京タワー"))
    val docGen = Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.chunkExpand(
        graft.text.TextAnalysis.chunkBase(df), Nil)
      .select("doc_id", "chunk_seq", "tok_start", "tok_end",
        "char_start", "char_len", "chunk_text")
      .collect()
    assert(out.nonEmpty)
    val byId = docs.toMap
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    out.foreach { r =>
      val text = byId(r.getLong(0))
      val toks = text.split(" ", -1)
      val (st, en) = (r.getLong(2).toInt, r.getLong(3).toInt)
      // the naive O(prefix) definition the stride array replaced
      val naiveStart = if (st == 0) 0L else cp(toks.take(st).mkString(" ")) + 1L
      assert(r.getLong(4) == naiveStart,
        s"doc ${r.getLong(0)} chunk ${r.getLong(1)}: char_start ${r.getLong(4)} != $naiveStart")
      val expText = toks.slice(st, en).mkString(" ")
      assert(r.getString(6) == expText)
      assert(r.getLong(5) == cp(expText))
    }
    // the adversarial generator actually produced multi-stride docs
    // and empty tokens — otherwise this test is vacuous
    assert(out.exists(_.getLong(1) >= 2L), "no doc spanned 3+ chunks")
    assert(docs.exists(_._2.contains("  ")), "no multi-space run generated")
  }

  test("m11 shard index is contiguous within shards and sums to m7's manifest") {
    val idx = SparkEntry.queries("m11_shard_index")(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("sample_idx"),
        r.getAs[Long]("local_offset"), r.getAs[Long]("n_bytes")))
      .groupBy(_._1)
    assert(idx.nonEmpty)
    idx.foreach { case (shard, rows) =>
      val sorted = rows.sortBy(_._2)
      // sample_idx dense from 1; the first sample starts the shard
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"shard $shard idx gap")
      assert(sorted.head._3 == 0L, s"shard $shard first sample offset ${sorted.head._3}")
      // contiguity: a reader can seek sample k+1 at offset(k) + len(k)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(b._3 == a._3 + a._4, s"shard $shard hole between ${a._2} and ${b._2}")
      }
    }
    // cross-pin: the index aggregates to exactly m7's manifest
    val manifest = SparkEntry.queries("m7_shard_pack")(spark, sf).collect()
      .map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_bytes"))).toMap
    assert(idx.keySet == manifest.keySet)
    idx.foreach { case (shard, rows) =>
      assert(rows.length.toLong == manifest(shard)._1, s"shard $shard doc count")
      assert(rows.map(_._4).sum == manifest(shard)._2, s"shard $shard byte mass")
    }
  }
}
