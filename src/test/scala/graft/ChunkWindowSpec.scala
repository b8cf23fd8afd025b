package graft

import org.apache.spark.sql.functions._

/** t25/t26/s18 invariants (round 15 — VERDICT r14 #4/#5/#6): the
  * chunker's coverage/overlap/reconstruction contract, the epoch
  * permutation's partitioning-independence and bijection, and the
  * cluster sampler's exact per-cell quota arithmetic — each checked
  * against independently recomputed expectations, not against the
  * operator's own intermediates.
  */
class ChunkWindowSpec extends SparkSpec {

  private lazy val chunks =
    SparkEntry.queries("t25_chunk_windows")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))
      .groupBy(_._1)

  private lazy val docTokens: Map[Long, Array[String]] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap

  test("t25 covers every token: starts advance by exactly the stride, first=0, last end=n") {
    val C = 32L; val S = 24L
    assert(chunks.nonEmpty)
    for ((doc, cs) <- chunks) {
      val n = docTokens(doc).length.toLong
      val sorted = cs.sortBy(_._3)
      // within-doc sequence is dense from 0
      assert(sorted.map(_._3).toSeq == (0L until sorted.length).toSeq, s"doc $doc seq gap")
      sorted.zipWithIndex.foreach { case ((_, _, seq, st, en, _, _, _), i) =>
        assert(st == seq * S, s"doc $doc chunk $seq start $st")
        assert(en == math.min(st + C, n), s"doc $doc chunk $seq end $en")
        // non-final chunks are FULL windows; only the tail truncates
        if (i < sorted.length - 1) assert(en - st == C, s"doc $doc chunk $seq not full")
      }
      assert(sorted.head._4 == 0L, s"doc $doc first chunk start")
      assert(sorted.last._5 == n, s"doc $doc last chunk end $n")
      // consecutive overlap is EXACTLY C - S for every pair (the left
      // chunk of a pair is never the final one, so it is a full
      // window) — an exact pin, so a stride/window regression fails
      // here directly, not only via the per-chunk start/end asserts
      // above (ADVICE r15 #2: the previous >= form was implied by
      // those and thus vacuous)
      if (sorted.length > 1)
        sorted.sliding(2).foreach { case Array(a, b) =>
          assert(a._5 - b._4 == C - S,
            s"doc $doc overlap between ${a._3} and ${b._3} is ${a._5 - b._4}, not ${C - S}")
        }
    }
  }

  test("t25 chunks reconstruct from the original document via (char_start, char_len)") {
    for ((doc, cs) <- chunks) {
      val text = docTokens(doc).mkString(" ")
      cs.foreach { case (_, _, seq, _, _, cst, clen, ctext) =>
        val sub = text.substring(cst.toInt, (cst + clen).toInt)
        assert(sub == ctext, s"doc $doc chunk $seq: substring != chunk_text")
      }
    }
  }

  test("t25 global chunk_id is the dense corpus-order numbering") {
    val all = chunks.values.flatten.toSeq.sortBy(r => (r._1, r._3))
    assert(all.map(_._2).toSeq == (0L until all.length).toSeq,
      "chunk_id not dense in (doc_id, chunk_seq) order")
  }

  test("t26 positions are a per-epoch bijection and epochs genuinely differ") {
    val rows = SparkEntry.queries("t26_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    val orders = byEpoch.map { case (e, rs) =>
      val n = rs.length.toLong
      assert(rs.map(_._3).sorted.toSeq == (1L to n).toSeq, s"epoch $e not a bijection")
      e -> rs.sortBy(_._3).map(_._2).toSeq
    }
    // a shared permutation across epochs would make multi-epoch
    // training order degenerate — the seed folds the epoch in
    assert(orders(0L) != orders(1L) && orders(1L) != orders(2L))
  }

  test("t26 is partitioning-independent (the bucketed rank never reads partition layout)") {
    val fn = SparkEntry.queries("t26_epoch_shuffle")
    val a = fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      assert(a == b, "t26 output changed under a different shuffle partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("s18 takes exactly min(|cell|, quota) per cell, the hash-order maxima") {
    import graft.sim.Knn
    val e = Tables.embeddings(spark, sf)
    val (assigned, centroids, _) = Knn.lloyd(e)
    val membership = assigned.select("cell", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    // quota divides the TRAINED centroid count (r16: the metadata
    // scalar, not a corpus re-scan); pin that it equals the non-empty
    // assignment cells here so the two definitions can't silently
    // diverge on this corpus
    val ncells = centroids.count().toInt
    assert(ncells == membership.size,
      s"trained cells $ncells != non-empty assignment cells ${membership.size}")
    val quota = ((Knn.ClusterSampleBudget + ncells - 1) / ncells).toInt
    def h(v: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"csamp:$v".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = membership.map { case (cell, ms) =>
      cell -> ms.map(_._2).sortBy(v => (h(v), v))(
        Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)).take(quota).toSet
    }
    val got = SparkEntry.queries("s18_cluster_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(_._2).toSet }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (cell, exp) =>
      assert(got(cell) == exp, s"cell $cell picked ${got(cell).size} != expected ${exp.size}")
      assert(exp.size == math.min(membership(cell).length, quota))
    }
  }

  test("s18 runs the per-cell cut through TopKPerKey heaps, not a window sort") {
    val df = SparkEntry.queries("s18_cluster_sample")(spark, sf)
    df.collect()
    val heaps = collectInPlan(df.queryExecution.executedPlan) {
      case p if p.nodeName.contains("TopKPerKey") => p.nodeName
    }
    assert(heaps.nonEmpty, "s18 lost the TopKPerKey physical operator")
    val badWindow = collectInPlan(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.simpleStringWithNodeId()
    }
    assert(badWindow.isEmpty, s"s18 plans a window sort: $badWindow")
  }

  test("t27 greedy fill equals an in-JVM recomputation from s20's selection and the raw texts") {
    val sel = SparkEntry.queries("s20_mmr_diversify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(sel.nonEmpty)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent reference: the fill recomputed from first principles
    // (lead chunk = first min(32, n) tokens, sequential budget 80)
    var rem = 80L
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean, String)]
    sel.foreach { case (_, doc) =>
      val toks = texts(doc).split(" ", -1)
      val ctoks = math.min(32L, toks.length.toLong)
      val alloc = math.min(ctoks, math.max(rem, 0L))
      if (alloc > 0L) {
        want += ((doc, alloc, alloc < ctoks, toks.take(alloc.toInt).mkString(" ")))
        rem -= alloc
      }
    }
    val got = SparkEntry.queries("t27_context_pack")(spark, sf).collect()
      .sortBy(_.getAs[Long]("slot"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_alloc"),
        r.getAs[Boolean]("truncated"), r.getAs[String]("context_text")))
    assert(got.toSeq == want.toSeq, s"\n got: ${got.toSeq}\nwant: ${want.toSeq}")
    // citation addressing: lead chunks start at char 0 and the
    // allocated span reconstructs from the ORIGINAL document — in
    // CODE POINT space (char_alloc counts code points, the unit all
    // other chunk geometry uses; ADVICE r16)
    SparkEntry.queries("t27_context_pack")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("char_start") == 0L)
      val doc = texts(r.getAs[Long]("doc_id"))
      val end = doc.offsetByCodePoints(0, r.getAs[Long]("char_alloc").toInt)
      assert(doc.substring(0, end) == r.getAs[String]("context_text"))
    }
  }

  test("t27 char_alloc counts code points: a non-BMP lead chunk keeps the citation span exact") {
    // ADVICE r16: char_alloc was JVM String.length (UTF-16 units)
    // while the oracle and all other chunk geometry count code
    // points — a supplementary-plane character in a selected lead
    // chunk diverged the two. Corpus variant: an astral-plane char
    // prepended as token 0 of EVERY doc, so whatever s20 selects
    // carries it in its lead chunk.
    withTempDir("graft-nonbmp") { tmp =>
      Tables.documents(spark, sf)
        .withColumn("text", concat(lit("😀 "), col("text")))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      Tables.embeddings(spark, sf)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val rows = SparkEntry.queries("t27_context_pack")(spark, tmp).collect()
      assert(rows.nonEmpty)
      val texts = Tables.documents(spark, tmp).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.foreach { r =>
        val ctx = r.getAs[String]("context_text")
        assert(ctx.contains("😀"), "lead chunk lost the planted astral char")
        assert(ctx.codePointCount(0, ctx.length) == r.getAs[Long]("char_alloc"),
          s"doc ${r.getAs[Long]("doc_id")}: char_alloc is not a code-point count")
        // reconstruction via code-point offsets — the mixed-unit span
        // (UTF-16 alloc over code-point start) would break exactly here
        val doc = texts(r.getAs[Long]("doc_id"))
        val end = doc.offsetByCodePoints(0, r.getAs[Long]("char_alloc").toInt)
        assert(doc.substring(0, end) == ctx)
      }
    }
  }

  test("t25/t26 plan no unpartitioned window (the serial point) and no range exchange") {
    for (q <- Seq("t25_chunk_windows", "t26_epoch_shuffle")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val bad = collectInPlan(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w.simpleStringWithNodeId()
      }
      assert(bad.isEmpty, s"$q plans an unpartitioned Window: ${bad.mkString("; ")}")
      val range = collectInPlan(plan) {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if ex.outputPartitioning.toString.contains("rangepartitioning") =>
          ex.simpleStringWithNodeId()
      }
      assert(range.isEmpty, s"$q plans a global range sort: ${range.mkString("; ")}")
    }
  }
}
