package graft

/** Physical-plan shape guards for the dedup suite — the properties
  * that matter at 100 TB, asserted so a refactor can't silently
  * reintroduce them.
  */
class DedupPlanSpec extends SparkSpec {

  test("d20 incremental labels equal from-scratch d7 on the unioned corpus") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("d20_cross_batch_cluster")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val inc = out.map(t => t._1 -> t._2).toMap
    val scratch = SparkEntry.queries("d7_cluster")(spark, sf)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == scratch,
      "incremental maintenance diverged from re-clustering the union: " +
        inc.toSeq.filter { case (k, v) => scratch(k) != v }.take(5).mkString(", "))
    // the batch flag is d12's integer rule, and the increment actually
    // crosses the boundary: some batch doc joins an old doc's cluster
    val mx = out.map(_._1).max
    out.foreach { case (id, _, isNew) => assert(isNew == (id > mx - mx / 5)) }
    val histMax = mx - mx / 5
    assert(out.exists { case (id, c, isNew) => isNew && c <= histMax },
      "no batch doc joined a historical cluster — the increment is untested")
    // version gate (the s11 freshness rule): a stale marker forces an
    // actual re-stage of the persisted label store
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_cbc_" + StagePath.corpusToken(sf))
    val marker = dir.resolve("_src_meta")
    val current = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(current.contains(":" + dedup.Dedup.CbcVersion + ":"), current)
    java.nio.file.Files.write(marker, current
      .replace(":" + dedup.Dedup.CbcVersion + ":", ":stale0:").getBytes("UTF-8"))
    val before = java.nio.file.Files
      .getLastModifiedTime(dir.resolve("labels")).toMillis
    SparkEntry.queries("d20_cross_batch_cluster")(spark, sf).collect()
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == current,
      "stale marker must force a re-stage that restores the current meta")
    val after = java.nio.file.Files
      .getLastModifiedTime(dir.resolve("labels")).toMillis
    assert(after > before, "stale marker must rebuild the label store itself")
    // a missing label store behind a current marker re-stages too
    val restaged = withoutArtifact(dir, "labels")(
      SparkEntry.queries("d20_cross_batch_cluster")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))))
    assert(restaged.toSeq == out.toSeq, "re-staging the label store changed the labels")
  }

  test("d23 token grams catch the 8-word plant d22 provably misses; d22 drops are a subset") {
    def verdicts(key: String): Map[Long, (Long, String)] =
      SparkEntry.queries(key)(spark, sf).collect()
        .map(r => r.getLong(0) ->
          (Seq(r.getLong(1), r.getLong(2), r.getLong(3)).max, r.getString(5)))
        .toMap
    val word = verdicts("d22_multi_decontam")
    val tok = verdicts("d23_token_decontam")
    assert(word.keySet == tok.keySet, "both detectors must score the same corpus")
    val tokPlants = word.keySet.filter(_ % 10 == 7)
    assert(tokPlants.nonEmpty)
    tokPlants.foreach { id =>
      // word level RECORDS the leak (exactly the one sub-threshold
      // 8-word gram) but keeps the doc — d22's documented single-gram
      // rule, i.e. the blind spot token-level decontamination closes
      assert(word(id) == ((1L, "")),
        s"doc $id: d22 should see exactly one word-gram hit and keep, got ${word(id)}")
      assert(tok(id)._2.nonEmpty,
        s"doc $id: the planted 8-word leak must drop at token level")
    }
    // every word-level catch is a token-level catch: >= 2 word grams
    // means a >= 9-word verbatim run, whose identical per-word
    // tokenization shares >= DecontamTokGramK + 1 consecutive symbols
    val subsetViolations = word.collect {
      case (id, (_, r)) if r.nonEmpty && tok(id)._2.isEmpty => id
    }
    assert(subsetViolations.isEmpty,
      s"docs dropped by word-level d22 but kept by token-level d23: $subsetViolations")
  }

  test("d21 packs exactly the tokens d19 keeps, in order, mass-conserving") {
    import org.apache.spark.sql.functions._
    val d19r = SparkEntry.queries("d19_substring_remove")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1) - r.getLong(2))).toMap // doc -> surviving
    val df = SparkEntry.queries("d21_dedup_pack")(spark, sf)
    val d21r = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toList
    // membership: exactly the docs with surviving tokens
    assert(d21r.map(_._1).toSet == d19r.filter(_._2 > 0).keySet)
    // per-doc counts are d19's survivors; offsets the exact running sums
    d21r.foreach { case (id, n, _, _) => assert(n == d19r(id)) }
    d21r.sliding(2).foreach {
      case List((_, n1, o1, _), (_, _, o2, _)) => assert(o2 == o1 + n1)
      case _ =>
    }
    assert(d21r.headOption.forall(_._3 == 0L))
    // inherits the packing window discipline
    val bad = collectInPlan(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty)
  }

  test("d20's condensed propagation merges two old components bridged by one new doc") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // persisted state: components {1,2} (label 1) and {5,6} (label 5);
    // new doc 9 collides with old docs 2 and 6 → the condensed graph is
    // 1–9–5 and EVERYTHING must converge to label 1, including old docs
    // re-labeled through the old-label → condensed-root map
    val condEdges = Seq((1L, 9L), (9L, 1L), (5L, 9L), (9L, 5L))
      .toDF("src", "dst").localCheckpoint()
    val nodes = Seq(1L, 5L, 9L).toDF("doc_id")
    val labels = dedup.Dedup.propagateMinLabels(nodes, condEdges)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 5L -> 1L, 9L -> 1L),
      s"bridge must merge both old components: $labels")
    // a chain of bridges (old labels 10,20,30 linked through new docs
    // 41,42) needs >1 propagation round and still converges to the min
    val chain = Seq((10L, 41L), (41L, 10L), (41L, 20L), (20L, 41L),
      (20L, 42L), (42L, 20L), (42L, 30L), (30L, 42L))
      .toDF("src", "dst").localCheckpoint()
    val chainNodes = Seq(10L, 20L, 30L, 41L, 42L).toDF("doc_id")
    val chainLabels = dedup.Dedup.propagateMinLabels(chainNodes, chain)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainLabels.values.toSet == Set(10L), s"chain did not converge: $chainLabels")
  }

  test("propagation runs one job per round: the label sum rides the checkpoint job") {
    import spark.implicits._
    // a 1-9-5 bridge converges in 2 rounds; a 6-node path needs 4, so
    // its rounds 3-4 also pointer-jump (one more checkpoint each)
    val bridge = Seq((1L, 9L), (9L, 1L), (5L, 9L), (9L, 5L)).toDF("src", "dst").localCheckpoint()
    val path = (0 until 5).flatMap(i => Seq((i.toLong, i + 1L), (i + 1L, i.toLong)))
      .toDF("src", "dst").localCheckpoint()
    // AQE runs each shuffle stage as a job of its own, so a round is
    // its checkpoint's map-stage jobs plus one result job. A separate
    // sum per round cost two more (17 and 39 jobs here).
    for ((edges, nodes, wantRounds, wantJobs) <- Seq(
        (bridge, Seq(1L, 5L, 9L), 2, 11), (path, (0L to 5L), 4, 29))) {
      val ((labels, rounds), jobs) =
        jobsOf(dedup.Dedup.propagateMinLabels(nodes.toDF("doc_id"), edges))
      assert(rounds == wantRounds)
      assert(labels.collect().map(_.getLong(1)).toSet == Set(nodes.min))
      assert(jobs.size == wantJobs, jobs.mkString("\n"))
      assert(!jobs.exists(_.startsWith("head at")), jobs.mkString("\n"))
    }
    // an empty node set still fails loudly at the seed round
    val none = Seq.empty[(Long, Long)].toDF("src", "dst").localCheckpoint()
    intercept[IllegalArgumentException](
      dedup.Dedup.propagateMinLabels(Seq.empty[Long].toDF("doc_id"), none))
  }

  test("propagation pointer-jumps deep chains: a 24-node path converges in O(log n) rounds") {
    import spark.implicits._
    // a pure path 0-1-2-...-23: plain one-hop propagation would need
    // ~23 rounds to pull the tail's label to 0; with path halving
    // engaged from round 3 the label distance halves per round
    val n = 24
    val edges = (0 until n - 1).flatMap(i =>
        Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst").localCheckpoint()
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val (labelDf, rounds) = dedup.Dedup.propagateMinLabels(nodes, edges)
    val labels = labelDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(0L), s"path did not converge: $labels")
    assert(rounds <= 10,
      s"deep chain took $rounds rounds — pointer jumping not engaged (O(n) regression)")
  }

  test("d19 excises the planted copied paragraph, keeps one canonical copy, preserves unique text") {
    import org.apache.spark.sql.functions._
    val boiler = "this content is provided as is without warranty of " +
      "any kind either express or implied" // 15 tokens, >= SpanGramK
    val out = SparkEntry.queries("d19_substring_remove")(spark, sf)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // the EXECUTED plan (post-collect, AQE-final so exchange reuse has
    // happened) stays pairwise-free and window-free (t17's discipline)
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop shape is hotLookupJoin's one-row scalar cross
    // (the d14/t12 pattern, ≤1 distinct identity build)
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toSeq
    assert(bnlj.forall(_.contains("Cross")), s"non-scalar nested loop:\n$p")
    val identityBuilds = p.linesIterator.count(l =>
      l.contains("BroadcastExchange IdentityBroadcastMode") && !l.contains("ReusedExchange"))
    assert(identityBuilds <= 1, s"$identityBuilds scalar broadcast builds:\n$p")
    // every planting doc except the owner (min doc_id = 7) loses the
    // paragraph — exactly: at least its 15 tokens, and the text is gone
    val planted = rows.filter(_._1 % 20 == 7)
    assert(planted.size > 1, "need owner + non-owners to exercise priority")
    val owner = planted.minBy(_._1)
    assert(owner._4.contains(boiler), s"owner must KEEP the canonical copy: $owner")
    planted.filterNot(_ == owner).foreach { case (id, _, nRemoved, cleaned) =>
      assert(!cleaned.contains(boiler), s"doc $id kept the copied paragraph")
      assert(nRemoved >= 15, s"doc $id removed only $nRemoved tokens")
    }
    // unique text survives byte-for-byte (modulo the documented
    // whitespace normalization): untouched docs reproduce their tokens
    val untouched = rows.filter(r => r._3 == 0)
    assert(untouched.nonEmpty, "corpus should contain docs with no cross-doc repeats")
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"),
        concat_ws(" ", expr("filter(split(text, '\\\\s+'), t -> t != '')")).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    untouched.filter(_._1 % 20 != 7).foreach { case (id, nTok, _, cleaned) =>
      assert(cleaned == raw(id), s"doc $id text mutated without removals")
    }
    // full-document dedup as the limit case: a doc whose EVERY gram
    // position is corpus-repeated under another owner degenerates to
    // the empty string — both engines' COALESCE contract, observed on
    // real data (the sf0.01 corpus has such docs; sf0.001 does not)
    val big = SparkEntry.queries("d19_substring_remove")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val emptied = big.filter(r => r._3 == r._2)
    assert(emptied.nonEmpty, "expected fully-covered docs at sf0.01")
    emptied.foreach { case (id, _, _, cleaned) =>
      assert(cleaned == "", s"doc $id lost every token but cleaned != ''")
    }
    // and the count columns stay consistent everywhere
    big.foreach { case (id, nTok, nRem, cleaned) =>
      assert(nRem >= 0 && nRem <= nTok, s"doc $id removal counts inconsistent")
      assert((cleaned == "") == (nRem == nTok), s"doc $id empty/cleaned mismatch")
    }
  }

  test("d5 joins embeddings by shuffle, not broadcast") {
    val df = SparkEntry.queries("d5_embedding_neardup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a shuffle join on label, got:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"full-table broadcast is the 100 TB OOM path:\n$plan")
  }

  test("d4 plan has no cached relation") {
    val df = SparkEntry.queries("d4_ngram_jaccard")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"),
      s"d4 must not cache (leaked memory across queries in round 2):\n$plan")
  }

  test("d7 clusters are consistent with the candidate edge set") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("d7_cluster")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.size.toLong == nDocs, "one cluster row per document")
    // a cluster id is the min doc of its component: the root labels itself
    rows.foreach { case (doc, c) =>
      assert(c <= doc, s"cluster_id $c > doc $doc")
      assert(rows(c) == c, s"root $c of doc $doc not self-labeled (${rows(c)})")
    }
    assert(rows.exists { case (doc, c) => c != doc }, "expected at least one non-singleton cluster")
  }

  /** Nodes of an executed plan that evaluate [[functions.ShingleSketch]],
    * each with whether a round-robin exchange runs below it. */
  private def sketchSites(p: org.apache.spark.sql.execution.SparkPlan): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    // a reused stage's exchange is its `child`, not one of its children
    def spreadBelow(n: SparkPlan): Boolean = collectInPlan(n) {
      case x: ShuffleExchangeExec if x.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => x
      case r: ReusedExchangeExec if spreadBelow(r.child) => r
    }.nonEmpty
    collectInPlan(p) {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[functions.ShingleSketch])) =>
        (n.nodeName, n.children.exists(spreadBelow))
    }
  }

  /** Runs `f` on sf0.001's documents rewritten as `n` parquet splits. */
  private def withSplitCorpus[T](n: Int)(f: String => T): T = withTempDir("dedup_splits") { dir =>
    Tables.documents(spark, sf).repartition(n)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    f(dir)
  }

  test("d7's edges: no per-gram rows or sort/object aggregates; the sketch runs above the spread") {
    import org.apache.spark.sql.catalyst.expressions.{CreateMap, Explode}
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    // several small splits: parallel, but narrower than the shuffle
    // partitions, so spreadToCores still fans the scan out
    withSplitCorpus(3) { dir =>
      val docs = Tables.documents(spark, dir)
      assert(docs.rdd.getNumPartitions == 3)
      val edges = dedup.Dedup.clusterEdges(docs)
      edges.collect()
      val p = edges.queryExecution.executedPlan
      val generates = collectInPlan(p) { case g: GenerateExec => g.generator }
      assert(generates.forall {
        case Explode(_: CreateMap) => true // the 4-row band long form
        case _ => false
      }, s"a Generate other than the band explode:\n$p")
      assert(collectInPlan(p) { case a: SortAggregateExec => a }.isEmpty, p)
      assert(collectInPlan(p) { case a: ObjectHashAggregateExec => a }.isEmpty, p)
      // once for the bands, once for the sets, and never below the
      // round-robin exchange (a filter on the sketch would be pushed
      // there and hash the corpus on the scan's few cores)
      val sites = sketchSites(p)
      assert(sites.nonEmpty && sites.forall(_._2), s"ShingleSketch evaluated below the spread: $sites\n$p")
      assert(sites.size <= 2, s"$sites\n$p")
      // the edges are d7's: same labels as the single-file corpus
      val one = SparkEntry.queries("d7_cluster")(spark, sf).collect().map(_.toSeq).toSet
      assert(SparkEntry.queries("d7_cluster")(spark, dir).collect().map(_.toSeq).toSet == one)
    }
  }

  test("every sketch consumer evaluates the sketch above the spread") {
    withSplitCorpus(3) { dir =>
      for (q <- Seq("d2_minhash_lsh", "d4_ngram_jaccard", "d9_containment", "d11_word_minhash",
          "d15_minhash_accuracy", "d24_lsh_curve", "d25_band_sweep")) {
        val df = SparkEntry.queries(q)(spark, dir)
        df.collect()
        val sites = sketchSites(df.queryExecution.executedPlan)
        assert(sites.nonEmpty && sites.forall(_._2), s"$q: $sites")
      }
    }
  }

  test("d7 edge verification drops an engineered band-collision edge between dissimilar docs") {
    import spark.implicits._
    // docs 1/2 share ZERO shingles — the fabricated (1,2) star edge
    // stands in for an adversarial band collision (unrelated docs whose
    // minhash bands happened to agree); docs 3/4 differ by one char
    // (Jaccard ≈ 0.8) — a genuine near-dup edge
    val docs = Seq(
      (1L, "aaaaabbbbbcccccdddddeeeee"),
      (2L, "fffffggggghhhhhiiiiijjjjj"),
      (3L, "the quick brown fox jumps over the lazy dog again"),
      (4L, "the quick brown fox jumps over the lazy dog agaim")).toDF("doc_id", "text")
    val sets = graft.dedup.Dedup.sketches(docs)
    val rooted = Seq((1L, 2L), (3L, 4L)).toDF("root", "doc_id")
    val kept = graft.dedup.Dedup.verifyEdges(rooted, sets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!kept.contains((1L, 2L)), "a band collision between dissimilar docs must NOT merge")
    assert(kept.contains((3L, 4L)), "a true near-dup edge must survive verification")
  }

  test("d8 executes ONE token-pipeline scan — AQE stage reuse is load-bearing") {
    // d8 references the simhash signature subtree from four branches
    // (uniq, the two pair sides, the same-sig join). Identical base
    // subtrees (notnull at the base, commit 943a9d9) let AQE reuse one
    // shuffle stage for all of them; losing that canonicalization
    // silently re-runs the whole token pipeline per branch (the round-4
    // 136 s regression). Assert the FINAL adaptive plan scans
    // documents.parquet exactly once.
    val df = SparkEntry.queries("d8_simhash_pairs")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val docScans = "documents\\.parquet".r.findAllIn(finalPlan).size
    assert(docScans == 1, s"$docScans documents scans in d8's final plan:\n$finalPlan")
  }

  test("d8 equals the brute-force all-pairs hamming filter") {
    import org.apache.spark.sql.functions._
    // d3 exposes the same 64-bit signatures; brute-force every pair in
    // the test (fine at sf0.001) and compare sets
    val sigs = SparkEntry.queries("d3_simhash")(spark, sf)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val expected = (for {
      (da, sa) <- sigs; (db, sb) <- sigs
      if da < db
      h = hamming(sa, sb) if h <= 3
    } yield (da, db, h.toLong)).toSet
    val got = SparkEntry.queries("d8_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // 64-bit signatures: hamming proximity is rare, not the norm — the
    // 16-bit scheme reported nearly half of all pairs as "neighbors"
    val nDocs = sigs.length.toLong
    assert(got.size.toLong * 4 < nDocs * (nDocs - 1) / 2,
      s"${got.size} pairs of ${nDocs * (nDocs - 1) / 2} possible — signature too narrow")
  }

  test("d2 family collapse: a giant dup family neither caps out nor strips bystanders") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a dup family LARGER than the (family-unit) cap — identical text
    // → identical signature → ONE family row, so the cap must NOT fire
    // and every member must count its fsize-1 mates; plus a 2-doc
    // family and unique filler docs
    val famText = "the quick brown fox jumps over the lazy dog again and again"
    val famSize = dedup.Dedup.MaxBandBucket + 10L
    val big = (0L until famSize).map(i => (i, famText))
    val small = Seq(
      (1000L, "an entirely different small duplicate family text body"),
      (1001L, "an entirely different small duplicate family text body"))
    // fillers must not be near-dups of each other: distinct shingle
    // sets, not a shared template with one varying token
    val filler = (2000L until 2005L).map { i =>
      val words = (0 until 12).map(w => java.lang.Long.toString(i * 104729 + w * 7919, 36))
      (i, words.mkString(" "))
    }
    withTempDir("d2cap") { dir =>
      (big ++ small ++ filler).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("d2_minhash_lsh")(spark, dir)
        .select("doc_id", "n_candidates").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the round-5 per-DOCUMENT cap zeroed these (the whole bucket was
      // skipped); the family-unit cap sees one row and keeps them all
      big.foreach { case (id, _) =>
        assert(out(id) == famSize - 1L,
          s"doc $id of the $famSize-doc family: got ${out(id)}, want ${famSize - 1}")
      }
      assert(out(1000L) == 1L && out(1001L) == 1L,
        s"small family keeps its candidates: ${out(1000L)}, ${out(1001L)}")
      filler.foreach { case (id, _) => assert(out(id) == 0L) }
    }
  }

  test("d2 bystander of a giant dup family keeps its cross-family candidates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the bystander is a NEAR-dup of the family text (one word
    // appended): J ≈ 0.9, so its minhash shares at least one band with
    // the family for this fixed corpus (deterministic md5 minhash —
    // checked below, not assumed). It must then count the WHOLE family
    // (every member, via the family expansion), where the round-5
    // per-document cap gave it 0 from that bucket.
    val famText = "the quick brown fox jumps over the lazy dog again and again"
    val big = (0L until dedup.Dedup.MaxBandBucket + 10L).map(i => (i, famText))
    val bystander = (5000L, famText + " nearby")
    withTempDir("d2bystander") { dir =>
      (big :+ bystander).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = SparkEntry.queries("d2_minhash_lsh")(spark, dir).collect()
        .map(r => r.getLong(0) -> (Seq(r.getString(1), r.getString(2), r.getString(3),
          r.getString(4)), r.getLong(5))).toMap
      val sharesBand = rows(5000L)._1.zip(rows(0L)._1).exists { case (a, b) => a == b }
      assert(sharesBand,
        "test corpus must make the bystander LSH-collide with the family (fixed md5 minhash)")
      assert(rows(5000L)._2 == big.length.toLong,
        s"bystander must count the whole family, got ${rows(5000L)._2}")
      assert(rows(0L)._2 == big.length.toLong, // fsize-1 mates + the bystander's family
        s"family member counts mates + bystander, got ${rows(0L)._2}")
    }
  }

  test("word shingles: sub-3-token docs yield none, 3 tokens yield exactly one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two"),                    // 2 tokens -> no shingle
      (2L, "alpha beta gamma"),           // 3 tokens -> 1 shingle
      (3L, "  a   b c   d  "),            // ragged whitespace -> 2 shingles
      (4L, "x x x x")                     // repeated tokens -> 2 DISTINCT shingles
    ).toDF("doc_id", "text")
    // the word-mode sketch's set holds each distinct gram's xxhash64
    val sh = dedup.Dedup.sketches(docs, words = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("shs")).toSeq).toMap
    def hashes(grams: String*): Seq[Long] =
      grams.toDF("g").select(org.apache.spark.sql.functions.xxhash64($"g"))
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(!sh.contains(1L), "2-token doc must produce no shingles")
    assert(sh(2L) === hashes("alpha beta gamma"))
    assert(sh(3L) === hashes("a b c", "b c d"), "tokenization must drop empty split tokens")
    assert(sh(4L) === hashes("x x x"), "duplicate shingles must dedup")
  }

  test("char shingles of sub-5-character texts: none, as the oracles' generate_series") {
    import spark.implicits._
    val texts = Seq(1L -> "", 2L -> "abcd", 3L -> "abcde", 4L -> "abcdef")
    val got = dedup.Dedup.shingles(texts.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap.withDefaultValue(Nil)
    // the d-query oracles' CharShingleCte: generate_series(1, length - 4)
    // is empty below 1, and `1 to n` mirrors it
    for ((id, t) <- texts)
      assert(got(id) === (1 to t.length - 4).map(i => t.substring(i - 1, i + 4)),
        s"doc $id '$t'")
    assert(got(4L) === Seq("abcde", "bcdef"))
  }

  test("d8 verifies hamming via codegen'd bit_count, not an interpreted per-bit fold") {
    val plan = SparkEntry.queries("d8_simhash_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bit_count"), "hamming must be bit_count(xor) on packed longs")
    assert(!plan.contains("transform(sequence"),
      "the 128-substring interpreted hamming fold is the round-4 45x regression")
  }

  test("q18 plan: bounded rank windows only, no buffering percentile, few scans") {
    val df = SparkEntry.queries("q18_percentile")(spark, sf)
    df.collect()  // finalize the adaptive plan: AQE reuses the counts stage at runtime
    // executedPlan.toString prints final + initial sections; judge the final only
    val full = df.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==")(0)
    assert(!plan.contains("percentile("),
      "the buffering percentile aggregate concentrates a group on one reducer")
    val windows = plan.linesIterator.count(_.trim.stripPrefix("+- ").startsWith("Window"))
    assert(windows <= 1, s"expected at most the target-bucket rank window, got $windows:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 3, s"q18 should scan lineitem for counts, ranks and n only, got $scans")
  }

  test("d22 drops exactly the planted benchmark leaks, names the right benchmark, keeps the rest") {
    val df = SparkEntry.queries("d22_multi_decontam")(spark, sf)
    // declared broadcasts only for the two bounded relations — the
    // 3-row plant dim (referenced from both the gram side and the
    // verdict spine, so it appears twice in the analyzed tree) and the
    // benchmark gram set — never the corpus
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // r14: the shared decontam corpus carries TWO plant dims (word +
    // token), each referenced twice -> 4, plus the benchmark gram set
    assert(hints.size == 5, s"expected 2x plant + 2x tplant + 1x bench broadcasts, got ${hints.size}")
    val rows = df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4), r.getString(5))).toMap
    val nCorpus = SparkEntry.queries("d22_multi_decontam")(spark, sf).count()
    assert(rows.size == nCorpus && rows.keys.forall(_ >= 15),
      "one verdict row per corpus doc")
    rows.foreach { case (id, (_, nHit, reason)) =>
      // self-consistency: drop_reason lists exactly the n_hit benchmarks
      val named = if (reason.isEmpty) 0 else reason.split(",").length
      assert(named == nHit, s"doc $id: n_hit=$nHit but drop_reason='$reason'")
      if (id % 10 == 6)
        // planted: >= 3 verbatim grams from benchmark id%3 -> must drop
        // on (at least) that benchmark
        assert(reason.split(",").contains(s"b${id % 3}"),
          s"planted doc $id missing b${id % 3} in '$reason'")
    }
    // the verdict must SPLIT: plants (1 in 10) drop, the bulk of the
    // corpus keeps (word-8-grams don't collide naturally; d6's char
    // shingles flagged every doc — that contrast is d22's point)
    val kept = rows.values.count(_._3.isEmpty)
    assert(kept * 5 >= rows.size * 4, s"kept only $kept of ${rows.size}")
    assert(!"CartesianProduct".r.findAllIn(
      df.queryExecution.executedPlan.toString).hasNext)
  }

  test("d16 sweep is staged: warm runs admit-only, a stale marker forces the re-sweep") {
    val out1 = SparkEntry.queries("d16_manifest_admit")(spark, sf)
      .collect().toSet // ensure staged
    val stage = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_d16_" + StagePath.corpusToken(sf))
    val marker = stage.resolve("_src_meta")
    val current = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(current.contains(":" + dedup.Dedup.D16SweepVersion + ":"), current)
    // sentinel: an overwrite re-sweep clears the manifest directory,
    // a warm (admit-only) run leaves it untouched — no mtime races
    val probe = stage.resolve("fp_manifest").resolve("_graft_probe")
    java.nio.file.Files.write(probe, Array[Byte]())
    val warm = SparkEntry.queries("d16_manifest_admit")(spark, sf).collect().toSet
    assert(java.nio.file.Files.exists(probe), "warm run re-ran the sweep")
    assert(warm == out1, "warm admit diverged from the staging run")
    // a foreign sweep version must force the full re-sweep and restore
    // the current marker
    java.nio.file.Files.write(marker, current
      .replace(":" + dedup.Dedup.D16SweepVersion + ":", ":stale0:").getBytes("UTF-8"))
    val rebuilt = SparkEntry.queries("d16_manifest_admit")(spark, sf).collect().toSet
    assert(!java.nio.file.Files.exists(probe), "stale marker did not force a re-sweep")
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == current)
    assert(rebuilt == out1, "re-sweep changed the admit verdicts")
    // a missing manifest behind a current marker re-sweeps too
    val restaged = withoutArtifact(stage, "fp_manifest")(
      SparkEntry.queries("d16_manifest_admit")(spark, sf).collect().toSet)
    assert(restaged == out1, "re-staging a missing manifest changed the admit verdicts")
  }

  test("d16 admit stage reads parquet manifests with zero re-clustering lineage") {
    val df = SparkEntry.queries("d16_manifest_admit")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scans.count(_.contains("graft_d16")) >= 2,
      s"both staged manifests must be parquet scans:\n${scans.mkString("\n")}")
    // the only non-manifest source is the new batch itself: documents
    // scanned for the max-id scalar, the new-batch fingerprints, and
    // the new-batch signatures — never the corpus-side clustering
    // chain (whose star-contraction joins would multiply documents
    // scans well past this bound)
    assert(scans.size <= 5,
      s"admit stage must not re-derive the sweep, got ${scans.size} scans:\n${scans.mkString("\n")}")
    assert(!plan.contains("Window"), "admit stage must be window-free")
  }

  test("d4 result matches the definitional per-pair Jaccard") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("d4_ngram_jaccard")(spark, sf)
      .select("da", "db", "n_common").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // spot-check the top pair against a direct shingle-set intersection
    val (da, db, n) = got.head
    val docs = Tables.documents(spark, sf).filter(col("doc_id").isin(da, db))
      .select(col("doc_id"),
        expr("array_distinct(transform(sequence(1, length(text) - 4), i -> substring(text, i, 5)))").as("shs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((docs(da) intersect docs(db)).size.toLong == n)
  }

  test("d14 counts exactly the cross-doc repeated gram positions") {
    import spark.implicits._
    // k=5. Doc 1: 8 tokens -> 4 grams; its run "a b c d e" (positions
    // 1-2: grams starting at 'a' and... only position 1 opens the full
    // shared run; doc 2 embeds the SAME 5-token run, so exactly the
    // grams equal to "a b c d e" are cross-doc (df=2). Doc 1 grams:
    // [x1 x2 a b c], [x2 a b c d], [a b c d e], [b c d e x3] — only
    // the third is shared. Doc 2: [a b c d e, b c d e y1, ...]: only
    // the first. Doc 3 unique -> ratio 0. Doc 4 has 4 tokens -> absent.
    // Within-doc repetition (doc 3's doubled run) must NOT count:
    // df is DISTINCT docs.
    val corpus = Seq(
      (1L, "x1 x2 a b c d e x3"),
      (2L, "a b c d e y1 y2 y3"),
      (3L, "u1 u2 u3 u4 u5 u1 u2 u3 u4 u5"),
      (4L, "t1 t2 t3 t4"))
    withTempDir("d14span") { dir =>
      corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("d14_repeated_ngrams")(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
      assert(out.keySet == Set(1L, 2L, 3L), s"rows: ${out.keySet}")
      assert(out(1L) == ((4L, 1L), 0.25), s"doc1: ${out(1L)}")
      assert(out(2L) == ((4L, 1L), 0.25), s"doc2: ${out(2L)}")
      // doc 3: 6 grams, all df=1 (within-doc repeats excluded), but note
      // grams [u1..u5] at positions 1 and 6 are IDENTICAL strings — still
      // df=1 because both are in doc 3
      assert(out(3L)._1._1 == 6L && out(3L)._1._2 == 0L && out(3L)._2 == 0.0, s"doc3: ${out(3L)}")
    }
  }

  test("d17 Bloom prefilter: no false negatives; a tiny bitmap forces measurable FPs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def admit(dir: String): Map[Long, (Boolean, Boolean, Boolean)] =
      SparkEntry.queries("d17_bloom_admit")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    // 8,000 distinct history docs; new batch (ids > 10000 - 10000 div 5
    // = 8000): one exact dup of doc 7 + 1,999 genuinely new docs. 8,000
    // fps × 4 slices into the 16 Ki-bit bitmap set ~86% of its bits
    // (1 − e^(−32000/16384)), so the false-positive path genuinely
    // fires (deterministic: md5 is fixed)
    withTempDir("d17fp") { full =>
      spark.range(1L, 10001L).select(col("id").as("doc_id"),
          when(col("id") === 8001L, lit("existing document body number 7"))
            .when(col("id") <= 8000L, concat(lit("existing document body number "), col("id")))
            .otherwise(concat(lit("genuinely new content "), col("id"))).as("text"))
        .write.mode("overwrite").parquet(s"$full/documents.parquet")
      val out = admit(full)
      assert(out.keySet == (8001L to 10000L).toSet, s"new batch: ${out.size} rows")
      // the Bloom guarantee: an exact dup can NEVER be bloom-negative
      val (bm, ed, fp) = out(8001L)
      assert(bm && ed && !fp, s"dup row: ${out(8001L)}")
      // false_positive is definitionally bloom_maybe ∧ ¬exact_dup
      for ((id, (bm, ed, fp)) <- out)
        assert(fp == (bm && !ed), s"doc $id: bloom=$bm exact=$ed fp=$fp")
      val fps = out.values.count(_._3)
      assert(fps > 0, "expected false positives under a saturated bitmap")
      // a 40-doc history at the same width has zero FPs (m = 16 Ki bits
      // vs 160 set positions) — the sizing rule in action
      withTempDir("d17small") { small =>
        ((1L to 40L).map(i => (i, s"existing document body number $i")) ++
          Seq((41L, "existing document body number 7")) ++
          (42L to 50L).map(i => (i, s"genuinely new content $i")))
          .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$small/documents.parquet")
        val wide = admit(small)
        assert(wide.keySet == (41L to 50L).toSet && wide.values.count(_._3) == 0,
          s"small-history FPs: $wide")
      }
    }
  }

  test("per-row SimHash fold equals the batch explode signature on real corpus data") {
    import org.apache.spark.sql.functions._
    val batch = SparkEntry.queries("d3_simhash")(spark, sf)
      .select(col("doc_id"), col("simhash"))
    val perRow = Tables.documents(spark, sf)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), expr(graft.dedup.Dedup.RowSimhashSql).as("simhash"))
      .filter(col("simhash").isNotNull)
    assert(perRow.count() == batch.count())
    assert(perRow.except(batch).count() == 0 && batch.except(perRow).count() == 0,
      "per-row HOF signature diverged from the batch explode signature")
  }

  test("division-first batch split survives ids near Long.Max (no ANSI overflow)") {
    import spark.implicits._
    // the r9 rule `doc_id * 5 > mx * 4` multiplies before comparing and
    // throws ARITHMETIC_OVERFLOW under ANSI for ids > Long.Max/5; the
    // division-first form `doc_id > mx - mx div 5` is overflow-free and
    // keeps the same newest-~20% split
    val mx = Long.MaxValue
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "one two three"),
      (3L, "completely different corpus text"),
      (mx - 1, "alpha beta gamma"), // exact dup of existing doc 1
      (mx, "brand new content never seen"))
    withTempDir("d12max") { dir =>
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("d12_incremental_dedup")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getString(3))).toMap
      assert(out.keySet == Set(mx - 1, mx), s"new batch rows: ${out.keySet}")
      assert(out(mx - 1) == (false, "exact_dup"), s"${out(mx - 1)}")
      assert(out(mx) == (true, "admitted"), s"${out(mx)}")
    }
  }

  test("d12/d13 fire all admit paths; a copy of a DROPPED near-dup splits them") {
    import spark.implicits._
    // the driver testdata has no byte-identical dup pair (d1 groups are
    // all size 1), so the exact_dup branch never fires there — exercise
    // it with a constructed corpus. max id 20 → new batch = {17..20}
    // (doc_id > 20 - 20 div 5 = 16). Existing: docs 5/6 are char-gram near-dups that
    // cluster together (6 = 5's text + a punctuation tail, Jaccard
    // ≈ 0.87 ≥ 0.5); the tail only LOWERS 6's quality score (letter
    // ratio down, punct ratio up), so doc 5 is the keeper and 6 is
    // dropped — deterministically (quality ties would also break to
    // the min id). New batch: 17 copies doc 1 verbatim; 18 permutes
    // doc 2's words (same distinct token set → same SimHash, different
    // md5); 19 is fresh; 20 copies the DROPPED doc 6 verbatim.
    val keeperText = "the quick brown fox jumps over the lazy dog while the cat naps under the warm sun today"
    val droppedText = keeperText + " !!!!! ?????"
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven eight"),
      (3L, "completely unrelated corpus filler text body here"),
      (5L, keeperText),
      (6L, droppedText)) ++
      (Seq(4L, 7L, 8L, 9L, 10L, 11L, 12L, 13L, 14L, 15L, 16L))
        .map(i => (i, s"unique filler document number $i with its own words ${i * 31}"))
    val newBatch = Seq(
      (17L, "alpha beta gamma delta epsilon zeta"),
      (18L, "eight seven six five four three two one"),
      (19L, "genuinely novel content never seen in the corpus before"),
      (20L, droppedText))
    withTempDir("d12inc") { dir =>
      (existing ++ newBatch).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run(q: String): Map[Long, (Boolean, String)] =
        SparkEntry.queries(q)(spark, dir)
          .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getString(3))).toMap
      val d12 = run("d12_incremental_dedup")
      val d13 = run("d13_keeper_admit")
      // the persisted-manifest batch admission must reproduce d13's
      // decision byte-for-byte (same keepers, manifests via parquet)
      val d16 = run("d16_manifest_admit")
      assert(d16 == d13, s"d16 diverged from d13: $d16 vs $d13")
      // the streaming admission must reproduce the batch d12 decision
      // byte-for-byte (same manifests, per-row signature, same joins)
      val st9 = run("st9_stream_admit")
      assert(st9 == d12, s"st9 diverged from d12: $st9 vs $d12")
      // the streaming Bloom prefilter must reproduce d17's decision
      // byte-for-byte (persisted bitmap, per-row column probes)
      def runBloom(q: String): Map[Long, (Boolean, Boolean, Boolean)] =
        SparkEntry.queries(q)(spark, dir).collect()
          .map(r => r.getLong(0) ->
            ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
      val d17o = runBloom("d17_bloom_admit")
      val st10 = runBloom("st10_stream_bloom")
      assert(st10 == d17o, s"st10 diverged from d17: $st10 vs $d17o")
      // the verbatim copy (17) is exact-dup and MUST be bloom-positive
      assert(d17o(17L)._1 && d17o(17L)._2 && !d17o(17L)._3, s"17: ${d17o(17L)}")
      for ((name, out) <- Seq("d12" -> d12, "d13" -> d13)) {
        assert(out.keySet == Set(17L, 18L, 19L, 20L), s"$name new batch rows: ${out.keySet}")
        assert(out(17L) == (false, "exact_dup"), s"$name 17: ${out(17L)}")
        assert(out(18L) == (false, "near_dup"), s"$name 18: ${out(18L)}")
        assert(out(19L) == (true, "admitted"), s"$name 19: ${out(19L)}")
      }
      // the split: d12's manifest is the FULL history (doc 6's fingerprint
      // is in it → exact reject); d13's manifest is the deduped corpus
      // (6 was dropped; 16 is neither doc 5's fingerprint nor its SimHash
      // — the punctuation tokens change the distinct token set → admit)
      assert(d12(20L) == (false, "exact_dup"), s"d12 20: ${d12(20L)}")
      assert(d13(20L) == (true, "admitted"), s"d13 20: ${d13(20L)}")
    }
  }

  test("st10 re-stages a Bloom bitmap staged under another width") {
    // ADVICE r10 (medium): the _src_meta freshness marker must encode
    // the Bloom width — otherwise a bitmap staged under another width
    // is reused and st10 probes at the wrong modulus (wrong
    // bloom_maybe, including Bloom FALSE NEGATIVES).
    import spark.implicits._
    withTempDir("bloomw") { dir =>
      (1L to 20L).map(i => (i, s"bloom width regression doc $i body ${i * 17}"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def runBloom(q: String): Map[Long, (Boolean, Boolean, Boolean)] =
        SparkEntry.queries(q)(spark, dir).collect()
          .map(r => r.getLong(0) ->
            ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
      val marker = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        "graft_stream_docs_" + StagePath.corpusToken(dir), "_src_meta")
      def meta(): String = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
      runBloom("st10_stream_bloom")
      // the srcMeta payload ends with the corpus path (ADVICE r13); the
      // width token sits just before it
      assert(meta().endsWith(s":b14:$dir"), s"marker must encode the width: ${meta()}")
      // a marker left by a layout staged under another width is stale
      java.nio.file.Files.write(marker, meta().replace(s":b14:$dir", s":b6:$dir").getBytes("UTF-8"))
      val st10 = runBloom("st10_stream_bloom")
      assert(meta().endsWith(s":b14:$dir"), s"stale width did not force a re-stage: ${meta()}")
      // a missing bitmap behind a current marker re-stages too
      assert(withoutArtifact(marker.getParent, "bloom_manifest")(runBloom("st10_stream_bloom")) == st10,
        "re-staging a missing Bloom bitmap changed st10")
      // the persisted bitmap st10 probes matches d17's live build
      val d17 = runBloom("d17_bloom_admit")
      assert(st10 == d17, s"st10 diverged from d17: $st10 vs $d17")
    }
  }

  test("d18 semantic dedup: planted near-dups dominated by their source, blocked join, no window") {
    val df = SparkEntry.queries("d18_semdedup")(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0),
      r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    val (planted, orig) = rows.partition(_._1 >= 1000000L)
    assert(orig.length == 500 && planted.length == 50,
      s"expected 500 originals + 50 planted copies, got ${orig.length}/${planted.length}")
    // no original is ever flagged: dominance points planted -> source
    assert(orig.forall(!_._2), "an original was flagged as a semantic dup")
    // every FLAGGED planted copy names its exact source as dominator
    // (the corpus's natural pairwise cosine tops out far below tau)
    planted.filter(_._2).foreach { case (id, _, dupOf) =>
      assert(dupOf == id - 1000000L, s"planted $id dominated by $dupOf, not its source")
    }
    // LSH recall: a plant is missed ONLY when the perturbation flips a
    // sign-bucket bit; most survive (measured 45/50 at sf0.01)
    val found = planted.count(_._2)
    assert(found >= 40, s"semantic-dup recall collapsed: only $found/50 planted copies found")
    // plan: blocked shuffle join (never a corpus broadcast), no Window
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected the bucket-blocked shuffle join:\n$plan")
    assert(!plan.contains("Window"), s"dominance must be an aggregate, not a window:\n$plan")
  }
}
