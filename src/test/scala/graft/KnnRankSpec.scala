package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.sim.Knn

/** rankTopK's degenerate-vector contract (ADVICE r7): a zero-norm
  * embedding scores NaN cosine and must be DROPPED before ranking —
  * and the DuckDB oracles carry the same predicate, so the agreement
  * is by contract, not a property of the generated test corpus.
  */
class KnnRankSpec extends SparkSpec {

  test("zero-norm embedding is excluded by the norm guard; ranks stay contiguous") {
    import spark.implicits._
    // corpus with an injected zero vector (vec 2); query vector (1, 0).
    // Under ANSI mode (Spark 4 default) an unguarded cosine division
    // would THROW 0/0 — the s1/s2/s4 shape filters norm > 0 BEFORE the
    // division, which is what this replicates.
    val e = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(0f, 0f)), // zero norm: excluded by the guard
      (3L, Seq(0.6f, 0.8f)),
      (4L, Seq(-1f, 0f))
    ).toDF("vec_id", "embedding")
      .withColumn("norm_e", sqrt(VectorFunctions.dot("embedding", "embedding")))
      .filter(col("norm_e") > 0)
    val q = Seq((0L, Seq(1f, 0f))).toDF("q_id", "qe")
      .withColumn("norm_q", sqrt(VectorFunctions.dot("qe", "qe")))
      .filter(col("norm_q") > 0)
    val scored = q.crossJoin(e)
      .select(col("q_id"), col("vec_id"),
        (VectorFunctions.dot("qe", "embedding") / (col("norm_q") * col("norm_e"))).as("cos"))
    val out = sim.Knn.rankTopK(scored, 10, Seq.empty)
      .orderBy(col("rank"))
      .select(col("rank"), col("vec_id"), col("cos"))
      .collect()
    assert(!out.exists(_.getLong(1) == 2L), "zero-norm row must not be ranked")
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L), "ranks must stay contiguous")
    // (cos DESC, vec_id ASC): 1.0, 0.6, -1.0
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L, 4L))
  }

  test("rankTopK drops an injected NaN cosine (non-ANSI defense) and keeps one order") {
    import spark.implicits._
    val scored = Seq(
      (0L, 1L, 0.9), (0L, 2L, 0.0), (0L, 3L, 0.5)
    ).toDF("q_id", "vec_id", "cos")
      // inject NaN the way a non-ANSI session's 0/0 would produce it
      .withColumn("cos", when(col("vec_id") === 2L, lit(Double.NaN)).otherwise(col("cos")))
    val out = sim.Knn.rankTopK(scored, 2, Seq.empty)
      .orderBy(col("rank"))
      .select(col("rank"), col("vec_id")).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L),
      "NaN row must be dropped, not ranked greatest")
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("every similarity oracle mirrors the NaN/null filter") {
    for (name <- Seq("s1_knn_brute", "s2_ann_lsh", "s4_ivf_probe")) {
      val sql = SparkEntry.oracleSql(name)
      assert(sql.contains("NOT isnan(cos)") && sql.contains("cos IS NOT NULL"),
        s"$name oracle must carry the rankTopK NaN/null predicate")
    }
    // the recall oracles rank on BOTH sides (truth and approximate) —
    // each ranked subquery must carry the predicate independently, or a
    // zero-norm vector would count against recall on one side only
    for (name <- Seq("s5_ann_recall", "s6_ivf_recall", "s7_sq8_recall")) {
      val sql = SparkEntry.oracleSql(name)
      assert("NOT isnan\\(cos\\)".r.findAllIn(sql).size >= 2,
        s"$name oracle must carry the NaN predicate in both ranked subqueries")
      assert("cos IS NOT NULL".r.findAllIn(sql).size >= 2,
        s"$name oracle must carry the null predicate in both ranked subqueries")
    }
  }

  test("s8 Lloyd converges well under the loud cap and improves on per-label centroids") {
    import graft.operators.Spread._
    // lloyd throws unless its last round moved no centroid, so a
    // returned round count is a converged one
    val (assigned, _, rounds) = Knn.lloyd(Tables.embeddings(spark, sf).spreadToCores)
    // 13 rounds observed at sf0.001 from the per-label warm start — a
    // jump toward the 40-round cap is the deeper-structure regression
    assert(rounds <= 20, s"convergence depth grew: $rounds rounds")
    val cells = assigned.select(col("cell")).distinct().count()
    assert(cells == 10, s"learned cells collapsed: $cells")
    // the k-means objective (summed squared distance, exact nano-units)
    // must beat the per-label average centroids s3/s4 started from —
    // the quantitative case for LEARNING the IVF cells
    val learned = SparkEntry.queries("s8_kmeans")(spark, sf)
      .agg(sum(col("sum_dist_nano"))).head().getLong(0)
    val perLabel = SparkEntry.queries("s3_ivf_cells")(spark, sf)
      .agg(sum(round(col("dist") * 1e9).cast("long"))).head().getLong(0)
    assert(learned < perLabel,
      s"learned objective $learned did not improve on per-label $perLabel")
  }

  test("learned-cell IVF probe beats per-label cells on recall@5 at equal nprobe") {
    // the s6 re-measurement over LEARNED cells (deterministic at
    // sf0.001): per-label cells give mean recall 0.28 at nprobe=2 (s6);
    // Lloyd-refined cells give 0.40 at the same probe budget — the
    // quantitative case that training the index buys recall, not just a
    // lower objective. (An earlier cold-seeded k=8 variant measured
    // 0.80 here — an artifact of lopsided cells where nprobe=2 scanned
    // most of the corpus; balanced learned cells make the probe budget
    // mean what IVF intends.)
    val learned = sim.Knn.learnedProbeRecall(spark, sf)
      .agg(avg(col("recall"))).head().getDouble(0)
    val perLabel = SparkEntry.queries("s6_ivf_recall")(spark, sf)
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(learned > perLabel,
      f"learned cells no longer beat per-label at equal nprobe: $learned%.4f vs $perLabel%.4f")
    assert(learned >= 0.39, f"learned-cell probe recall degraded: $learned%.4f")
  }

  test("s17 incremental append = from-scratch union search; base index immutable") {
    // ensure the base index exists, then fingerprint it
    SparkEntry.queries("s11_ivf_persist")(spark, sf).collect()
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_ivfindex_" + StagePath.corpusToken(sf))
    val baseBefore = java.nio.file.Files
      .getLastModifiedTime(dir.resolve("lists")).toMillis
    val inc = SparkEntry.queries("s17_ivf_incremental")(spark, sf).collect().toSeq
    // frozen centroids make assignment per-vector independent, so
    // incremental == from-scratch EXACTLY, not approximately
    val scratch = sim.Knn.s17FromScratch(spark, sf).collect().toSeq
    assert(inc == scratch,
      "delta-segment search diverged from re-indexing the union")
    // the delta segment is actually searched: query 0's planted
    // near-copy (vec 1000000, a 1e-3 perturbation of q0 itself) must
    // take rank 1 with near-unit cosine — the corpus's max natural
    // pairwise cosine is ~0.51, so nothing else can outrank it
    val q0 = inc.filter(_.getAs[Long]("q_id") == 0L)
      .minBy(_.getAs[Long]("rank"))
    assert(q0.getAs[Long]("vec_id") == 1000000L, s"rank 1 for q0: $q0")
    assert(q0.getAs[Double]("cos") > 0.99)
    // append-only contract: the batch never rewrites the base artifact
    val baseAfter = java.nio.file.Files
      .getLastModifiedTime(dir.resolve("lists")).toMillis
    assert(baseAfter == baseBefore, "s17 mutated the shared base index")
  }

  test("s12 range hits are a subset of the brute τ-truth and s13 measures exactly that") {
    val e = Tables.embeddings(spark, sf)
      .withColumn("norm_e", sqrt(VectorFunctions.dot("embedding", "embedding")))
      .filter(col("norm_e") > 0)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("norm_e").as("norm_q"))
    val tru = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (VectorFunctions.dot("qe", "embedding") / (col("norm_q") * col("norm_e"))).as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= Knn.RangeTau)
      .select(col("q_id"), col("vec_id"))
    val hits = SparkEntry.queries("s12_range_search")(spark, sf)
    // the IVF range path verifies candidates EXACTLY, so every hit is
    // a true τ-neighbor (no false positives — only boundary-shell
    // misses are possible); every returned cos clears the threshold
    assert(hits.filter(col("cos") < Knn.RangeTau).isEmpty)
    assert(hits.join(tru, Seq("q_id", "vec_id"), "left_anti").isEmpty,
      "s12 returned a pair the brute τ-scan does not contain")
    // s13's n_found therefore counts |s12| per query, and recall ≤ 1
    val rec = SparkEntry.queries("s13_range_recall")(spark, sf).collect()
    val perQ = hits.groupBy(col("q_id")).count().collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("count")).toMap
    rec.foreach { r =>
      val qid = r.getAs[Long]("q_id")
      assert(r.getAs[Long]("n_found") == perQ.getOrElse(qid, 0L))
      assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
    }
  }

  test("s22 filters FIRST then ranks — full k among admissible, and post-filtering s4 would differ") {
    import org.apache.spark.sql.functions._
    val admissible = Tables.embeddings(spark, sf)
      .filter(expr(graft.sim.Knn.FilterPredSql))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val s22 = SparkEntry.queries("s22_filtered_search")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"), r.getAs[Long]("vec_id")))
    // every hit is admissible, and ranks are dense from 1 per query
    assert(s22.forall { case (_, _, v) => admissible(v) })
    s22.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq, s"q$q ranks not dense")
    }
    // the trap this operator exists to avoid: post-filtering the
    // UNfiltered top-5 (s4) underfills and/or returns a different set
    val s4Post = SparkEntry.queries("s4_ivf_probe")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .filter { case (_, v) => admissible(v) }
    val s22Set = s22.map(r => (r._1, r._3)).toSet
    assert(s4Post.toSet != s22Set,
      "post-filtered s4 equals s22 on this corpus — the filter-first distinction is untested")
    assert(s4Post.groupBy(_._1).values.map(_.size).min < 5,
      "post-filtering never underfilled k — pick a more selective predicate")
  }

  test("s24 curve: recall monotone, cost strictly increasing, nprobe=2 point equals s6") {
    val curve = SparkEntry.queries("s24_nprobe_curve")(spark, sf).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_scored"),
        r.getAs[Long]("n_found"), r.getAs[Double]("recall")))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == (1L to 4L).toSeq)
    // depth N's candidate pool contains depth N-1's — recall cannot
    // fall and the examined-pair count strictly grows
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 >= a._4, s"recall fell ${a._1}->${b._1}")
      assert(b._2 > a._2, s"n_scored not increasing ${a._1}->${b._1}")
    }
    // the curve's nprobe=2 point IS s6's single-point measurement
    val s6Found = SparkEntry.queries("s6_ivf_recall")(spark, sf).collect()
      .map(_.getAs[Long]("n_found")).sum
    assert(curve.find(_._1 == 2L).get._3 == s6Found,
      "s24's nprobe=2 n_found != s6's aggregate — the two measure different indexes")
  }

  test("s26 index health cross-pins to s3's registered assignments") {
    val health = SparkEntry.queries("s26_index_health")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getDouble(2), r.getLong(3)))
    val s3rows = SparkEntry.queries("s3_ivf_cells")(spark, sf).collect()
      .map(r => (r.getAs[Number](2).longValue, r.getDouble(3))) // (assigned_cell, dist)
    val byCell = s3rows.groupBy(_._1)
    val nTotal = s3rows.length.toLong
    val nCells = health.length.toLong
    // every cell reports exactly once and the masses recompute from s3
    health.foreach { case (cell, nVecs, ratio, sqNano) =>
      val assigned = byCell.getOrElse(cell, Array.empty[(Long, Double)])
      assert(nVecs == assigned.length.toLong, s"cell $cell occupancy")
      assert(ratio == (nVecs * nCells).toDouble / nTotal, s"cell $cell ratio")
      assert(sqNano == assigned.map(t => math.round(t._2 * 1e9)).sum, s"cell $cell error mass")
    }
    // conservation: occupancies partition the corpus; ratios average 1
    assert(health.map(_._2).sum == nTotal)
    assert(math.abs(health.map(_._3).sum / nCells - 1.0) < 1e-9)
    // the report differentiates on this corpus (hot vs cold cells)
    assert(health.map(_._3).max > health.map(_._3).min,
      "all cells identically occupied — imbalance signal vacuous")
  }
}
