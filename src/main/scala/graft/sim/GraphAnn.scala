package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QFn, Tables}
import graft.functions.VectorFunctions
import graft.plans.TopK
import graft.operators.Spread._

/** Graph-based ANN (s27/s28) — the neighbor-graph index family
  * (HNSW/NSG/DiskANN-class; Malkov & Yashunin 2016, arXiv:1603.09320;
  * NN-descent: Dong, Moses & Li 2011, WWW '11) re-expressed as bounded
  * relational passes, closing the one major ANN family the engine
  * lacked (VERDICT r17 "What's missing" #2: IVF/PQ cover the FAISS
  * production shape; the graph family is the other half of the ANN
  * literature).
  *
  * INDEX BUILD ([[graphEdges]]): a k-NN GRAPH (G = 16 out-edges per
  * vector, exact cosine, ties by neighbor id) built in two bounded
  * stages —
  *   1. candidate generation from an LSH FOREST: 4 independent 8-bit
  *      sign bucketings over disjoint dim subsets ([[Tables4]] — the
  *      same equi-join discipline as s2, work bounded by 4·Σ bucket²;
  *      never all-pairs), ranked to a provisional top-G per node
  *      through TopKPerKey's partial+final bounded heaps. ONE table is
  *      not enough: same-bucket is transitive, so a single-table
  *      initial graph is bucket-CONFINED and NN-descent composition
  *      can never cross a bucket wall (the first draft measured
  *      recall@10 = 0.0 exactly this way); the forest's cross-table
  *      edges are what composition navigates along.
  *   2. ONE NN-descent refinement round (the Dong et al. step):
  *      compose the provisional graph with itself
  *      (neighbors-of-neighbors — ≤ G² candidates per node), union
  *      the forest pairs, dedup the PAIR SET before scoring (each
  *      pair scores exactly once, in one place — the cross-engine
  *      determinism rule), re-rank to the final top-G.
  * Both stages are equi-joins + bounded heaps: no all-pairs, no
  * window over a corpus-sized partition, and the one-time build cost
  * amortizes over every query served (the index contract s11 pins for
  * IVF).
  *
  * QUERY (s27): seed with the union of the query's 4 forest buckets
  * (top-S = 16 by exact cosine — s2's probe, forest edition), then
  * navigate: expand TWO hops along graph out-edges (≤ S·G + S·G²
  * candidate ids — a few hundred, INDEPENDENT of corpus size), dedup,
  * re-rank candidates by exact cosine, emit top-10 in s1's shape.
  * That corpus-size-independent candidate set is the graph family's
  * whole promise: s2 scans a bucket that grows with n/2^bits and s4
  * scans nprobe/ncells of the corpus, while the graph walk touches
  * O(S·G²) vectors wherever n goes — the exchange rate is the
  * one-time index build.
  *
  * Determinism: cosine is [[VectorFunctions.dot]]'s sequential fold
  * (bit-identical in DuckDB's list_reduce — the d5/s1 contract); every
  * ranking breaks ties (cos DESC, id ASC); zero-norm vectors are
  * excluded before any division (the s1 ANSI guard, mirrored in the
  * oracle's isnan predicate). The oracle replays the ENTIRE pipeline —
  * bucket pairs, NN-descent round, two-hop walk — in SQL windows, so
  * the driver hash-checks the index and the navigation, not just the
  * output shape.
  *
  * RECALL CONTRACT (s28): recall@10 per query against s1's brute
  * truth — the measured-accuracy rule every index family here ships
  * with (s5 LSH, s6 IVF, s13 range, s23 filtered); GraphAnnSpec
  * additionally proves the NAVIGATION EARNS ITS KEEP: graph recall
  * strictly exceeds the seeds-only recall on this corpus (the
  * inject-then-measure discipline — a graph whose hops never add a
  * neighbor is a vacuous index).
  */
object GraphAnn {

  /** Out-degree of the k-NN graph. */
  private val G = 16

  /** Seeds taken from the query's LSH-forest buckets before navigation. */
  private val S = 16

  /** The LSH FOREST's hash tables: 4 independent 8-bit sign bucketings
    * over DISJOINT dim subsets (table t reads dims 1+2t, 9+2t, …,
    * 57+2t). One table would make the initial graph bucket-CONFINED —
    * same-bucket is transitive, so NN-descent composition could never
    * cross a bucket wall and the walk would reduce to the bucket scan
    * (measured: recall@10 = 0.0 on the single-table draft). Cross-table
    * links are what give the composed graph its long-range edges —
    * the multi-table trick every LSH-seeded graph build uses. */
  private val Tables4: Seq[Seq[Int]] =
    (0 until 4).map(t => (0 until 8).map(i => 1 + 2 * t + i * 8))

  /** Forest-bucket + norm decoration for any (vec_id, embedding)
    * relation — shared by the base corpus and s29's arriving batch. */
  private def bucketize(df: DataFrame): DataFrame = {
    val withBuckets = Tables4.zipWithIndex.foldLeft(df) {
      case (acc, (dims, t)) =>
        acc.withColumn(s"bucket$t", VectorFunctions.signBucket("embedding", dims))
    }
    withBuckets
      .withColumn("norm_e", sqrt(VectorFunctions.dot("embedding", "embedding")))
      .filter(col("norm_e") > 0)
  }

  /** Normalized corpus with the 4 table buckets — s2's base relation,
    * forest edition. */
  private def base(s: SparkSession, d: String): DataFrame =
    bucketize(Tables.embeddings(s, d)
      .spreadToCores)

  /** The columns every bucketed corpus relation carries. */
  private val BCols: Seq[String] =
    Seq("vec_id", "embedding", "norm_e") ++ Tables4.indices.map(t => s"bucket$t")

  /** Exact cosine for a (src, dst) pair relation carrying both
    * embeddings+norms; output (src, dst, cos). */
  private def scorePairs(pairs: DataFrame): DataFrame =
    pairs.select(col("src"), col("dst"),
      (VectorFunctions.dot("se", "de") / (col("sn") * col("dn"))).as("cos"))

  /** Attach both endpoints' embeddings to an id-pair relation. */
  private def attach(idPairs: DataFrame, b: DataFrame): DataFrame =
    idPairs
      .join(b.select(col("vec_id").as("src"), col("embedding").as("se"),
        col("norm_e").as("sn")), Seq("src"))
      .join(b.select(col("vec_id").as("dst"), col("embedding").as("de"),
        col("norm_e").as("dn")), Seq("dst"))

  /** Per-bucket PIVOT cap (the d2 stop-bucket discipline applied to
    * the graph build): each bucket contributes pairs member × pivot
    * where pivots are the B smallest vec_ids in the bucket — pair
    * work is 4·n·B (LINEAR in n) instead of 4·Σ bucket² (quadratic in
    * occupancy, which is what the sf1 gate would otherwise measure as
    * the corpus grows past ~B per bucket). B = 16 does not bind at
    * sf0.1 (occupancy ~8, so the pair set — and recall/parity — is
    * unchanged there); at sf1 (~78/bucket) it caps the build while
    * NN-descent's composition recovers reach. Pivot selection is a
    * bounded heap per bucket (TopKPerKey on negated id), never a
    * bucket-sized window. */
  private val B = 16

  /** Table t's pivot set over a bucketed corpus: the B smallest
    * vec_ids per bucket, via a bounded heap (never a bucket-sized
    * window). Output (dst, bk). */
  private def pivotsFor(b: DataFrame, t: Int): DataFrame =
    TopK.perKey(
        b.select(col("vec_id"), col(s"bucket$t").as("bk"),
          (-col("vec_id")).as("nv")),
        Seq("bk"), "nv", "vec_id", B)
      .select(col("vec_id").as("dst"), col("bk"))

  /** Same-bucket (member, pivot) id pairs across all forest tables,
    * deduped. `srcFilter` (s29) restricts the MEMBER side before the
    * pivot join, so the enumeration scales with the touched set, not
    * the corpus. */
  private def forestPairs(b: DataFrame, srcFilter: Option[DataFrame] = None): DataFrame =
    Tables4.indices.map { t =>
      val allMembers = b.select(col("vec_id").as("src"), col(s"bucket$t").as("bk"))
      val members = srcFilter.fold(allMembers)(f =>
        allMembers.join(f.select(col("vec_id").as("src")), Seq("src"), "leftsemi"))
      members.join(pivotsFor(b, t), Seq("bk"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
    }.reduce(_ union _).distinct()

  /** Both build stages over a bucketed corpus: (g0 — the provisional
    * forest-ranked graph, (src, dst); edges — the final NN-descent-
    * refined top-G, (src, dst, cos)). g0 is exposed (and persisted by
    * [[ensureGraphIndex]]) because s29's incremental maintenance needs
    * it: a node's FINAL candidate set composes through g0, so deciding
    * which nodes a batch touches requires the provisional graph, not
    * just the final one. */
  private def graphStages(b: DataFrame): (DataFrame, DataFrame) = {
    // stage 1: forest-bucket-bounded candidate pairs -> provisional
    // top-G (pairs carry ids only; each pair scores exactly once)
    val bucketPairs = forestPairs(b)
    val g0 = TopK.perKey(
      scorePairs(attach(bucketPairs, b)).filter(col("cos").isNotNull && !isnan(col("cos"))),
      Seq("src"), "cos", "dst", G)
    // stage 2: one NN-descent round — neighbors-of-neighbors (the
    // cross-table edges make composition reach past any one table's
    // bucket wall), then the pair SET (forest ∪ composed, deduped)
    // scores once and re-ranks
    val composed = g0.select(col("src"), col("dst").as("mid"))
      .join(g0.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val pairSet = bucketPairs.union(composed).distinct()
    val edges = TopK.perKey(
      scorePairs(attach(pairSet, b)).filter(col("cos").isNotNull && !isnan(col("cos"))),
      Seq("src"), "cos", "dst", G)
      .select(col("src"), col("dst"), col("cos"))
    (g0.select(col("src"), col("dst")), edges)
  }

  /** The final G-out-degree neighbor graph (src, dst, cos). */
  private[graft] def graphEdges(s: SparkSession, d: String): DataFrame =
    graphStages(base(s, d))._2

  /** Query-side candidate ids from the forest: the union of the
    * query's 4 table buckets, exact-cosine scored. */
  private def forestCands(b: DataFrame, q: DataFrame): DataFrame =
    Tables4.indices.map { t =>
      broadcast(q.select(col("q_id"), col(s"bucket$t").as("bk"),
          col("qe"), col("norm_q")))
        .join(b.select(col("vec_id"), col(s"bucket$t").as("bk"),
          col("embedding"), col("norm_e")), Seq("bk"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (VectorFunctions.dot("qe", "embedding") / (col("norm_q") * col("norm_e"))).as("cos"))
    }.reduce(_ union _)
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .distinct()

  /** Logic-version token for the staged graph index: bumped whenever
    * the build's parameters or algorithm change so a stale artifact
    * re-stages instead of being served. Encodes T/G/S/B. graphann3:
    * the index also persists the PROVISIONAL graph g0 (s29's
    * incremental maintenance composes through it). */
  private val GraphIndexVersion = s"graphann3_t4_g${G}_s${S}_b$B"

  /** Version token for s29's staged delta segment. Its marker also
    * folds in the base index version: a base re-stage invalidates
    * deltas computed against it. */
  private val GraphDeltaVersion = "graphdelta1"

  /** The persisted graph index: the one-time build ([[graphEdges]])
    * lands as a parquet edge list, staged by [[graft.StagePath.staged]],
    * and every query run READS the index instead of rebuilding it —
    * which is the entire economics of the graph family (build once,
    * navigate cheaply forever). */
  private def ensureGraphIndex(s: SparkSession, d: String): java.nio.file.Path =
    graft.StagePath.staged(s, "graphindex", d, Seq("embeddings.parquet"),
        GraphIndexVersion, Seq("g0", "edges")) { st =>
      val (g0, edges) = graphStages(base(s, d))
      st.write("g0")(p => g0.write.parquet(p.toString))
      st.write("edges")(p => edges.write.parquet(p.toString))
    }

  /** The graph walk over an arbitrary (corpus, edge list): seeds from
    * the query's forest buckets, two hops along out-edges, exact
    * re-rank — s27's navigation, shared with s29's incrementally
    * maintained index.
    *
    * `pred` (s31): an optional metadata predicate on the RESULT side.
    * Navigation stays UNFILTERED — inadmissible nodes still route
    * (drop them from the walk and the graph fragments under selective
    * filters: the seeds lose reach and two hops cover less of the
    * admissible region — the standard filtered-HNSW design point), so
    * the predicate applies at the exact re-rank over the walk's
    * candidate pool.
    *
    * `hops` (s31): filtered queries walk ONE HOP DEEPER — the
    * filtered-HNSW over-fetch rule (ef scales with 1/selectivity made
    * structural: each hop multiplies the reachable pool by the graph's
    * expansion factor, so depth+1 over-fetches a 50% predicate with
    * room to spare). Measured: 2 hops left q0's filtered recall at
    * 0.4 at sf0.01 — the true filtered top-10 reaches past the 2-hop
    * frontier once half the near neighbors are inadmissible; 3 hops
    * clear the 0.5 floor everywhere. The candidate bound becomes
    * ≤ S·(G+G²+G³) — still corpus-size-INDEPENDENT, the family's
    * promise. */
  private def walk(b: DataFrame, edges: DataFrame,
      pred: Option[org.apache.spark.sql.Column] = None,
      hops: Int = 2): DataFrame = {
    val q = queryFrame(b)
    // pred drops inadmissible candidates AFTER navigation, before
    // ranking, so the filtered top-k never underfills against a
    // filtered truth
    rerank(pred.fold(b)(p => b.filter(p)), q, walkCands(b, q, edges, hops), 10)
  }

  /** The query frame over a bucketed corpus: (q_id, qe, norm_q, forest
    * buckets). */
  private def queryFrame(b: DataFrame): DataFrame =
    b.filter(col("vec_id") < 5)
      .select((Seq(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("norm_e").as("norm_q")) ++
        Tables4.indices.map(t => col(s"bucket$t"))): _*)

  /** The walk's candidate set (q_id, vec_id): top-S forest seeds +
    * `hops` hops along out-edges — ≤ S·Σ G^h ids per query,
    * corpus-size-INDEPENDENT. Shared by the exact re-rank (s27/s31
    * class) and s33's ADC-scored pruning. */
  private def walkCands(b: DataFrame, q: DataFrame, edges: DataFrame,
      hops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // r20 (guide §2.4 remove shuffles outright): each frontier is
    // MATERIALIZED once (localCheckpoint — the propagateMinLabels
    // discipline). The lazy form re-planned the whole seed subtree
    // (forestCands' 4-way corpus join + bounded heaps) under every
    // hop's broadcast, so the union of frontiers executed seeds
    // hops+1 times and hop h re-executed hops 1..h-1 (profiled at
    // sf0.1/32c: s27 20 jobs / 335 tasks for a 2-hop walk over 5
    // standing queries). Frontiers are ≤ S·G^h rows per query by
    // construction — corpus-size-INDEPENDENT — so the checkpoint is
    // metadata-sized at any scale.
    val seeds = TopK.perKey(forestCands(b, q), Seq("q_id"), "cos", "vec_id", S)
      .select(col("q_id"), col("vec_id"))
      .localCheckpoint()
    // r19: the frontier is always the broadcast side (guide §3.1) —
    // the edge list is corpus-scale, the frontier is not. The hint
    // pins the only shape that survives 100 TB: stream the edges,
    // broadcast the walk.
    val hopFrontiers = Iterator.iterate(seeds) { frontier =>
      broadcast(frontier).join(e, frontier("vec_id") === e("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
        .localCheckpoint()
    }.take(hops + 1).toSeq
    hopFrontiers.reduce(_ union _).distinct()
      .filter(col("q_id") =!= col("vec_id"))
  }

  /** Exact-cosine re-rank of a bounded (q_id, vec_id) candidate set to
    * top-`k` in s1's output shape — candidate embeddings come from
    * `b` (pre-filtered by the caller for s31's predicate). */
  private def rerank(b: DataFrame, q: DataFrame, cands: DataFrame,
      k: Int): DataFrame = {
    val rescored = cands
      .join(b.select(col("vec_id"), col("embedding"), col("norm_e")), Seq("vec_id"))
      .join(broadcast(q.select(col("q_id"), col("qe"), col("norm_q"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (VectorFunctions.dot("qe", "embedding") / (col("norm_q") * col("norm_e"))).as("cos"))
    Knn.rankTopK(rescored, k, Seq.empty)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The persisted final edge relation — the staged-index read every
    * non-incremental consumer (s27/s31/s33) navigates; also the
    * plan-shape spec's hook for pinning that the graph is READ, not
    * rebuilt inline (r20: the walk's frontier materialization moved
    * this scan out of the final rerank plan). */
  private[graft] def stagedEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureGraphIndex(s, d).resolve("edges").toString)

  /** s27: graph-navigated ANN top-10 per query, s1's output shape. */
  private def s27(s: SparkSession, d: String): DataFrame =
    walk(base(s, d), stagedEdges(s, d))

  /** s28: recall@10 of the graph walk vs s1's brute truth. */
  private def s28(s: SparkSession, d: String): DataFrame = {
    val tru = Knn.rankTopK(Knn.bruteScored(s, d), 10, Seq.empty)
      .select(col("q_id"), col("vec_id"))
    Knn.recallVs(tru, s27(s, d).select(col("q_id"), col("vec_id")))
  }

  /** Seeds-only variant (no navigation) for GraphAnnSpec's
    * the-hops-earn-their-keep comparison: top-10 from the S bucket
    * seeds alone would be < 10 candidates, so this ranks the FULL
    * bucket (s2's scan) — the no-graph baseline the walk must beat
    * by reaching across bucket walls. */
  private[graft] def s28SeedsOnly(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val q = b.filter(col("vec_id") < 5)
      .select((Seq(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("norm_e").as("norm_q")) ++
        Tables4.indices.map(t => col(s"bucket$t"))): _*)
    val tru = Knn.rankTopK(Knn.bruteScored(s, d), 10, Seq.empty)
      .select(col("q_id"), col("vec_id"))
    Knn.recallVs(tru,
      Knn.rankTopK(forestCands(b, q), 10, Seq.empty).select(col("q_id"), col("vec_id")))
  }

  // ---------------------------------------------------------------
  // s29: incremental graph-index maintenance (VERDICT r18 "What's
  // missing" #2 / "Next round" #6) — batch APPEND to the persisted
  // neighbor graph without a wholesale rebuild, the d20/s17
  // incremental-admission discipline applied to the graph family.
  // ---------------------------------------------------------------

  /** The arriving batch: s17's planted derivation verbatim (every
    * 10th vector perturbed ±2e-3/dim, re-keyed past the corpus so
    * batch ids are provably disjoint AND larger than every base id —
    * which the pivot-delta argument below leans on). */
  private def plantedBatch(s: SparkSession, d: String): DataFrame =
    bucketize(Tables.embeddings(s, d)
      .filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr(Knn.PerturbedBatchExpr).as("embedding")))

  /** Base ∪ batch, bucketed — the union corpus the maintained index
    * serves. */
  private def unionCorpus(s: SparkSession, d: String): DataFrame = {
    val cols = BCols.map(col)
    base(s, d).select(cols: _*).unionByName(plantedBatch(s, d).select(cols: _*))
  }

  /** The incrementally maintained edge relation: persisted base edges
    * for every node the batch provably cannot touch, recomputed edges
    * for the TOUCHED set T1 — and the two are EXACTLY the full
    * rebuild, node for node (GraphAnnSpec asserts label-for-label
    * equality; stronger than d20's star-contraction argument, the
    * s17 exactness class).
    *
    * Why T1 is sufficient (the proof the spec executes): a node's
    * final candidate set is bucketPairs(src) ∪ g0(g0(src)).
    *  - Pivots are the B SMALLEST ids per bucket and batch ids are
    *    all LARGER than every base id, so the batch can only ADD
    *    pivots (to buckets still under B members, or brand-new
    *    buckets) — never displace one. bucketPairs(src) therefore
    *    changes iff src is a batch node or src shares a (table,
    *    bucket) with a NEW pivot: that set is T0.
    *  - g0(src) changes only if bucketPairs(src) did (g0 ranks
    *    exactly those pairs): src ∈ T0.
    *  - The composed candidates g0(g0(src)) change only if g0(src)
    *    changed (src ∈ T0) or some out-neighbor mid ∈ g0(src) has
    *    g0(mid) changed (mid ∈ T0): that closure is
    *    T1 = T0 ∪ {src : g0_U(src) ∩ T0 ≠ ∅}.
    * For src ∉ T1 both unions are unchanged relations over unchanged
    * scores — the persisted edges ARE the rebuild's answer.
    *
    * Scale: everything EXPENSIVE (the 64-dim cosine scoring, the
    * NN-descent composition) runs only for T1 — the batch plus its
    * one-hop g0 in-neighborhood plus under-filled-bucket cohabitants,
    * independent of corpus size for a bounded batch. The id-only
    * plumbing (pivot heaps, the T0/T1 semi-joins) is one linear pass
    * over (vec_id, bucket) pairs — the same metadata class as d12's
    * manifest probe, with no embedding bytes shuffled. A wholesale
    * rebuild re-scores 4·n·B + n·G² pairs; maintenance re-scores
    * O(|T1|·(B + G²)).
    */
  private[graft] def incrementalEdges(s: SparkSession, d: String): DataFrame = {
    val idx = ensureGraphIndex(s, d)
    val delta = ensureGraphDelta(s, d, idx)
    val edgesBase = s.read.parquet(idx.resolve("edges").toString)
    val replaced = s.read.parquet(delta.resolve("replaced").toString)
    edgesBase.join(replaced, Seq("src"), "left_anti")
      .unionByName(s.read.parquet(delta.resolve("edges").toString))
  }

  /** Stages s29's delta segment beside (never inside) the immutable
    * base index: `replaced` — the touched node set T1 (one column,
    * src); `edges` — the recomputed final top-G for exactly those
    * nodes. */
  private def ensureGraphDelta(s: SparkSession, d: String,
      idx: java.nio.file.Path): java.nio.file.Path =
    graft.StagePath.staged(s, "graphdelta", d, Seq("embeddings.parquet"),
        GraphIndexVersion + ":" + GraphDeltaVersion, Seq("replaced", "edges")) { st =>
      val bBase = base(s, d)
      val batch = plantedBatch(s, d)
      val bU = unionCorpus(s, d)
      // new pivots per table: U's pivot set minus the base's (removal
      // is impossible — batch ids are larger, see scaladoc)
      val newPivotBuckets = Tables4.indices.map { t =>
        pivotsFor(bU, t).except(pivotsFor(bBase, t)).select(col("bk")).distinct()
          .withColumn("t", lit(t))
      }.reduce(_ unionByName _)
      // T0: batch nodes + base members sharing a (table, bucket) with
      // a new pivot
      val cohabitants = Tables4.indices.map { t =>
        bU.select(col("vec_id"), col(s"bucket$t").as("bk"))
          .join(broadcast(newPivotBuckets.filter(col("t") === t).select("bk")), Seq("bk"))
          .select(col("vec_id"))
      }.reduce(_ union _)
      val t0 = batch.select(col("vec_id")).union(cohabitants).distinct()
      stageDelta(s, idx, st, bU, t0, drop = batch.select(col("vec_id")).limit(0))
    }

  /** The shared delta computation (s29 append / s30 delete): given the
    * post-change corpus `bU`, the first-order touched set `t0` (every
    * node whose forest PAIR set changed), and the `drop` set (nodes
    * leaving the index entirely — empty for appends), computes the
    * exact closure T1 and stages (replaced = T1 ∪ drop, edges = the
    * recomputed final top-G for T1 over bU). Scoring and composition
    * run only for T0/T1 — the whole point of maintenance. */
  private def stageDelta(s: SparkSession, idx: java.nio.file.Path,
      st: graft.StagePath.Build,
      bU: DataFrame, t0: DataFrame, drop: DataFrame): Unit = {
    val g0Base = s.read.parquet(idx.resolve("g0").toString)
    // provisional graph over U: recompute for T0; reuse g0 elsewhere
    // (dropped nodes leave g0 entirely — and for src outside T0 ∪ drop
    // no g0 out-neighbor can be dropped: a dropped dst was a pivot in
    // a shared bucket, which would have put src in T0)
    val pairsT0 = forestPairs(bU, srcFilter = Some(t0))
    val g0Touched = TopK.perKey(
      scorePairs(attach(pairsT0, bU))
        .filter(col("cos").isNotNull && !isnan(col("cos"))),
      Seq("src"), "cos", "dst", G)
      .select(col("src"), col("dst"))
    val g0U = g0Base
      .join(t0.union(drop).distinct().withColumnRenamed("vec_id", "src"),
        Seq("src"), "left_anti")
      .select(col("src"), col("dst"))
      .union(g0Touched)
    // T1: T0 plus every node with a g0 out-neighbor in T0
    val t1 = t0.union(
      g0U.join(t0.withColumnRenamed("vec_id", "dst"), Seq("dst"), "leftsemi")
        .select(col("src").as("vec_id"))).distinct()
    // recompute the final top-G for exactly T1: forest pairs (T1
    // members × U pivots) ∪ composed pairs through g0_U
    val pairsT1 = forestPairs(bU, srcFilter = Some(t1))
    val composedT1 = g0U
      .join(t1.withColumnRenamed("vec_id", "src"), Seq("src"), "leftsemi")
      .select(col("src"), col("dst").as("mid"))
      .join(g0U.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val pairSetT1 = pairsT1.union(composedT1).distinct()
    val edgesT1 = TopK.perKey(
      scorePairs(attach(pairSetT1, bU))
        .filter(col("cos").isNotNull && !isnan(col("cos"))),
      Seq("src"), "cos", "dst", G)
      .select(col("src"), col("dst"), col("cos"))
    st.write("replaced")(p => t1.union(drop).distinct().select(col("vec_id").as("src"))
      .write.parquet(p.toString))
    st.write("edges")(p => edgesT1.write.parquet(p.toString))
  }

  /** The from-scratch comparator for GraphAnnSpec: one wholesale
    * [[graphStages]] build over the union corpus — no staging, no
    * delta. Incremental must equal this EXACTLY, edge for edge. */
  private[graft] def s29FromScratchEdges(s: SparkSession, d: String): DataFrame =
    graphStages(unionCorpus(s, d))._2

  /** s29: the s27 walk served by the incrementally maintained index
    * over base ∪ batch — the registered query (s17's probe-the-
    * maintained-index shape). */
  private def s29(s: SparkSession, d: String): DataFrame =
    walk(unionCorpus(s, d), incrementalEdges(s, d))

  // ---------------------------------------------------------------
  // s30: DELETE maintenance — the retirement sibling of s29's
  // admission, and the production request every vector index
  // eventually gets (a GDPR erasure, a licensing takedown, a
  // quarantined source): remove a vector set from the persisted
  // graph without a wholesale rebuild, exactly.
  // ---------------------------------------------------------------

  /** The delete set: ~1% of ids (sparse — the production shape; a
    * delete-heavy churn favors rebuild, in this engine as in
    * FAISS/Milvus tombstone-then-compact deployments). 97 ∤ small ids
    * < 5, so the standing queries survive; the modulus hits pivots at
    * every test SF (small ids ARE pivots), so the
    * pivot-replacement path is exercised, never vacuous. */
  private def deletedIds(b: DataFrame): DataFrame =
    b.filter(col("vec_id") % 97 === 5).select(col("vec_id"))

  /** The survivor corpus the maintained index serves after deletion. */
  private def survivorCorpus(s: SparkSession, d: String): DataFrame =
    base(s, d).filter(!(col("vec_id") % 97 === 5))

  /** s30's maintained edge relation — the s29 algebra with the
    * touched-set derivation flipped for REMOVAL:
    *  - deleting a NON-pivot only removes its own rows (it was never
    *    a dst — pairs point at pivots — and its src rows drop with
    *    it);
    *  - deleting a PIVOT removes a dst from every cohabiting member's
    *    pair set and promotes the next-smallest id into the bucket's
    *    pivot set, so T0 = surviving members of every (table, bucket)
    *    that LOST a pivot;
    *  - a node outside T0 cannot hold a deleted g0 out-neighbor
    *    (dst ∈ g0(src) means dst was a pivot in a shared bucket,
    *    which puts src in T0), so reused g0 rows never point at
    *    ghosts — the same closure argument as s29 gives
    *    T1 = T0 ∪ one-hop g0 in-neighbors, and edges outside T1 ∪ D
    *    are byte-identical to the rebuild's (GraphAnnSpec asserts).
    */
  private[graft] def deleteMaintainedEdges(s: SparkSession, d: String): DataFrame = {
    val idx = ensureGraphIndex(s, d)
    val delta = ensureGraphDeleteDelta(s, d, idx)
    val edgesBase = s.read.parquet(idx.resolve("edges").toString)
    val replaced = s.read.parquet(delta.resolve("replaced").toString)
    edgesBase.join(replaced, Seq("src"), "left_anti")
      .unionByName(s.read.parquet(delta.resolve("edges").toString))
  }

  private def ensureGraphDeleteDelta(s: SparkSession, d: String,
      idx: java.nio.file.Path): java.nio.file.Path =
    graft.StagePath.staged(s, "graphdeldelta", d, Seq("embeddings.parquet"),
        GraphIndexVersion + ":" + GraphDeltaVersion + ":del", Seq("replaced", "edges")) { st =>
      val bBase = base(s, d)
      val bU = survivorCorpus(s, d)
      val dropped = deletedIds(bBase)
      // buckets that LOST a pivot: the base pivot set restricted to
      // deleted ids
      val lostPivotBuckets = Tables4.indices.map { t =>
        pivotsFor(bBase, t)
          .join(dropped.withColumnRenamed("vec_id", "dst"), Seq("dst"), "leftsemi")
          .select(col("bk")).distinct().withColumn("t", lit(t))
      }.reduce(_ unionByName _)
      // T0: surviving members of those buckets
      val t0 = Tables4.indices.map { t =>
        bU.select(col("vec_id"), col(s"bucket$t").as("bk"))
          .join(broadcast(lostPivotBuckets.filter(col("t") === t).select("bk")), Seq("bk"))
          .select(col("vec_id"))
      }.reduce(_ union _).distinct()
      stageDelta(s, idx, st, bU, t0, drop = dropped)
    }

  /** From-scratch comparator: one wholesale build over the survivors. */
  private[graft] def s30FromScratchEdges(s: SparkSession, d: String): DataFrame =
    graphStages(survivorCorpus(s, d))._2

  /** s30: the s27 walk served by the delete-maintained index over the
    * survivor corpus. */
  private def s30(s: SparkSession, d: String): DataFrame =
    walk(survivorCorpus(s, d), deleteMaintainedEdges(s, d))

  // ---------------------------------------------------------------
  // s31/s32: FILTERED graph search — ANN under a metadata predicate
  // served by the filter-agnostic persisted graph index, the s22/s23
  // capability brought to the graph family (every production vector
  // store ships it: FAISS IDSelector, pgvector WHERE, Vespa/Weaviate
  // filtered HNSW). The index is built once over the FULL corpus and
  // filters vary per query; navigation routes through inadmissible
  // nodes (pruning them from the walk fragments the graph under
  // selective predicates), and the predicate lands at the exact
  // re-rank over the bounded candidate pool — post-filter with
  // structural over-fetch (one hop deeper than s27: ≤ S·(G+G²+G³)
  // candidates for a top-10 ask, see [[walk]]).
  // ---------------------------------------------------------------

  /** s31: filtered graph ANN — top-10 among the ADMISSIBLE (s22's
    * 50%-selective label predicate) corpus vectors, navigated by the
    * unfiltered persisted graph. Same output shape as s27. */
  private def s31(s: SparkSession, d: String): DataFrame =
    walk(base(s, d), stagedEdges(s, d),
      pred = Some(expr(Knn.FilterPredSql)), hops = 3)

  /** s32: filtered-graph recall@10 vs the TRUE filtered top-10 (brute
    * cosine over only the admissible corpus) — the measured-accuracy
    * contract every index family here ships (s5/s6/s13/s23/s28),
    * filtered edition: under a selective predicate the admissible
    * candidates thin out per walk, and THIS number is what justifies
    * serving a filtered workload from the graph index. */
  private def s32(s: SparkSession, d: String): DataFrame = {
    val tru = Knn.rankTopK(
        Knn.bruteScored(s, d, Some(expr(Knn.FilterPredSql))), 10, Seq.empty)
      .select(col("q_id"), col("vec_id"))
    Knn.recallVs(tru, s31(s, d).select(col("q_id"), col("vec_id")))
  }

  // ---------------------------------------------------------------
  // s33/s34: PQ-scored graph search — the DiskANN composition
  // (Subramanya et al., NeurIPS 2019): graph adjacency + PQ codes
  // resident in memory, full-precision vectors on SSD; the walk
  // scores candidates by cheap ADC lookups over the codes and fetches
  // full vectors ONLY for the final re-rank. The relational
  // re-expression composes two indexes this engine already ships —
  // s27's persisted neighbor graph and s9's PQ codebook/ADC machinery
  // — into the production serving shape.
  // ---------------------------------------------------------------

  /** How many ADC survivors fetch full-precision vectors per query —
    * DiskANN's beam-width knob: the walk's ≤ S·(G+G²) candidates
    * score as 4-bit codes (32× smaller than float32), and only these
    * survivors pay the full-vector join. 64 (not s9's 20): a recall@10
    * ask through an 8×4-bit codebook needs more head-room than s9's
    * recall@3 — beam 20 measured 0.2–0.5 per query at sf0.01, beam 64
    * clears the family floor while still cutting the full-precision
    * fetch ~an order of magnitude below the candidate pool. */
  private val PqFetch = 64

  /** s33: graph-navigated ANN with PQ-scored pruning — s27's walk up
    * to the candidate set, then: (1) each candidate scores by ADC
    * (8 table lookups on its 4-bit codes against the query's
    * broadcast LUT — exact-integer nano partial dots, s9's machinery
    * verbatim), (2) the top-[[PqFetch]] by ADC fetch full vectors and
    * exact-rerank to top-10 in s1's shape.
    *
    * The 100 TB shape this exists for: the walk's candidate join
    * against full vectors reads ~256 B × |cands| (hundreds) per
    * query; scoring candidates as codes reads 4 B each and the
    * full-precision fetch drops to [[PqFetch]] rows — the
    * memory-vs-SSD split DiskANN runs, as two bounded equi-joins.
    * Accuracy cost is measured, not asserted: s34 is the recall
    * contract for exactly this pipeline. */
  private def s33(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val q = queryFrame(b)
    val edges = stagedEdges(s, d)
    val cands = walkCands(b, q, edges, hops = 2)
    val (codes, lut) = Knn.pqParts(Tables.embeddings(s, d)
      .spreadToCores)
    val l = lut.select(col("q_id"), col("sub"), col("cell").as("code"), col("pdot"))
    val adc = cands.join(codes, Seq("vec_id"))
      .join(broadcast(l), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("score"))
    val candPq = TopK.perKey(adc, Seq("q_id"), "score", "vec_id", PqFetch)
      .select(col("q_id"), col("vec_id"))
    rerank(b, q, candPq, 10)
  }

  /** s34: s33's recall@10 contract vs s1's brute truth — the measured
    * price of scoring the walk through 4-bit codes instead of full
    * vectors (compare s28: the same walk exactly re-ranked). The gap
    * between s28's and s34's numbers IS the PQ approximation cost at
    * this beam width — the go/no-go measurement a DiskANN-class
    * deployment reads before trading bytes for recall. Measured at
    * sf0.01: 0.3–0.7 per query (mean 0.54) vs s28's 0.5–1.0 — in line
    * with s9's own full-corpus ADC contract (mean 0.47 @3) on this
    * corpus: the loss is the 8×16-cell codebook's, not the walk's. */
  private def s34(s: SparkSession, d: String): DataFrame = {
    val tru = Knn.rankTopK(Knn.bruteScored(s, d), 10, Seq.empty)
      .select(col("q_id"), col("vec_id"))
    Knn.recallVs(tru, s33(s, d).select(col("q_id"), col("vec_id")))
  }

  /** Per-query walk-candidate counts (GraphAnnSpec: the beam must
    * genuinely PRUNE — PqFetch < |cands| — or s33's two-stage split
    * is a costume). */
  private[graft] def walkCandCounts(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val q = queryFrame(b)
    walkCands(b, q, stagedEdges(s, d), 2)
      .groupBy(col("q_id")).agg(count(lit(1)).as("n"))
  }

  /** [[PqFetch]], exposed for the pruning-is-real spec assertion. */
  private[graft] def pqFetchK: Int = PqFetch

  // ---------------------------------------------------------------
  // DuckDB oracle: the whole pipeline in SQL. Pair relations carry
  // ids only; cosine is computed in exactly one place per stage
  // (the same one-scoring-site rule as the Spark side).
  // ---------------------------------------------------------------

  private def cosSql(a: String, b: String) = Knn.duckCos(a, b)

  /** Table t's sign-bucket SQL over its dim subset. */
  private def bucketSql(t: Int): String =
    Tables4(t)
      .map(i => s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  /** CTE chain: b (forest-bucketed corpus) -> g (final graph edges).
    * Parameterized over the source relation: s27/s28 build over
    * `embeddings`, s29's oracle over the augmented union `aug` —
    * the oracle replays the WHOLESALE rebuild, which the incremental
    * path must equal exactly, so one SQL text serves both. */
  private def graphCtesFrom(rel: String) = {
    val bucketCols = Tables4.indices
      .map(t => s"${bucketSql(t)} AS bucket$t").mkString(",\n    ")
    val pivotCtes = Tables4.indices.map { t =>
      s"""pv$t AS (
         |  SELECT vec_id AS dst, bucket$t AS bk FROM b
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket$t ORDER BY vec_id) <= $B)"""
        .stripMargin
    }.mkString(",\n")
    val bpUnion = Tables4.indices.map { t =>
      s"""SELECT s.vec_id AS src, p.dst
         |  FROM b s JOIN pv$t p ON s.bucket$t = p.bk AND s.vec_id <> p.dst"""
        .stripMargin
    }.mkString("\n  UNION\n  ")
    s"""b AS (
       |  SELECT vec_id, embedding,
       |    $bucketCols
       |  FROM $rel
       |  WHERE ${Knn.duckDot("embedding", "embedding")} > 0),
       |$pivotCtes,
       |bp AS (
       |  $bpUnion),
       |g0 AS (
       |  SELECT src, dst FROM (
       |    SELECT p.src, p.dst, ${cosSql("s.embedding", "t.embedding")} AS cos
       |    FROM bp p JOIN b s ON s.vec_id = p.src JOIN b t ON t.vec_id = p.dst)
       |  WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= $G),
       |comp AS (
       |  SELECT e1.src, e2.dst FROM g0 e1 JOIN g0 e2 ON e1.dst = e2.src
       |  WHERE e1.src <> e2.dst),
       |ps AS (SELECT src, dst FROM bp UNION SELECT src, dst FROM comp),
       |g AS (
       |  SELECT src, dst FROM (
       |    SELECT p.src, p.dst, ${cosSql("s.embedding", "t.embedding")} AS cos
       |    FROM ps p JOIN b s ON s.vec_id = p.src JOIN b t ON t.vec_id = p.dst)
       |  WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= $G)""".stripMargin
  }

  /** The walk's candidate CTE chain (q → bc → wseeds → hops → cand) —
    * the SQL mirror of [[walkCands]], shared by the exact-rerank
    * oracles (via [[annCtesWith]]) and s33's ADC-pruned chain. The
    * seed CTE is `wseeds` (not `seeds`) because s33 composes this
    * chain with [[Knn.pqCtes]], which owns the `seeds` name for its
    * codebook. */
  private def walkCandCtes(hops: Int): String = {
    val bcUnion = Tables4.indices.map { t =>
      s"""SELECT q.q_id, e.vec_id, ${cosSql("q.qe", "e.embedding")} AS cos
         |  FROM q JOIN b e ON e.bucket$t = q.bucket$t AND e.vec_id <> q.q_id"""
        .stripMargin
    }.mkString("\n  UNION\n  ")
    val qCols = Tables4.indices.map(t => s"bucket$t").mkString(", ")
    s"""q AS (SELECT vec_id AS q_id, embedding AS qe, $qCols FROM b WHERE vec_id < 5),
       |bc AS (
       |  $bcUnion),
       |wseeds AS (
       |  SELECT q_id, vec_id FROM bc
       |  WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= $S),
       |${(1 to hops).map { h =>
           val prev = if (h == 1) "wseeds" else s"h${h - 1}"
           s"h$h AS (SELECT h.q_id, g.dst AS vec_id FROM $prev h JOIN g ON g.src = h.vec_id)"
         }.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT q_id, vec_id FROM (
       |    SELECT q_id, vec_id FROM wseeds
       |${(1 to hops).map(h => s"    UNION ALL SELECT q_id, vec_id FROM h$h").mkString("\n")})
       |  WHERE q_id <> vec_id)""".stripMargin
  }

  /** The walk + exact-rerank CTE chain (… → cand → ann). `annPred`
    * (s31): an extra admissibility join at the exact re-rank — the
    * navigation CTEs stay unfiltered, mirroring the Spark walk.
    * `hops`: the walk depth (s31 over-fetches at 3 — see [[walk]]). */
  private def annCtesWith(annPred: Option[String], hops: Int = 2): String = {
    val predJoin = annPred
      .map(p => s" JOIN embeddings em ON em.vec_id = c.vec_id AND em.$p")
      .getOrElse("")
    s"""${walkCandCtes(hops)},
       |ann AS (
       |  SELECT q_id, vec_id, cos FROM (
       |    SELECT c.q_id, c.vec_id, ${cosSql("q.qe", "e.embedding")} AS cos
       |    FROM cand c JOIN b e ON e.vec_id = c.vec_id$predJoin JOIN q ON q.q_id = c.q_id)
       |  WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10)""".stripMargin
  }

  private val annCtes = annCtesWith(None)

  private val graphCtes = graphCtesFrom("embeddings")

  private val s27Sql =
    s"""WITH $graphCtes,
       |$annCtes
       |SELECT q_id,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank,
       |  vec_id, cos
       |FROM ann ORDER BY q_id, rank""".stripMargin

  private val s28Sql =
    s"""WITH $graphCtes,
       |$annCtes,
       |${Knn.truTopSql(10)},
       |${Knn.recallTailSql}""".stripMargin

  /** s29's oracle: the WHOLESALE rebuild over base ∪ planted batch —
    * graphCtes re-rooted at `aug` (s17's planted derivation verbatim,
    * identical float rounding in both engines) and the s27 walk on
    * top. The incremental path must equal the rebuild exactly, so the
    * oracle hash-checks BOTH the maintenance algebra and the walk. */
  private val s29Sql =
    s"""WITH planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    CAST(list_transform(generate_series(1, 64),
       |      i -> CAST(embedding[i] AS DOUBLE) + 1e-3 * CAST(i % 5 - 2 AS DOUBLE))
       |      AS FLOAT[]) AS embedding
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |aug AS (SELECT vec_id, embedding FROM embeddings
       |        UNION ALL SELECT vec_id, embedding FROM planted),
       |${graphCtesFrom("aug")},
       |$annCtes
       |SELECT q_id,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank,
       |  vec_id, cos
       |FROM ann ORDER BY q_id, rank""".stripMargin

  /** s30's oracle: the wholesale rebuild + walk over the SURVIVOR
    * corpus — graphCtes re-rooted at the filtered relation. Hash-
    * parity proves the delete algebra: one ghost edge or one stale
    * pivot in the maintained index changes the walk's candidates. */
  private val s30Sql =
    s"""WITH aug AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 5),
       |${graphCtesFrom("aug")},
       |$annCtes
       |SELECT q_id,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank,
       |  vec_id, cos
       |FROM ann ORDER BY q_id, rank""".stripMargin

  /** s31's oracle: the same graph + walk chain with the admissibility
    * join at the ann CTE — navigation unfiltered, re-rank filtered,
    * exactly the Spark plan's semantics. */
  private val s31Sql =
    s"""WITH $graphCtes,
       |${annCtesWith(Some(Knn.FilterPredSql), hops = 3)}
       |SELECT q_id,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank,
       |  vec_id, cos
       |FROM ann ORDER BY q_id, rank""".stripMargin

  /** s32's oracle: filtered brute truth (top-10 over only admissible
    * vectors — s23's truth shape at the graph family's k) vs the s31
    * chain, through the shared recall tail. */
  private val s32Sql =
    s"""WITH $graphCtes,
       |${annCtesWith(Some(Knn.FilterPredSql), hops = 3)},
       |tru AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT tq.q_id, e.vec_id, ${cosSql("tq.qe", "e.embedding")} AS cos
       |    FROM (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5) tq
       |    JOIN embeddings e ON e.vec_id <> tq.q_id AND e.${Knn.FilterPredSql})
       |  WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
       |${Knn.recallTailSql}""".stripMargin

  /** s33's ADC chain over the walk candidates — [[s33]]'s mirror:
    * codes + LUT from [[Knn.pqCtes]] (the verbatim s9 codebook),
    * exact-integer score sum, top-[[PqFetch]] fetch, exact re-rank.
    * Composes after [[walkCandCtes]]; `seeds` belongs to pqCtes here
    * (the walk chain uses `wseeds`). */
  private val pqWalkCtes =
    s"""${Knn.pqCtes},
       |adc AS (
       |  SELECT c.q_id, c.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS score
       |  FROM cand c
       |  JOIN codes k ON k.vec_id = c.vec_id
       |  JOIN lut l ON l.q_id = c.q_id AND l.sub = k.sub AND l.cell = k.code
       |  GROUP BY c.q_id, c.vec_id),
       |candpq AS (
       |  SELECT q_id, vec_id FROM adc
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= $PqFetch),
       |annpq AS (
       |  SELECT q_id, vec_id, cos FROM (
       |    SELECT c.q_id, c.vec_id, ${cosSql("q.qe", "e.embedding")} AS cos
       |    FROM candpq c JOIN b e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
       |  WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10)""".stripMargin

  private val s33Sql =
    s"""WITH $graphCtes,
       |${walkCandCtes(2)},
       |$pqWalkCtes
       |SELECT q_id,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank,
       |  vec_id, cos
       |FROM annpq ORDER BY q_id, rank""".stripMargin

  private val s34Sql =
    s"""WITH $graphCtes,
       |${walkCandCtes(2)},
       |$pqWalkCtes,
       |ann AS (SELECT q_id, vec_id FROM annpq),
       |${Knn.truTopSql(10)},
       |${Knn.recallTailSql}""".stripMargin

  val queries: Map[String, QFn] = Map(
    "s33_graph_pq" -> (s33 _),
    "s34_graph_pq_recall" -> (s34 _),
    "s27_graph_ann" -> (s27 _),
    "s28_graph_recall" -> (s28 _),
    "s29_graph_incremental" -> (s29 _),
    "s30_graph_delete" -> (s30 _),
    "s31_graph_filtered" -> (s31 _),
    "s32_graph_filtered_recall" -> (s32 _))

  val oracles: Map[String, String] = Map(
    "s33_graph_pq" -> s33Sql,
    "s34_graph_pq_recall" -> s34Sql,
    "s27_graph_ann" -> s27Sql,
    "s28_graph_recall" -> s28Sql,
    "s29_graph_incremental" -> s29Sql,
    "s30_graph_delete" -> s30Sql,
    "s31_graph_filtered" -> s31Sql,
    "s32_graph_filtered_recall" -> s32Sql)
}
