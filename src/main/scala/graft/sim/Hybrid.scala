package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QFn, Tables}

/** s15: hybrid retrieval with reciprocal-rank fusion — the production
  * retrieval-stack composition the per-arm operators (s1–s13 dense,
  * s14 lexical) stop short of: a QUERY-BY-DOCUMENT search where the
  * lexical arm (BM25 over the query doc's vocabulary) and the dense
  * arm (cosine over the query doc's embedding — `vec_id` and `doc_id`
  * share the identity key space) each rank top-[[ArmK]] candidates,
  * fused by RRF (Cormack/Clarke/Büttcher 2009): score(d) =
  * Σ_arms 1/(60 + rank_arm(d)). This is the shape hybrid search
  * engines ship as the default ranker, and the shape a dedup /
  * contamination sweep uses to pull candidate sources for a flagged
  * document. Reference surface: the score-and-rank contract of the
  * retrieval examples (examples/visual_qa_example.py's ordered
  * choices), composed across modalities.
  *
  * Everything is engine-exact: the lexical arm is s14's integer
  * milli-bit BM25 (idf via the shift-and-square log, fraction-cleared
  * tf part), the dense arm reuses s1's scored relation verbatim
  * ([[Knn.bruteScored]] — the s12 sharing discipline), and the fusion
  * is integer: rrf_milli(d) = Σ 1000000 div (60 + rank). An arm that
  * misses a candidate contributes 0 (the standard RRF convention).
  *
  * Scale shape: the query doc's vocabulary is ONE document's distinct
  * tokens — metadata-sized, broadcast; the corpus token stream thins
  * against it BEFORE the (doc, tok) shuffle (the d23 broadcast-
  * membership-before-shuffle discipline; map-side partial aggregation
  * collapses repeated tokens before the exchange). Unlike s14, the
  * term set is data-dependent, so the literal-regexp_count plan is
  * unavailable — this is the explode shape, with explode_outer to
  * avoid the optimizer's inferred size(ts)>0 filter that would
  * re-tokenize every row (measured at sf0.1 with a since-removed
  * probe, see [[Bm25]]). df/idf/avgdl collapse to a vocab-sized
  * broadcast; both arms end in bounded top-k (s14's
  * TakeOrdered / s1's partial+final heaps), so the fusion join is
  * ArmK × ArmK rows — driver-trivial at any corpus size.
  */
object Hybrid {

  /** The query document (= its embedding's vec_id). Doc 0 is one of
    * s1's five standing query vectors, so the dense arm's oracle
    * arithmetic is the already-proven s1 chain. */
  private[graft] val QueryDoc = 0L

  /** Per-arm candidate depth and the RRF damping constant (k = 60 is
    * the original paper's value, used unchanged by Elasticsearch /
    * Vespa / OpenSearch hybrid defaults). */
  private[graft] val ArmK = 20
  private[graft] val RrfC = 60L

  private def TsE = Bm25.TsE

  /** Lexical arm: BM25 query-by-document — s14's integer arithmetic
    * with the term set = [[QueryDoc]]'s distinct tokens. Returns
    * (doc_id, lex_rank), the top-[[ArmK]] by (score_milli DESC,
    * doc_id), query doc excluded. */
  private[graft] def lexArm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
    val qterms = docs.filter(col("doc_id") === QueryDoc)
      .select(explode_outer(expr(TsE)).as("tok"))
      .filter(col("tok").isNotNull).distinct()
    // corpus token stream, thinned to the query vocabulary by the
    // broadcast join BEFORE any shuffle; explode_outer avoids the
    // inferred re-tokenizing filter (0.51 -> 0.35 s/pass, measured at
    // sf0.1 with a since-removed probe)
    val hits = docs
      .select(col("doc_id"), expr(TsE).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("len"),
        explode_outer(col("ts")).as("tok"))
      .join(broadcast(qterms), Seq("tok"))
    val tf = hits.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), min(col("len")).as("len"))
    val stats = docs
      .select(expr("regexp_count(text, '\\\\S+')").cast("long").as("len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("s_tok"))
    // df over ALL docs (the query doc contributes its own df — the
    // corpus-wide BM25 convention); idf + avgdl on the vocab-sized
    // table, broadcast into the scoring join
    val consts = Bm25.idfConsts(tf, stats)
    val top = tf.filter(col("doc_id") =!= QueryDoc)
      .join(broadcast(consts), Seq("tok"))
      .select(col("doc_id"), expr(Bm25.StermExpr).as("sterm"))
      .groupBy(col("doc_id")).agg(sum(col("sterm")).as("score_milli"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(ArmK)
    // rank assembly on the <= ArmK survivors — the rankTopK idiom
    // (collect, comparator sort, posexplode), never a Window
    top.agg(collect_list(struct(col("score_milli"), col("doc_id"))).as("cand"))
      .withColumn("sorted", expr(
        """array_sort(cand, (l, r) ->
          |  CASE WHEN l.score_milli > r.score_milli THEN -1
          |       WHEN l.score_milli < r.score_milli THEN 1
          |       WHEN l.doc_id < r.doc_id THEN -1
          |       WHEN l.doc_id > r.doc_id THEN 1 ELSE 0 END)""".stripMargin))
      .select(posexplode(col("sorted")).as(Seq("pos", "c")))
      .select(col("c.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
  }

  /** Dense arm: s1's scored relation verbatim, restricted to the
    * query doc, ranked to [[ArmK]] through the same partial+final
    * bounded heaps. Returns (doc_id, dense_rank). */
  private[graft] def denseArm(s: SparkSession, d: String): DataFrame =
    Knn.rankTopK(
      Knn.bruteScored(s, d).filter(col("q_id") === QueryDoc), ArmK, Seq.empty)
      .select(col("vec_id").as("doc_id"), col("rank").as("dense_rank"))

  private[graft] def s15(s: SparkSession, d: String): DataFrame =
    s15From(lexArm(s, d), s, d)

  /** [[s15]] over a PREBUILT lexical arm — s21/s25 run the brute
    * hybrid truth AND the composed s19 pipeline in one plan, and both
    * contain the identical lexArm subtree; passing one materialized
    * arm to both sides runs the lexical pipeline once per query
    * instead of twice (r20, guide §2.4). */
  private[sim] def s15From(lex: DataFrame, s: SparkSession, d: String): DataFrame = {
    val fused = lex.join(denseArm(s, d), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (coalesce(expr(s"1000000 div ($RrfC + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfC + dense_rank)"), lit(0L)))
          .as("rrf_milli"))
    fused.orderBy(col("rrf_milli").desc, col("doc_id")).limit(10)
  }

  private[sim] def s15Sql: String = {
    val m2 = 1L << graft.text.TextAnalysis.PplShift
    val top = 2L << graft.text.TextAnalysis.PplShift
    val steps = graft.text.TextAnalysis.PplSteps
    val dot = "list_reduce(list_transform(generate_series(1, 64), " +
      "i -> CAST(qv.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (acc, x) -> acc + x)"
    val dotQQ = "list_reduce(list_transform(generate_series(1, 64), " +
      "i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (acc, x) -> acc + x)"
    val dotEE = "list_reduce(list_transform(generate_series(1, 64), " +
      "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (acc, x) -> acc + x)"
    val sb = new StringBuilder
    sb ++= s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
       |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts FROM docs),
       |q AS (SELECT DISTINCT u.tok AS tok FROM toks t, unnest(t.ts) AS u(tok)
       |      WHERE t.doc_id = $QueryDoc),
       |lens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM toks),
       |sc AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS s_tok FROM lens),
       |tf AS (
       |  SELECT t.doc_id, u.tok AS tok, CAST(COUNT(*) AS BIGINT) AS tf,
       |    MIN(CAST(len(t.ts) AS BIGINT)) AS len
       |  FROM toks t, unnest(t.ts) AS u(tok)
       |  WHERE u.tok IN (SELECT tok FROM q) GROUP BY 1, 2),
       |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |idf0 AS (SELECT tok, df * 2 + 1 AS num, n_docs * 2 + 2 AS den FROM dfq, sc),
       |st0 AS (
       |  SELECT tok, length(bin(den // num)) - 1 AS e,
       |    (den * $m2) // (num * (1::BIGINT << (length(bin(den // num)) - 1))) AS m,
       |    0::BIGINT AS f
       |  FROM idf0)""".stripMargin
    for (r <- 1 to steps) {
      sb ++= s""",
       |st$r AS (SELECT tok, e,
       |  CASE WHEN (m * m) // $m2 >= $top THEN ((m * m) // $m2) // 2
       |       ELSE (m * m) // $m2 END AS m,
       |  f * 2 + CASE WHEN (m * m) // $m2 >= $top THEN 1 ELSE 0 END AS f
       |  FROM st${r - 1})""".stripMargin
    }
    sb ++= s""",
       |idf AS (SELECT tok, e * 1000 + (f * 1000) // 1024 AS idf_milli FROM st$steps),
       |av AS (SELECT (2 * s_tok + n_docs) // (2 * n_docs) AS a FROM sc),
       |lscored AS (
       |  SELECT f.doc_id,
       |    SUM((i.idf_milli * (44 * v.a * f.tf)) //
       |        (20 * v.a * f.tf + 6 * v.a + 18 * f.len)) AS score_milli
       |  FROM tf f JOIN idf i USING (tok), av v
       |  WHERE f.doc_id <> $QueryDoc GROUP BY f.doc_id),
       |ltop AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score_milli DESC, doc_id) AS lex_rank
       |  FROM lscored QUALIFY lex_rank <= $ArmK),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryDoc),
       |dscored AS (
       |  SELECT e.vec_id AS doc_id,
       |    $dot / (sqrt($dotQQ) * sqrt($dotEE)) AS cos
       |  FROM qv, embeddings e WHERE e.vec_id <> $QueryDoc),
       |dtop AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS dense_rank
       |  FROM dscored WHERE cos IS NOT NULL AND NOT isnan(cos)
       |  QUALIFY dense_rank <= $ArmK)
       |SELECT COALESCE(l.doc_id, dn.doc_id) AS doc_id, l.lex_rank, dn.dense_rank,
       |  COALESCE(1000000 // ($RrfC + l.lex_rank), 0) +
       |  COALESCE(1000000 // ($RrfC + dn.dense_rank), 0) AS rrf_milli
       |FROM ltop l FULL OUTER JOIN dtop dn ON l.doc_id = dn.doc_id
       |ORDER BY rrf_milli DESC, doc_id LIMIT 10""".stripMargin
    sb.result()
  }

  val queries: Map[String, QFn] = Map("s15_hybrid_rrf" -> (s15 _))
  val oracles: Map[String, String] = Map("s15_hybrid_rrf" -> s15Sql)
}
