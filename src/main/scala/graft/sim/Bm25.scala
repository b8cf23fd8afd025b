package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QFn, Tables}

/** s14: BM25 lexical retrieval over `documents` — the OTHER half of
  * the similarity surface. s1–s13 rank by embedding geometry; every
  * production retrieval stack pairs that with a lexical arm (BM25 is
  * the default first-stage ranker in hybrid search and the standard
  * hard-negative miner for embedding training), and a dedup/
  * decontamination sweep reuses the same shape to pull candidate
  * sources for a flagged span. Robertson/Spärck Jones BM25 with the
  * Lucene idf variant, scored ENTIRELY in integer arithmetic so the
  * DuckDB oracle is exact (the t14/t19/t21 discipline — no libm, no
  * cross-row float sums):
  *
  *   - idf(t) = log2(1 + (N − df + ½)/(df + ½)) = log2((2N+2)/(2df+1))
  *     in integer MILLI-BITS via the shift-and-square binary log
  *     ([[graft.text.TextAnalysis.surpMilliSpark]] with num = 2df+1,
  *     den = 2N+2 — always num ≤ den, so the +½ floor never goes
  *     negative and absent terms simply produce no tf rows);
  *   - tf part (k1 = 1.2, b = 0.75): tf·(k1+1) / (tf + k1·(1 − b +
  *     b·len/avgdl)). With A = round(avgdl) (= (2S+N) div 2N, S =
  *     corpus token count), multiplying through by 20·A clears every
  *     fraction: num = 44·A·tf, den = 20·A·tf + 6·A + 18·len — all
  *     BIGINT, overflow-safe at any corpus (A and tf are bounded by
  *     document length, not corpus size; idf_milli·num < 2^63 for
  *     docs to ~10^8 tokens even at N = 10^15);
  *   - per-term score = (idf_milli · num) div den — ONE truncating
  *     division per (doc, term), so the per-doc rollup is an exact
  *     integer SUM (milli-bit precision is part of the definition,
  *     same contract as t21's surprisal);
  *   - top-20 docs by (score_milli DESC, doc_id) — TakeOrderedAndProject
  *     (per-partition bounded heaps), never a global sort.
  *
  * Scale shape: the query term set is a literal constant, so per-term
  * tf is computed as |Q| regexp_count COLUMNS in the scan projection —
  * document rows are never exploded and never shuffled (the textbook
  * (doc, token) aggregate would shuffle every query-term hit; this
  * plan shuffles one partial-aggregate row per partition). Pass 1 is
  * the stats aggregate (N, S, per-term df → idf + avgdl, collapsed to
  * a single broadcast constants row); pass 2 scores each doc as a
  * pure BIGINT projection against that broadcast and feeds
  * TakeOrderedAndProject. Two corpus scans total — the irreducible
  * stats-then-score shape of corpus-normalized ranking — zero
  * corpus-sized shuffles, zero joins on doc keys. Reference surface:
  * ranking mirrors the retrieval examples' score-and-rank contract
  * (examples/visual_qa_example.py's ordered choices), re-expressed as
  * corpus retrieval.
  */
object Bm25 {

  /** Mixed-rarity query: `dup` is the corpus's one rare token (df ≈
    * 5% of docs — idf dominates), the rest are mid-frequency. Listed
    * in one place so query and oracle cannot drift. */
  private[graft] val QueryTerms = Seq("dup", "spark", "key", "vector")

  private[graft] def s14(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
    // per-doc stats in ONE projection: length (count of \S+ runs =
    // whitespace tokens) + one tf column per query term, each a
    // codegen'd regexp_count — a token equals t iff the padded text
    // matches \s<t>(?=\s) (the lookahead keeps the shared delimiter
    // for adjacent occurrences). |Q| is a literal constant, so the
    // explode + corpus-sized (doc, tok) shuffle the textbook plan
    // pays is avoided entirely; this never shuffles document rows.
    // Measured per-pass at sf0.1 with a since-removed probe (best of
    // 3): this projection 0.23 s vs 0.35 s for split+explode_outer+agg
    // and 0.51 s for split+explode (the non-outer explode makes the
    // optimizer infer a size(ts) > 0 filter that re-tokenizes every
    // row) — the per-term regexes are cheap because they build no
    // token array.
    def perdoc = docs.select(
      col("doc_id") +:
        expr("regexp_count(text, '\\\\S+')").cast("long").as("len") +:
        QueryTerms.map(t => expr(
          s"regexp_count(concat(' ', lower(text), ' '), '\\\\s$t(?=\\\\s)')")
          .cast("long").as(s"tf_$t")): _*)
    // corpus stats (N, S) + per-term document frequencies in one
    // partial-aggregated row; then idf per term via the shift-and-
    // square chain over the |Q|-row unpivot, collapsed back (with
    // avgdl) into a SINGLE constants row — everything after the
    // stats aggregate is metadata-sized, and perdoc's lineage runs
    // exactly twice (the irreducible stats-then-score shape)
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("len")).as("s_tok")) ++
      QueryTerms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = perdoc.agg(aggs.head, aggs.tail: _*)
    val pairs = QueryTerms.map(t =>
      struct(lit(t).as("tok"), (col(s"df_$t") * 2 + 1).as("num")))
    val consts = stats
      .select(explode(array(pairs: _*)).as("kv"),
        (col("n_docs") * 2 + 2).as("den"),
        expr("(2 * s_tok + n_docs) div (2 * n_docs)").as("a"))
      .select(col("kv.tok").as("tok"), col("kv.num").as("num"),
        col("den"), col("a"))
      .select(col("tok"),
        expr(graft.text.TextAnalysis.surpMilliSpark).as("idf_milli"), col("a"))
      .agg(max(col("a")).as("a"), QueryTerms.map(t =>
        max(when(col("tok") === t, col("idf_milli"))).as(s"idf_$t")): _*)
    // score = Σ over present terms of (idf·num) div den, all BIGINT,
    // computed as a pure projection against the broadcast constants
    val termScore = QueryTerms.map { t =>
      when(col(s"tf_$t") > 0,
        expr(s"(idf_$t * (44 * a * tf_$t)) div " +
          s"(20 * a * tf_$t + 6 * a + 18 * len)")).otherwise(lit(0L))
    }.reduce(_ + _)
    val nTerms = QueryTerms.map(t =>
      (col(s"tf_$t") > 0).cast("long")).reduce(_ + _)
    perdoc.crossJoin(broadcast(consts))
      .select(col("doc_id"), nTerms.as("n_terms"), col("len"),
        termScore.as("score_milli"))
      .filter(col("n_terms") > 0)
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(20)
  }

  private def s14Sql: String = {
    val m2 = 1L << graft.text.TextAnalysis.PplShift
    val top = 2L << graft.text.TextAnalysis.PplShift
    val steps = graft.text.TextAnalysis.PplSteps
    val qvals = QueryTerms.map(t => s"('$t')").mkString(", ")
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
       |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts FROM docs),
       |lens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM toks),
       |sc AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS s_tok FROM lens),
       |q(tok) AS (VALUES $qvals),
       |tf AS (
       |  SELECT t.doc_id, u.tok AS tok, CAST(COUNT(*) AS BIGINT) AS tf,
       |    MIN(CAST(len(t.ts) AS BIGINT)) AS len
       |  FROM toks t, unnest(t.ts) AS u(tok)
       |  WHERE u.tok IN ($inList) GROUP BY 1, 2),
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
       |scored AS (
       |  SELECT f.doc_id, f.len,
       |    (i.idf_milli * (44 * v.a * f.tf)) // (20 * v.a * f.tf + 6 * v.a + 18 * f.len) AS sterm
       |  FROM tf f JOIN idf i USING (tok), av v)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, MIN(len) AS len,
       |  CAST(SUM(sterm) AS BIGINT) AS score_milli
       |FROM scored GROUP BY doc_id
       |ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin
    sb.result()
  }

  /** The whitespace tokenizer the lexical family shares (s15/s16 use
    * it where the term set is data-dependent and the literal-regex
    * plan above doesn't apply): lowercase split, empties dropped. */
  private[sim] val TsE = "filter(split(lower(text), '\\\\s+'), w -> w != '')"

  /** BM25 constants relation (tok, idf_milli, a) from a (doc, tok,
    * tf, len) relation and a one-row (n_docs, s_tok) stats relation —
    * df per token, idf via the shift-and-square milli-bit log, avgdl
    * rounded. Vocab-sized output; callers broadcast it into scoring.
    */
  private[sim] def idfConsts(tf: DataFrame, stats: DataFrame): DataFrame =
    tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"), (col("df") * 2 + 1).as("num"),
        (col("n_docs") * 2 + 2).as("den"),
        expr("(2 * s_tok + n_docs) div (2 * n_docs)").as("a"))
      .select(col("tok"),
        expr(graft.text.TextAnalysis.surpMilliSpark).as("idf_milli"), col("a"))

  /** The fraction-cleared per-term score — see the class scaladoc. */
  private[sim] val StermExpr =
    "(idf_milli * (44 * a * tf)) div (20 * a * tf + 6 * a + 18 * len)"

  val queries: Map[String, QFn] = Map("s14_bm25" -> (s14 _))
  val oracles: Map[String, String] = Map("s14_bm25" -> s14Sql)
}
