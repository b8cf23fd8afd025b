package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QFn, Tables}

/** Multimodal-column operators m1–m2 (SURVEY.md §2): media as opaque
  * binary columns with typed metadata, plus deterministic frame
  * sampling. The decode step itself is stubbed (see [[DecodeStub]]) —
  * media codecs are external, as model inference is in the reference —
  * but the Spark-side plumbing (binary schema, per-row metadata,
  * partition-parallel sampling) is real.
  */
object Multimodal {

  /** m1: binary payload + typed metadata. Document text stands in for
    * image bytes; "dimensions" are deterministic functions of the
    * payload (the shape a real decoder would fill in). Per-row, no
    * shuffle.
    */
  private def m1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        substring(regexp_replace(base64(col("payload")), "\r\n", ""), 1, 16).as("b64_head"),
        (lit(64) + octet_length(col("payload")) % 512).cast("int").as("width"),
        (lit(64) + (octet_length(col("payload")) * 7) % 512).cast("int").as("height"),
        when(octet_length(col("payload")) % 3 === 0, lit("png"))
          .when(octet_length(col("payload")) % 3 === 1, lit("jpeg"))
          .otherwise(lit("webp")).as("format"))
      .sortWithinPartitions(col("doc_id"))

  private val m1Sql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  substring(to_base64(encode(text)), 1, 16) AS b64_head,
      |  CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
      |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height,
      |  CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
      |       WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
      |       ELSE 'webp' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m12: container sniffing at ingest — the magic-byte gate a media
    * pipeline runs before ANY decode (crawled files arrive with wrong
    * or missing extensions; the sniff decides the decode path and
    * quarantines what nothing can decode — feeding m15-class decode
    * stubs only what matches their codec). The corpus plants real
    * magic prefixes by a doc_id rule (JPEG FFD8FF, PNG's 8-byte
    * signature, GIF89a, RIFF….WEBP, or none — the t16/t28
    * inject-then-detect discipline); detection then reads ONLY the
    * payload's leading bytes via generic prefix matching (PNG before
    * JPEG before GIF before RIFF+WEBP's two-window test), so the
    * compare pins the sniffing machinery, not the plant. The audit
    * columns are the real findings: `mismatch` (a claimed extension
    * disagrees with content — the wrong-extension population) and
    * `quarantine` (no known signature). `claimed` is an INDEPENDENT
    * n_bytes%3 stand-in derived from the PAYLOAD length (magic bytes
    * included), not m1's text-length rule — for magic-planted rows
    * the two deliberately differ, which is what makes the mismatch
    * population non-empty (ADVICE r17: the earlier doc called it "the
    * m1-rule claim", which it is not).
    *
    * Scale: per-row codegen over a bounded payload PREFIX — Spark
    * hexes only the first 12 bytes (substring on binary before hex),
    * so cost is independent of payload size; the oracle hexes the
    * whole blob (DuckDB cannot slice blobs) and substrings the hex,
    * which is equal on the compared prefix. Zero joins, zero shuffle
    * beyond the output exchange.
    */
  /** m12's per-row half over ANY frame carrying (doc_id, text) —
    * plant + sniff + audit columns, stateless codegen: shared verbatim
    * by m12 (batch) and st18 (the same gate at ingest, the st12/st17
    * compliance discipline). */
  private[graft] def sniffVerdict(docs: DataFrame): DataFrame = {
    val magic = when(col("doc_id") % 5 === 0, unhex(lit("FFD8FF")))
      .when(col("doc_id") % 5 === 1, unhex(lit("89504E470D0A1A0A")))
      .when(col("doc_id") % 5 === 2, unhex(lit("474946383961")))
      .when(col("doc_id") % 5 === 3, unhex(lit("524946460000000057454250")))
      .otherwise(unhex(lit("")))
    docs
      .select(col("doc_id"),
        concat(magic, col("text").cast("binary")).as("payload"))
      .withColumn("head24", hex(expr("substring(payload, 1, 12)")))
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("sniffed",
        when(substring(col("head24"), 1, 16) === "89504E470D0A1A0A", lit("png"))
          .when(substring(col("head24"), 1, 6) === "FFD8FF", lit("jpeg"))
          .when(substring(col("head24"), 1, 12)
            .isin("474946383961", "474946383761"), lit("gif"))
          .when(substring(col("head24"), 1, 8) === "52494646" &&
            substring(col("head24"), 17, 8) === "57454250", lit("webp"))
          .otherwise(lit("unknown")))
      .withColumn("claimed",
        when(col("n_bytes") % 3 === 0, lit("png"))
          .when(col("n_bytes") % 3 === 1, lit("jpeg"))
          .otherwise(lit("webp")))
      .select(col("doc_id"), col("n_bytes"), col("sniffed"), col("claimed"),
        (col("claimed") =!= col("sniffed")).as("mismatch"),
        (col("sniffed") === "unknown").as("quarantine"))
  }

  private def m12(s: SparkSession, d: String): DataFrame =
    sniffVerdict(Tables.documents(s, d)).sortWithinPartitions(col("doc_id"))

  private val m12Sql =
    """WITH pl AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 5 AS INTEGER)
      |      WHEN 0 THEN from_hex('FFD8FF')
      |      WHEN 1 THEN from_hex('89504E470D0A1A0A')
      |      WHEN 2 THEN from_hex('474946383961')
      |      WHEN 3 THEN from_hex('524946460000000057454250')
      |      ELSE from_hex('') END || encode(text) AS payload
      |  FROM documents),
      |hx AS (
      |  SELECT doc_id, substring(hex(payload), 1, 24) AS head24,
      |    CAST(octet_length(payload) AS BIGINT) AS n_bytes
      |  FROM pl),
      |sn AS (
      |  SELECT doc_id, n_bytes,
      |    CASE WHEN substring(head24, 1, 16) = '89504E470D0A1A0A' THEN 'png'
      |         WHEN substring(head24, 1, 6) = 'FFD8FF' THEN 'jpeg'
      |         WHEN substring(head24, 1, 12) IN ('474946383961', '474946383761') THEN 'gif'
      |         WHEN substring(head24, 1, 8) = '52494646'
      |              AND substring(head24, 17, 8) = '57454250' THEN 'webp'
      |         ELSE 'unknown' END AS sniffed,
      |    CASE WHEN n_bytes % 3 = 0 THEN 'png'
      |         WHEN n_bytes % 3 = 1 THEN 'jpeg'
      |         ELSE 'webp' END AS claimed
      |  FROM hx)
      |SELECT doc_id, n_bytes, sniffed, claimed,
      |  claimed != sniffed AS mismatch, sniffed = 'unknown' AS quarantine
      |FROM sn ORDER BY doc_id""".stripMargin

  /** m2: every-Nth frame sampling per stream (user) in event-time
    * order — the video-frame subsampling pattern.
    *
    * The per-user frame index is a RANK, so order is load-bearing —
    * but `row_number().over(partitionBy(user_id))` buffers one user's
    * ENTIRE event history in a single task (the r8/r9 risk class that
    * de-windowed d3/d7/d10/t4/t7: one hot stream at 100× event scale
    * is one spilling task). This is t10's two-level bucketed
    * prefix-sum instead: events bucket by `tus div B` (B sized so the
    * bucket count ≈ √n, derived in-plan from the input's span),
    * bucket COUNTS aggregate with map-side partials, a per-user
    * running sum over the bucket-count METADATA rows (≤ √n rows per
    * user) yields each bucket's starting offset, and a local
    * row_number partitioned by (user_id, tb) ranks only one bucket's
    * slice of one user. Both surviving windows are bounded; the join
    * back on (user_id, tb) is AQE-skew-splittable. Offsets are
    * bucketing-invariant, so B never affects the output (oracle-safe).
    */
  private def m2(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"))
    // bucket width = span/√n (keeps both bounded stages ~√n as the
    // corpus grows), derived IN-PLAN from a one-row stats aggregate
    // broadcast into the bucketing expression — no separate driver
    // action (the standalone stats job measured ~2× m2's total as a
    // second scan + job round-trip; as a broadcast scalar it is one
    // shuffle-free reduce inside the same DAG, the d12/q28 pattern).
    // Floored at 1: a width ≤ 0 would NULL the bucket key and collapse
    // both stages.
    val widthExpr = greatest(lit(1L),
      ceil((col("mx_t") - col("mn_t") + 1).cast("double") / sqrt(col("n_t").cast("double"))))
    val stats = base.agg(min(col("tus")).as("mn_t"), max(col("tus")).as("mx_t"),
      count(lit(1)).as("n_t"))
    val tb = base.crossJoin(broadcast(stats))
      .withColumn("bw", widthExpr)
      .withColumn("tb", expr("tus div bw"))
      .select(col("user_id"), col("event_id"), col("tus"), col("tb"))
    val counts = tb.groupBy(col("user_id"), col("tb")).agg(count(lit(1)).as("c"))
    val boff = Window.partitionBy(col("user_id")).orderBy(col("tb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(boff), lit(0L)))
      .select(col("user_id"), col("tb"), col("off"))
    val local = Window.partitionBy(col("user_id"), col("tb"))
      .orderBy(col("tus"), col("event_id"))
    tb.join(offsets, Seq("user_id", "tb"))
      .withColumn("frame_idx", col("off") + row_number().over(local).cast("long"))
      .filter((col("frame_idx") % 10) === 1)
      .select(col("user_id"), col("frame_idx"), col("event_id"), col("tus"))
      .sortWithinPartitions(col("user_id"), col("frame_idx"))
  }

  private val m2Sql =
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS frame_idx
      |  FROM events)
      |SELECT user_id, frame_idx, event_id, tus
      |FROM f WHERE frame_idx % 10 = 1
      |ORDER BY user_id, frame_idx""".stripMargin

  /** m3: fixed-size chunking of a binary payload (the audio-window /
    * image-tile pattern): each document's bytes split into 64-byte
    * chunks with per-chunk fingerprints. Generate-positions + explode,
    * linear, no shuffle.
    */
  private def m3(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, length(text), 64), i -> substring(text, i, 64))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .sortWithinPartitions(col("doc_id"), col("chunk_idx"))

  private val m3Sql =
    """SELECT doc_id, i // 64 AS chunk_idx,
      |  CAST(length(substring(text, i + 1, 64)) AS BIGINT) AS chunk_len,
      |  md5(substring(text, i + 1, 64)) AS chunk_md5
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(0, length(text) - 1, 64)) AS i
      |      FROM documents)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** m4: chunk-level cross-document dedup (content-defined-chunking
    * style): fingerprints shared by ≥2 documents expose repeated
    * byte-ranges — watermarks, boilerplate headers, copied segments —
    * that whole-file hashing misses. One shuffle on the 16-byte
    * fingerprint; chunks themselves never shuffle.
    */
  private def m4(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, length(text), 64), i -> substring(text, i, 64))"))
          .as("chunk"))
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") >= 2)
      .sortWithinPartitions(col("chunk_md5"))

  private val m4Sql =
    """WITH c AS (
      |  SELECT doc_id, md5(substring(text, i + 1, 64)) AS chunk_md5
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(0, length(text) - 1, 64)) AS i
      |        FROM documents))
      |SELECT chunk_md5, COUNT(*) AS n_occurrences,
      |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc_id
      |FROM c GROUP BY chunk_md5 HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY chunk_md5""".stripMargin

  /** m5: content-defined chunking (CDC) + cross-document chunk dedup —
    * m4's production upgrade. m3/m4 cut at FIXED 64-byte offsets, so a
    * single inserted byte shifts every later boundary and two
    * near-identical payloads share almost no chunks; CDC instead cuts
    * where a ROLLING HASH of the last [[CdcWindow]] bytes hits a mask
    * (Rabin–Karp style: h = fold((acc·31 + byte) mod 1000003), cut
    * when h ≡ 0 mod [[CdcMask]] → expected chunk ≈ CdcMask bytes),
    * so boundaries re-synchronize right after any edit and shared
    * content dedups regardless of offset. Real CDC adds min/max chunk
    * bounds; this keeps the bare rolling-hash rule (documented
    * simplification).
    *
    * The whole boundary computation runs in the native codegen'd
    * [[graft.functions.CdcChunks]] expression (r13): ONE O(n)
    * codepoint pass with a true rolling update — the earlier
    * declarative HOF form built a per-character codes array via
    * `ascii(substring(text, i, 1))`, which is O(n²) in document
    * length on non-ASCII text (substring walks to the i-th codepoint)
    * and paid [[CdcWindow]] interpreted lambda multiply-adds per
    * position; measured 2.8 s → ~0.4 s at sf0.1, and the quadratic
    * hazard on long production documents is gone. Integer-only, no
    * UDF, no shuffle; only the final m4-shaped fingerprint aggregate
    * shuffles (16-byte keys, map-side partials). Cross-engine
    * exactness: the DuckDB oracle keeps the explicit flat polynomial
    * Σ byte[i−j]·31^j mod M — congruence of the canonical residues
    * makes the boundary decision identical (PropertySpec fuzzes the
    * expression against the HOF form on random unicode; the driver
    * parity compare is the cross-engine proof).
    */
  private[graft] val CdcWindow = 8
  private[graft] val CdcMask = 32

  /** 31^j mod 1000003 for j = 0..CdcWindow-1 — the rolling-hash fold
    * ((acc·31 + byte) mod M) expanded to a flat linear combination
    * Σ byte[i−j]·31^j mod M (mod is a ring homomorphism, so the
    * residue is identical). The flat form is ~40× faster than a
    * nested aggregate-per-position lambda: higher-order-function
    * lambdas run interpreted, and an inner fold per position paid an
    * allocation + 8 interpreted steps where this pays 8 array lookups
    * in ONE flat lambda. */
  private val CdcPows: Seq[Long] =
    Iterator.iterate(1L)(p => p * 31 % 1000003).take(CdcWindow).toSeq

  /** The native aHash column ([[graft.functions.AHash]]). */
  private[graft] def aHashCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.AHash(ColumnBridge.expression(c)))
  }

  /** m6's original explode + two-level-aggregate phash pipeline over
    * (doc_id, text) rows — the executable reference [[graft.functions.AHash]]
    * is fuzzed against (PropertySpec). */
  private[graft] def aHashExplode(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val segs = docs
      .filter(col("doc_id").isNotNull && length(col("text")) >= 64)
      // split-to-chars, then ascii per 1-char string: one O(n) pass.
      // The sequence+substring form is O(n²) per row — UTF8String
      // substring seeks from the start each call (measured 2.4× the
      // whole query at sf0.1)
      .select(col("doc_id"), length(col("text")).as("n"),
        posexplode(expr("transform(split(text, ''), c -> ascii(c))"))
          .as(Seq("pos0", "code")))
      // pos0 is 0-based → seg ∈ 0..63 for every pos0 < n
      .select(col("doc_id"), expr("pos0 * 64 div n").as("seg"),
        col("code").cast("long").as("code"))
    val per = segs.groupBy(col("doc_id"), col("seg"))
      .agg(sum(col("code")).as("num"), count(lit(1)).as("len"))
    per.groupBy(col("doc_id"))
      .agg(sum(col("num")).as("tnum"), sum(col("len")).as("tlen"),
        array_sort(collect_list(struct(col("seg"), col("num"), col("len")))).as("sl"))
      .select(col("doc_id"), expr(
        """concat_ws('', transform(sl,
          |  t -> CASE WHEN t.num * tlen > tnum * t.len THEN '1' ELSE '0' END))""".stripMargin)
        .as("phash"))
  }

  /** The HOF formulation of the chunking — kept as the reference
    * implementation the native expression is fuzzed against
    * (PropertySpec); production m5 runs [[cdcChunksCol]]. */
  private[graft] def cdcChunksHof: org.apache.spark.sql.Column =
    expr(
      """filter(
        |  transform(sequence(1, size(b) - 1),
        |    k -> substring(text, element_at(b, k) + 1,
        |           element_at(b, k + 1) - element_at(b, k))),
        |  c -> c != '')""".stripMargin)

  /** Boundary array feeding [[cdcChunksHof]] (split out so the spec
    * can build the two-step reference pipeline). */
  private[graft] def cdcBoundsHof: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val w = CdcWindow
    val terms = CdcPows.zipWithIndex
      .map { case (p, j) => s"element_at(codes, i - $j) * ${p}L" }.mkString(" + ")
    (expr("transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))"),
      expr(
        s"""concat(array(0),
           |  CASE WHEN length(text) >= $w THEN
           |    filter(sequence($w, length(text)), i ->
           |      ($terms) % 1000003 % $CdcMask = 0)
           |  ELSE CAST(array() AS array<int>) END,
           |  array(length(text)))""".stripMargin))
  }

  /** The native chunking column ([[graft.functions.CdcChunks]]). */
  private[graft] def cdcChunksCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CdcChunks(
      ColumnBridge.expression(c), CdcWindow, CdcMask))
  }

  private def m5(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), explode(cdcChunksCol(col("text"))).as("chunk"))
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") >= 2)
      .sortWithinPartitions(col("chunk_md5"))
  }

  private val m5Sql = {
    val w = CdcWindow
    // BIGINT cast (ADVICE r9): DuckDB's ascii() yields INT32, and a
    // codepoint ≥ ~269 times a power up to ~1e6 overflows INT32 —
    // the oracle would error on any non-ASCII corpus while the Spark
    // side (long literals) succeeds
    val terms = CdcPows.zipWithIndex
      .map { case (p, j) => s"CAST(codes[i - $j] AS BIGINT) * $p" }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    list_transform(generate_series(1, length(text)), i -> ascii(substring(text, i, 1))) AS codes
       |  FROM documents),
       |bnd AS (
       |  SELECT doc_id, text,
       |    list_concat(list_concat([0],
       |      CASE WHEN length(text) >= $w THEN
       |        list_filter(generate_series($w, length(text)), i ->
       |          ($terms) % 1000003 % $CdcMask = 0)
       |      ELSE [] END), [length(text)]) AS b
       |  FROM base),
       |ch AS (
       |  SELECT doc_id, chunk FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(b) - 1),
       |      k -> substring(text, b[k] + 1, b[k + 1] - b[k]))) AS chunk
       |    FROM bnd)
       |  WHERE chunk <> '')
       |SELECT md5(chunk) AS chunk_md5, COUNT(*) AS n_occurrences,
       |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc_id
       |FROM ch GROUP BY md5(chunk) HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY chunk_md5""".stripMargin
  }

  /** m6: perceptual hash (aHash) over the opaque payload — the
    * multimodal dedup primitive the byte-exact family (m3/m4/m5
    * fingerprints) cannot provide: two images that differ in a few
    * bytes hash to DIFFERENT md5s but the SAME aHash, because the hash
    * is computed from coarse content structure, not bytes. The classic
    * recipe, on the stub decode (payload code units as "pixels", the
    * DecodeStub contract): divide the payload into 64 equal spans (the
    * 8×8 grid), average each span, emit bit j = 1 iff span j's mean
    * exceeds the whole payload's mean. The bit rule is evaluated in
    * INTEGER cross-multiplication (`num_j · total_len > total_num ·
    * len_j`) — no division anywhere, so both engines agree bit-exactly
    * on every boundary case. Payloads shorter than 64 units have no
    * 8×8 grid and are excluded by contract.
    *
    * Output is the d3 shape for the new signature: per doc the 64-bit
    * hash, its popcount, and the exact-match group size (groupBy+join,
    * never a window over a hash family — the d3 rule). Downstream,
    * hamming-≤k pairing over THIS signature is exactly d8's multi-index
    * machinery (64-bit signature → 4×16-bit block equi-join), already
    * oracle-checked there; the perceptual layer is what m6 adds.
    *
    * Plan history, MEASURED: the advised array-local form — per-row
    * `aggregate(slice(codes, …))` folds over the 64 spans — benched
    * 1.7× SLOWER than the explode pipeline at sf0.1 (7.9 s vs 4.8 s,
    * VERDICT r10 #5): higher-order-function lambdas run INTERPRETED
    * per element. Round 13 removed the dilemma with the native
    * codegen'd [[graft.functions.AHash]] expression — one compiled
    * code-point pass per row, no per-character row stream through two
    * hash aggregates, no interpreted lambda: measured 4.0 → ~0.6 s at
    * sf0.1 and the sf1 honest ratio drops from 8.2× toward the
    * sub-linear band. The explode pipeline stays below as the
    * executable reference the expression is fuzzed against
    * (PropertySpec), m5's CdcChunks discipline.
    */
  private def m6(s: SparkSession, d: String): DataFrame = {
    val ph = Tables.documents(s, d)
      .filter(col("doc_id").isNotNull && length(col("text")) >= 64)
      .select(col("doc_id"), aHashCol(col("text")).as("phash"))
    val counts = ph.groupBy(col("phash")).agg(count(lit(1)).as("phash_count"))
    ph.join(counts, Seq("phash"))
      .select(col("doc_id"), col("phash"),
        length(regexp_replace(col("phash"), "0", "")).cast("long").as("n_ones"),
        col("phash_count"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** The oracle-side aHash CTE chain (base/segs/per/tot/ph) over
    * `$src`'s (doc_id, $textCol) — shared verbatim by the m6 oracle
    * and m9's cross-modal dedup oracle (one perceptual hash, two
    * consumers — the mergesFor reuse discipline, SQL side). */
  private def phashCtes(src: String, textCol: String): String =
    s"""base AS (
       |  SELECT doc_id, $textCol AS ptext, length($textCol) AS n FROM $src
       |  WHERE doc_id IS NOT NULL AND length($textCol) >= 64),
       |segs AS (
       |  SELECT doc_id, ((i - 1) * 64) // n AS seg,
       |    CAST(ascii(substring(ptext, i, 1)) AS BIGINT) AS code
       |  FROM (SELECT doc_id, ptext, n, unnest(generate_series(1, n)) AS i FROM base)),
       |per AS (
       |  SELECT doc_id, seg, SUM(code) AS num, COUNT(*) AS len
       |  FROM segs GROUP BY doc_id, seg),
       |tot AS (SELECT doc_id, SUM(num) AS tnum, SUM(len) AS tlen FROM per GROUP BY doc_id),
       |ph AS (
       |  SELECT p.doc_id,
       |    string_agg(CASE WHEN p.num * t.tlen > t.tnum * p.len THEN '1' ELSE '0' END,
       |               '' ORDER BY p.seg) AS phash
       |  FROM per p JOIN tot t ON t.doc_id = p.doc_id
       |  GROUP BY p.doc_id)""".stripMargin

  private val m6Sql =
    "WITH " + phashCtes("documents", "text") + """
      |SELECT doc_id, phash,
      |  CAST(length(replace(phash, '0', '')) AS BIGINT) AS n_ones,
      |  COUNT(*) OVER (PARTITION BY phash) AS phash_count
      |FROM ph ORDER BY doc_id""".stripMargin

  /** m7: training-shard packing manifest — the WebDataset/tar-shard
    * layout-planning step: binary payloads pack into ~16 KiB shards by
    * BYTE offset in doc_id order, and the query emits the per-shard
    * manifest (doc count, byte mass, id range) a shard-writer consumes.
    * This is t10's two-level distributed prefix sum (bucket partials →
    * ~√n-row broadcast bucket offsets → bucket-local windows; no
    * corpus-wide ordered window anywhere) applied to BYTES: the same
    * machinery plans text sequences and media shards, which is the
    * point — one prefix-sum idiom, two modalities.
    *
    * Byte counts are `octet_length`, not char counts, on both engines
    * (a UTF-8 corpus would split them apart); the shard id is integer
    * `div` on exact longs. Output is one row per ~16 KiB of corpus —
    * corpus-proportional → sortWithinPartitions.
    */
  private[graft] val ShardBytes = 16384L

  /** The byte-offset/shard assignment chain shared by m7 (per-shard
    * manifest) and m11 (per-sample index): doc_id → (n_bytes,
    * byte_offset, shard_id) via the fully-partitioned three-level
    * prefix-sum scheme — no unpartitioned window (r11 verdict #4). */
  private def shardOffsets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val bucket = graft.text.TextAnalysis.derivePackBucket(maxId)
    val base = docs
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("pbucket", expr(s"doc_id div $bucket"))
    val boffsets = graft.operators.PrefixOffsets.bucketOffsets(
      base.groupBy(col("pbucket")).agg(sum(col("n_bytes")).as("bbytes")),
      Nil, "bbytes",
      graft.operators.PrefixOffsets.superBucket(maxId / bucket))
    val local = Window.partitionBy(col("pbucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(boffsets), Seq("pbucket"))
      .withColumn("byte_offset",
        col("boffset") + coalesce(sum(col("n_bytes")).over(local), lit(0L)))
      .withColumn("shard_id", expr(s"byte_offset div $ShardBytes"))
      .select(col("doc_id"), col("n_bytes"), col("byte_offset"), col("shard_id"))
  }

  private def m7(s: SparkSession, d: String): DataFrame =
    shardOffsets(s, d)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .sortWithinPartitions(col("shard_id"))

  private val m7Sql =
    """WITH b AS (
      |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents WHERE doc_id IS NOT NULL),
      |o AS (
      |  SELECT doc_id, n_bytes,
      |    CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS byte_offset
      |  FROM b)
      |SELECT byte_offset // 16384 AS shard_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1""".stripMargin

  /** m11: per-sample shard index — the random-access complement of
    * m7's manifest (a WebDataset `.idx` / tar index): for every
    * sample, (shard_id, sample_idx within the shard, local_offset =
    * its byte offset RELATIVE to the shard's first sample, n_bytes) —
    * exactly the triple a reader seeks by (`tarp`/wids resolve a
    * sample as shard file + offset + length without scanning the
    * shard). m7 plans the shards; nothing let a trainer FETCH one
    * sample until this index exists.
    *
    * Execution: [[shardOffsets]] (the shared three-level prefix-sum
    * chain) plus two windows PARTITIONED BY shard — bounded by
    * construction at ~[[ShardBytes]]/min-doc-size rows per partition,
    * so no corpus-sized sort anywhere; contiguity (local_offset(k+1) =
    * local_offset(k) + n_bytes(k)) is spec-pinned along with the
    * m7 cross-check (per-shard sample counts and byte masses equal
    * the manifest's).
    */
  private def m11(s: SparkSession, d: String): DataFrame = {
    val ws = Window.partitionBy(col("shard_id"))
    shardOffsets(s, d)
      .withColumn("sample_idx",
        row_number().over(ws.orderBy(col("doc_id"))).cast("long"))
      .withColumn("local_offset",
        col("byte_offset") - min(col("byte_offset")).over(ws))
      .select(col("doc_id"), col("shard_id"), col("sample_idx"),
        col("local_offset"), col("n_bytes"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val m11Sql =
    s"""WITH b AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |  FROM documents WHERE doc_id IS NOT NULL),
       |o AS (
       |  SELECT doc_id, n_bytes,
       |    CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS byte_offset
       |  FROM b),
       |sh AS (SELECT doc_id, n_bytes, byte_offset,
       |  byte_offset // $ShardBytes AS shard_id FROM o)
       |SELECT doc_id, shard_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY doc_id) AS BIGINT) AS sample_idx,
       |  CAST(byte_offset - MIN(byte_offset) OVER (PARTITION BY shard_id) AS BIGINT) AS local_offset,
       |  n_bytes
       |FROM sh ORDER BY doc_id""".stripMargin

  /** Bytes of binary payload that cost one vision token — the
    * patch-embedding rate (a real ViT front-end spends one token per
    * 14×14×3-ish patch; the constant is the contract, not the codec). */
  private[graft] val PatchBytes = 256L

  /** m8: INTERLEAVED multimodal sequence packing — m7 ∘ t10: documents
    * and their binary payloads pack into the same fixed token budgets,
    * where text costs its token count (t10's rule) and an image costs
    * `ceil(bytes / [[PatchBytes]])` vision tokens — the
    * interleaved-training-data layout (image patches and text share
    * one sequence budget). Every 3rd doc carries a payload (m1's
    * text-bytes stand-in; the d12 injection pattern), the rest are
    * text-only — so sequences genuinely interleave modalities.
    *
    * The offsets machinery is t10's verbatim: per-doc combined cost →
    * bucketed prefix sum with [[graft.operators.PrefixOffsets]] (no
    * unpartitioned window anywhere) → `seq_id = offset div 512`.
    * Conservation is spec-pinned: token mass (text + vision) is
    * preserved through packing — last offset + last cost == Σ costs —
    * and vision-token mass equals the byte mass priced at the patch
    * rate, so no byte and no token is lost or double-counted between
    * the modality split and the sequence layout.
    */
  private def m8(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val bucket = graft.text.TextAnalysis.derivePackBucket(maxId)
    val base = docs.select(col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")).as("n_text_tokens"),
        when(col("doc_id") % 3 === 0,
          expr(s"(octet_length(cast(text AS binary)) + ${PatchBytes - 1}) div $PatchBytes"))
          .otherwise(lit(0L)).as("n_image_tokens"))
      .withColumn("n_tokens", col("n_text_tokens") + col("n_image_tokens"))
      .withColumn("pbucket", expr(s"doc_id div $bucket"))
    val boffsets = graft.operators.PrefixOffsets.bucketOffsets(
      base.groupBy(col("pbucket")).agg(sum(col("n_tokens")).as("btok")),
      Nil, "btok",
      graft.operators.PrefixOffsets.superBucket(maxId / bucket))
    val local = Window.partitionBy(col("pbucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(boffsets), Seq("pbucket"))
      .withColumn("tok_offset",
        col("boffset") + coalesce(sum(col("n_tokens")).over(local), lit(0L)))
      .withColumn("seq_id", expr(s"tok_offset div ${graft.text.TextAnalysis.PackTokens}"))
      .select(col("doc_id"), col("n_text_tokens"), col("n_image_tokens"),
        col("n_tokens"), col("tok_offset"), col("seq_id"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val m8Sql =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_text_tokens,
      |    CAST(CASE WHEN doc_id % 3 = 0
      |         THEN (octet_length(encode(text)) + ${PatchBytes - 1}) // $PatchBytes
      |         ELSE 0 END AS BIGINT) AS n_image_tokens
      |  FROM documents WHERE doc_id IS NOT NULL),
      |o AS (
      |  SELECT doc_id, n_text_tokens, n_image_tokens,
      |    n_text_tokens + n_image_tokens AS n_tokens,
      |    CAST(COALESCE(SUM(n_text_tokens + n_image_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      |  FROM t)
      |SELECT doc_id, n_text_tokens, n_image_tokens, n_tokens, tok_offset,
      |  tok_offset // ${graft.text.TextAnalysis.PackTokens} AS seq_id
      |FROM o ORDER BY doc_id""".stripMargin

  /** m9: CROSS-MODAL near-dup dedup — the composed verdict the
    * per-modality family lacks (VERDICT r13 #7): a re-encoded image
    * with an edited caption defeats every single-signal detector —
    * byte fingerprints (m3/m4/d1) change with the re-encode, caption
    * fingerprints (t4/d1) change with the edit — but the composition
    * catches it: perceptual-hash CANDIDATES (aHash is re-encode-
    * invariant) verified by caption word overlap, then the d10
    * keep-best discipline per matched doc.
    *
    * Record model: payload = the document's bytes (the m1/m6 stub
    * decode contract), caption = its first 10 lowered words. PLANTED
    * re-encodes (the d18/d19/d22 injection discipline): every
    * `doc_id % 10 == 3` record is rebuilt from source doc
    * `doc_id - 3` with (a) its first two characters swapped — both
    * sit inside aHash span 0 for any >= 65-char payload, so every
    * span sum and the global mean are EXACTLY preserved: the
    * perceptual hash is identical while md5 differs, the re-encode
    * model — and (b) the caption's 10th word replaced ('v2'): 9 of 10
    * words shared, caption md5 differs, the edited-caption model.
    *
    * Detection: 16-char phash block equi-join (d8's 4x16 multi-index
    * on the hash STRING — hamming <= 3 implies >= 1 exact block),
    * exact hamming verify on candidates (64-step integer fold — the
    * pairs are post-blocking few, so the interpreted HOF is off the
    * hot path), caption verify 3·|A∩B| >= |A|+|B| on DISTINCT word
    * sets (Jaccard >= 1/2, integer cross-multiplied — no float), then
    * per matched doc: partner count and `keep` = beats every partner
    * on (n_bytes desc, doc_id asc) — d10's quality argmax. The swap
    * preserves length, so each planted pair ties on bytes and the
    * SOURCE keeps: deterministic, spec-pinned.
    *
    * Scale shape: the only joins are the 16-bit-value block self-join
    * (occupancy-bounded like d8, family-quadratic never corpus-
    * quadratic), two candidate-sized attribute joins, and the
    * pair-sized rollup; phash is one native codegen'd pass per row;
    * no window, no broadcast of anything corpus-sized.
    */
  private def m9(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id").isNotNull && length(col("text")) >= 64)
    val srcp = Tables.documents(s, d)
      .filter(col("doc_id").isNotNull && col("doc_id") % 10 === 0 &&
        length(col("text")) >= 65)
      .select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val recs = docs.withColumn("jk", col("doc_id") - 3)
      .join(srcp, col("doc_id") % 10 === 3 && col("jk") === col("src_id"), "left")
      .select(col("doc_id"),
        when(col("src_id").isNotNull, expr(
          "concat(substring(src_text, 2, 1), substring(src_text, 1, 1), substring(src_text, 3))"))
          .otherwise(col("text")).as("payload"),
        when(col("src_id").isNotNull, expr(
          "concat(slice(filter(split(lower(src_text), '\\\\s+'), t -> t != ''), 1, 9), array('v2'))"))
          .otherwise(expr("slice(filter(split(lower(text), '\\\\s+'), t -> t != ''), 1, 10)"))
          .as("cap"))
    // the '0'/'1' hash string converts ONCE per record to two 32-bit
    // halves, so the per-candidate hamming verify is codegen'd
    // bit_count(xor) — the d8 discipline. The 16-bit block candidates
    // grow with the SQUARE of block occupancy (birthday collisions:
    // ~800 pairs at sf0.1 → ~76k at sf1), which is fine iff the
    // verify is near-free; the first cut's interpreted 64-step
    // substring fold multiplied exactly that growth and tripped the
    // sf1 gate at 8.4x.
    val sig = recs.select(col("doc_id"), col("cap"),
      octet_length(col("payload").cast("binary")).cast("long").as("n_bytes"),
      aHashCol(col("payload")).as("phash"))
      .withColumn("ph_hi", expr("cast(conv(substring(phash, 1, 32), 2, 10) as bigint)"))
      .withColumn("ph_lo", expr("cast(conv(substring(phash, 33, 32), 2, 10) as bigint)"))
    val blocks = sig.select(col("doc_id"), col("ph_hi"), col("ph_lo"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), substring(col("phash"), 1 + 16 * b, 16).as("bkey"))): _*))
        .as("blk"))
      .select(col("doc_id"), col("ph_hi"), col("ph_lo"),
        col("blk.b").as("b"), col("blk.bkey").as("bkey"))
    // hamming <= 3 verifies INSIDE the join (codegen'd xor+popcount),
    // so the quadratic candidate stream dies before the distinct
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id") &&
          expr("bit_count(x.ph_hi ^ y.ph_hi) + bit_count(x.ph_lo ^ y.ph_lo)") <= 3)
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        expr("bit_count(x.ph_hi ^ y.ph_hi) + bit_count(x.ph_lo ^ y.ph_lo)").as("hamming"))
      .distinct()
    val ver = cand
      .join(sig.select(col("doc_id").as("da"), col("cap").as("ca"),
        col("n_bytes").as("nba")), Seq("da"))
      .join(sig.select(col("doc_id").as("db"), col("cap").as("cb"),
        col("n_bytes").as("nbb")), Seq("db"))
      .withColumn("ninter",
        size(array_intersect(array_distinct(col("ca")), array_distinct(col("cb")))))
      .filter(col("ninter") * 3 >=
        size(array_distinct(col("ca"))) + size(array_distinct(col("cb"))))
    val part = ver.select(col("da").as("doc_id"), col("nba").as("nb"),
        col("db").as("partner"), col("nbb").as("pnb"))
      .unionByName(ver.select(col("db").as("doc_id"), col("nbb").as("nb"),
        col("da").as("partner"), col("nba").as("pnb")))
    part.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_partners"), max(col("nb")).as("n_bytes"),
        expr("bool_and(nb > pnb OR (nb = pnb AND doc_id < partner))").as("keep"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val m9Sql =
    """WITH srcp AS (
      |  SELECT doc_id AS src_id, text AS src_text FROM documents
      |  WHERE doc_id IS NOT NULL AND doc_id % 10 = 0 AND length(text) >= 65),
      |recs AS (
      |  SELECT d.doc_id,
      |    CASE WHEN s.src_id IS NOT NULL
      |      THEN substring(s.src_text, 2, 1) || substring(s.src_text, 1, 1) || substring(s.src_text, 3)
      |      ELSE d.text END AS payload,
      |    CASE WHEN s.src_id IS NOT NULL
      |      THEN list_concat(regexp_extract_all(lower(s.src_text), '\S+')[1:9], ['v2'])
      |      ELSE regexp_extract_all(lower(d.text), '\S+')[1:10] END AS cap
      |  FROM (SELECT doc_id, text FROM documents
      |        WHERE doc_id IS NOT NULL AND length(text) >= 64) d
      |  LEFT JOIN srcp s ON d.doc_id % 10 = 3 AND s.src_id = d.doc_id - 3),
      |""".stripMargin +
      phashCtes("recs", "payload") + """,
      |sig AS (
      |  SELECT r.doc_id, r.cap,
      |    CAST(octet_length(encode(r.payload)) AS BIGINT) AS n_bytes, p.phash
      |  FROM recs r JOIN ph p USING (doc_id)),
      |blk AS (
      |  SELECT doc_id, phash, b, substring(phash, 1 + 16 * b, 16) AS bkey
      |  FROM sig, unnest([0, 1, 2, 3]) AS u(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM blk a JOIN blk b
      |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |ver AS (
      |  SELECT c.da, c.db, sa.n_bytes AS nba, sb.n_bytes AS nbb
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.da JOIN sig sb ON sb.doc_id = c.db
      |  WHERE list_sum(list_transform(generate_series(1, 64), i ->
      |          CASE WHEN sa.phash[i] = sb.phash[i] THEN 0 ELSE 1 END)) <= 3
      |    AND 3 * len(list_intersect(list_distinct(sa.cap), list_distinct(sb.cap)))
      |        >= len(list_distinct(sa.cap)) + len(list_distinct(sb.cap))),
      |part AS (
      |  SELECT da AS doc_id, nba AS nb, db AS partner, nbb AS pnb FROM ver
      |  UNION ALL
      |  SELECT db, nbb, da, nba FROM ver)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners, MAX(nb) AS n_bytes,
      |  BOOL_AND(nb > pnb OR (nb = pnb AND doc_id < partner)) AS keep
      |FROM part GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Scene-boundary threshold: hamming ≥ 2 of consecutive sampled
    * frames' 64-bit perceptual hashes. Data-informed (the g19/t16
    * rule): the DuckDB probe of the consecutive-frame hamming
    * distribution measured 0–3 with median 1 / p90 2, so τ=2 leaves
    * BOTH populations non-degenerate at every SF (sf0.01: 104
    * boundaries over 1065 frames, 254 scenes, largest scene 9
    * frames — multi-frame scenes and cuts both provable). */
  private[graft] val SceneHamTau = 2L

  /** m10: video scene segmentation over the sampled frame stream —
    * the shot-boundary detection every video-curation pipeline runs
    * before captioning/dedup (PySceneDetect's content-detector shape:
    * consecutive-frame perceptual distance over a threshold = a cut):
    * m2's every-10th-frame sample VERBATIM (the s19 composition rule)
    * joins its frame payload, hashes each frame with the native
    * [[graft.functions.AHash]] expression (m6's hash, third consumer),
    * and a frame starts a new scene when its hamming distance to the
    * PREVIOUS sampled frame reaches [[SceneHamTau]].
    *
    * Distribution shape: "previous frame" is an EQUI-JOIN on
    * (user_id, frame_idx − 10) — sampled indices are exactly
    * {1, 11, 21, …} per user, so the lag is a join key, not a window
    * (the hot-video row_number risk m2 de-windowed stays de-windowed);
    * the scene id (running count of boundaries in frame order) is the
    * m2/t10 bucketed prefix idiom: per-(user, bucket) boundary sums →
    * [[graft.operators.PrefixOffsets]] (parts = user) → a
    * within-bucket cumulative window over ≤ bucket-width rows. The
    * only windows are bucket-bounded; the hamming is codegen'd
    * bit_count(xor) over the conv()-packed 32-bit halves (m9/d8's
    * idiom). Oracle: the LAG + SUM OVER window
    * formulation with m6's phash CTE chain — same values, the window
    * form DuckDB can afford at oracle scale.
    */
  private def m10(s: SparkSession, d: String): DataFrame = {
    // the phash rides as the output string, but the hamming compares
    // its two conv()-packed longs via codegen'd bit_count(xor) — the
    // repo's m9/d8 idiom (VERDICT r15 #2: the 64-iteration substring
    // HOF was the interpreted outlier)
    // r20 (guide §2.4): `fr` (the m2 row_number window + frame hash)
    // feeds BOTH sides of the previous-frame self-join, and `withB`
    // below feeds both the bucket sums and the final cumulative —
    // lazily the m2 window subtree executed 4× per run. Both are
    // sampled-frame metadata (corpus/10 rows, hash longs — no
    // payload), materialized once.
    val fr = m2(s, d)
      .join(Tables.events(s, d).select(col("event_id"), col("props")), Seq("event_id"))
      .withColumn("fimg", rpad(coalesce(col("props"), lit("")), 64, "."))
      .select(col("user_id"), col("frame_idx"), col("event_id"),
        aHashCol(col("fimg")).as("phash"))
      .withColumn("ph_hi", expr("cast(conv(substring(phash, 1, 32), 2, 10) as bigint)"))
      .withColumn("ph_lo", expr("cast(conv(substring(phash, 33, 32), 2, 10) as bigint)"))
      .localCheckpoint()
    val prev = fr.select(col("user_id"), (col("frame_idx") + 10).as("frame_idx"),
      col("ph_hi").as("prev_hi"), col("ph_lo").as("prev_lo"))
    // bucket sizing reads a scan-level upper bound (total event count
    // >= any user's frame_idx), not max(frame_idx) over the m2 window
    // subtree — the bucket width never changes output values (offsets
    // are bucketing-invariant), so the cheap bound is oracle-safe and
    // drops the third execution of the per-user row_number window
    // (VERDICT r15 #3)
    val maxIdx = Tables.events(s, d).count()
    val bucket = graft.text.TextAnalysis.derivePackBucket(maxIdx)
    val withB = fr
      .join(prev, Seq("user_id", "frame_idx"), "left")
      .withColumn("ham_prev", when(col("prev_hi").isNull, lit(null).cast("long"))
        .otherwise(expr(
          "CAST(bit_count(ph_hi ^ prev_hi) + bit_count(ph_lo ^ prev_lo) AS BIGINT)")))
      .withColumn("is_boundary", coalesce(col("ham_prev") >= SceneHamTau, lit(false)))
      .withColumn("bflag", when(col("is_boundary"), lit(1L)).otherwise(lit(0L)))
      .withColumn("pbucket", expr(s"frame_idx div $bucket"))
      .localCheckpoint()
    val bsums = withB.groupBy(col("user_id"), col("pbucket")).agg(sum(col("bflag")).as("bs"))
    val boffsets = graft.operators.PrefixOffsets.bucketOffsets(bsums, Seq("user_id"), "bs",
      graft.operators.PrefixOffsets.superBucket(maxIdx / bucket))
    val local = Window.partitionBy(col("user_id"), col("pbucket"))
      .orderBy(col("frame_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB
      .join(boffsets, Seq("user_id", "pbucket"))
      .withColumn("scene_id", col("boffset") + sum(col("bflag")).over(local))
      .select(col("user_id"), col("frame_idx"), col("event_id"), col("phash"),
        col("ham_prev"), col("is_boundary"), col("scene_id"))
      .sortWithinPartitions(col("user_id"), col("frame_idx"))
  }

  private val m10Sql =
    s"""WITH f AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS frame_idx,
       |    rpad(coalesce(props, ''), 64, '.') AS fimg
       |  FROM events),
       |frames AS (
       |  SELECT user_id, event_id AS doc_id, frame_idx, fimg
       |  FROM f WHERE frame_idx % 10 = 1),
       |${phashCtes("frames", "fimg")},
       |j AS (
       |  SELECT fr.user_id, fr.frame_idx, fr.doc_id AS event_id, ph.phash,
       |    LAG(ph.phash) OVER (PARTITION BY fr.user_id ORDER BY fr.frame_idx) AS prev
       |  FROM frames fr JOIN ph ON ph.doc_id = fr.doc_id),
       |h AS (
       |  SELECT user_id, frame_idx, event_id, phash,
       |    CASE WHEN prev IS NULL THEN NULL
       |         ELSE CAST(len(list_filter(generate_series(1, 64),
       |                i -> substring(phash, i, 1) <> substring(prev, i, 1))) AS BIGINT)
       |    END AS ham_prev
       |  FROM j)
       |SELECT user_id, frame_idx, event_id, phash, ham_prev,
       |  COALESCE(ham_prev >= $SceneHamTau, FALSE) AS is_boundary,
       |  CAST(SUM(CASE WHEN COALESCE(ham_prev >= $SceneHamTau, FALSE) THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY frame_idx) AS BIGINT) AS scene_id
       |FROM h ORDER BY user_id, frame_idx""".stripMargin

  val queries: Map[String, QFn] = Map(
    "m11_shard_index" -> (m11 _),
    "m12_magic_sniff" -> (m12 _),
    "m10_scene_split" -> (m10 _),
    "m9_crossmodal_dedup" -> (m9 _),
    "m8_interleaved_pack" -> (m8 _),
    "m7_shard_pack" -> (m7 _),
    "m1_binary_meta" -> (m1 _),
    "m2_frame_sample" -> (m2 _),
    "m3_chunking" -> (m3 _),
    "m4_chunk_dedup" -> (m4 _),
    "m5_cdc_chunks" -> (m5 _),
    "m6_perceptual_hash" -> (m6 _))

  val oracles: Map[String, String] = Map(
    "m11_shard_index" -> m11Sql,
    "m12_magic_sniff" -> m12Sql,
    "m10_scene_split" -> m10Sql,
    "m9_crossmodal_dedup" -> m9Sql,
    "m8_interleaved_pack" -> m8Sql,
    "m7_shard_pack" -> m7Sql,
    "m1_binary_meta" -> m1Sql,
    "m2_frame_sample" -> m2Sql,
    "m3_chunking" -> m3Sql,
    "m4_chunk_dedup" -> m4Sql,
    "m5_cdc_chunks" -> m5Sql,
    "m6_perceptual_hash" -> m6Sql)
}
