package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QFn, Exact}

/** Structured Streaming operators st1–st3 (SURVEY.md §2): the same
  * event-time aggregations as the batch queries, run through
  * readStream → transform → memory sink. On a bounded input the result
  * must equal the batch answer — which is exactly what the oracle
  * checks.
  *
  * Scale: on an unbounded cluster feed these are the standard
  * watermark + windowed-state patterns; state is keyed by
  * (window, key) so it shards across executors.
  */
object StreamingOps {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Bumped whenever [[stageEventSplits]]' output depends on new logic
    * (e.g. the Tables.events ts-normalization), so files staged by an
    * older logic re-stage instead of being served. */
  private val StagedEventsVersion = "tsnanos2"

  /** Writes the `landing` artifact every stager here shares: split k
    * as ONE parquet file named `fileName(k)`, with strictly increasing
    * mtimes (the file source admits oldest-first, so admission order
    * is pinned). The directory is swapped in whole, so it holds exactly
    * this staging's files, and the rename keeps their mtimes. */
  private def writeLandingSplits(st: graft.StagePath.Build,
      src: java.nio.file.Path, nFiles: Int,
      fileName: Int => String, split: Int => DataFrame): Unit =
    st.write("landing") { dir =>
      val work = dir.resolve("_work")
      val baseMs = java.nio.file.Files.getLastModifiedTime(src).toMillis
      for (k <- 0 until nFiles) {
        split(k).coalesce(1).write.mode("overwrite").parquet(work.toString)
        val partFile = {
          val l = java.nio.file.Files.list(work)
          try l.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          finally l.close()
        }
        val dst = dir.resolve(fileName(k))
        java.nio.file.Files.move(partFile, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(baseMs + k * 1000L))
      }
      graft.StagePath.deleteRecursively(work)
    }

  /** Stages corpus table `source` as `nFiles` landing files named
    * `b<k>.parquet` and returns the landing directory. The file count
    * is part of the directory name: the reader admits every file in
    * the directory, so a staging under another count must never share
    * it. */
  private def stageLanding(s: SparkSession, d: String, name: String,
      source: String, version: String, nFiles: Int)(
      split: Int => DataFrame): java.nio.file.Path =
    graft.StagePath.staged(s, name, d, Seq(source), version, Seq("landing"),
        s"_n$nFiles") { st =>
      writeLandingSplits(st, java.nio.file.Paths.get(d, source), nFiles,
        k => s"b$k.parquet", split)
    }.resolve("landing")

  /** Stage the events table into a landing directory as `nFiles`
    * parquet files split by `event_id % nFiles`. The write goes through
    * [[graft.Tables.events]], so the staged `ts` is the engine-wide
    * epoch-nanos Long whatever the source file's physical timestamp
    * type, and matches [[eventsSchema]].
    */
  private def stageEventSplits(s: SparkSession, d: String,
      name: String, nFiles: Int): java.nio.file.Path =
    stageLanding(s, d, name, "events.parquet", StagedEventsVersion, nFiles)(k =>
      graft.Tables.events(s, d).filter(col("event_id") % nFiles === k))

  /** The bounded event stream, staged as EXACTLY ONE file so the whole
    * input lands in a single micro-batch. Several oracle equalities
    * lean on that: st7's `dropDuplicatesWithinWatermark` equals the
    * batch distinct only while the watermark never advances mid-run
    * (multi-batch staging could drop late rows or re-emit out-of-window
    * duplicates), and the append-mode queries emit their final window
    * only because one batch closes it.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(eventsSchema)
      .parquet(stageEventSplits(s, d, "stream", 1).toString)

  /** The bounded event stream staged as FOUR files (split by
    * `event_id % 4`, mtimes strictly increasing in split order) read
    * with `maxFilesPerTrigger=1` — the multi-batch regime st8 exists
    * to exercise: the watermark genuinely advances BETWEEN batches, so
    * windows close mid-run and late rows (each split interleaves the
    * full time range) genuinely drop, and the drop/emit sequence — and
    * therefore st8's oracle — is deterministic.
    */
  private def eventsStreamMulti(s: SparkSession, d: String, nFiles: Int): DataFrame =
    s.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageEventSplits(s, d, "stream_multi", nFiles).toString)

  private val docsStreamSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** [[docsStreamMulti]]'s staged shape — the admit stagers keep the
    * narrower [[docsStreamSchema]] (their files don't carry `source`,
    * and a shared widened schema would silently read nulls there). */
  private val docsStreamFullSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** The FULL document corpus staged as `nFiles` landing files (split
    * by `doc_id % nFiles`, strictly increasing mtimes) and read with
    * `maxFilesPerTrigger=1` — the document-side twin of
    * [[eventsStreamMulti]], for stateless ingest-time transforms
    * (st12) whose oracle is the batch query over the whole table.
    */
  private def docsStreamMulti(s: SparkSession, d: String, nFiles: Int): DataFrame = {
    // alldocs2: the staged rows gained `lang` (st13 derives chat
    // requests, whose model policy reads it); alldocs3: gained `source`
    // (st17's URL gate plants the provenance URL from it)
    val dir = stageLanding(s, d, "stream_alldocs", "documents.parquet", "alldocs3", nFiles)(k =>
      graft.Tables.documents(s, d)
        .filter(col("doc_id") % nFiles === k)
        .select(col("doc_id"), col("text"), col("lang"), col("source")))
    s.readStream.schema(docsStreamFullSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }

  /** st9's staged inputs: the "today's ingest" document stream (the
    * newest ~20% by id — d12's split rule — as `nFiles` landing files)
    * plus the two dedup manifests and the Bloom bitmap PERSISTED to
    * parquet, exactly the state a nightly sweep leaves behind for the
    * next day's continuous admission ([[graft.dedup.Dedup.d12Manifests]];
    * mirrors the reference's persisted-results resume,
    * vertex_ai_batch_processor.py:298). Materializing the manifests at
    * staging time also means the batch-side aggregation runs under the
    * session's full parallelism, not the stream's reduced
    * [[StreamPartitions]] regime. The split scalar is a metadata-sized
    * driver aggregate (same class as t10's documented max-id scalar) —
    * staging is an eager filesystem write anyway. The manifests are
    * siblings of `landing/`, so the file stream source never admits
    * them. The marker's version folds in the manifest logic token (a
    * d12Manifests/signature change must re-stage, or st9 fails its
    * d12-verbatim oracle) and the Bloom width (st10 probing a bitmap of
    * another width yields wrong bloom_maybe values, including Bloom
    * FALSE NEGATIVES).
    */
  private def stagedAdmitInputs(s: SparkSession, d: String,
      nFiles: Int = 1, filesPerTrigger: Int = 1)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val manifests = Seq("fp_manifest", "sig_manifest", "bloom_manifest")
    val dir = graft.StagePath.staged(s, "stream_docs", d, Seq("documents.parquet"),
        graft.dedup.Dedup.manifestLogicToken + ":b" + graft.dedup.Dedup.BloomBitsLog2,
        "landing" +: manifests, if (nFiles > 1) s"_n$nFiles" else "") { st =>
      val docs = graft.Tables.documents(s, d).filter(col("doc_id").isNotNull)
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      // division-first split, matching d12's overflow-proof rule
      writeLandingSplits(st, java.nio.file.Paths.get(d, "documents.parquet"), nFiles,
        k => s"new_docs_$k.parquet",
        k => docs.filter(col("doc_id") > lit(mx - mx / 5))
          .filter(col("doc_id") % nFiles === k)
          .select(col("doc_id"), col("text")))
      val (fpM, sigM) = graft.dedup.Dedup.d12Manifests(s, d)
      val written = Seq(
        st.write("fp_manifest")(p => fpM.write.parquet(p.toString)),
        st.write("sig_manifest")(p => sigM.write.parquet(p.toString)),
        // the sweep also leaves the Bloom bitmap behind (st10's
        // prefilter state — d17's build over the same fp manifest)
        st.write("bloom_manifest")(p =>
          graft.dedup.Dedup.bloomWordsOf(fpM.select(col("fp")), graft.dedup.Dedup.BloomM)
            .write.parquet(p.toString)))
      // a cached plan over the old manifests would serve them forever
      // (a silent wrong answer): refreshByPath drops both the cached
      // data and the file listing
      written.foreach(p => s.catalog.refreshByPath(p.toString))
    }
    val reader = s.readStream.schema(docsStreamSchema)
    // nFiles landing files drained filesPerTrigger at a time: the
    // default (1) is the multi-batch regime; filesPerTrigger > 1 is
    // the production landing shape — a trigger never sees exactly one
    // file in a real landing dir, and the stateless admission paths
    // must be file-count-invariant per trigger too
    val multi =
      if (nFiles > 1) reader.option("maxFilesPerTrigger", filesPerTrigger.toString)
      else reader
    // The manifest side is STATIC across the life of the stream, yet a
    // stream-static join re-executes the batch side every micro-batch —
    // at N landing files per day that is N parquet scans + decodes of
    // the same manifests. With one staged file (= one data micro-batch)
    // there is nothing to amortize and a persist is pure overhead
    // (measured: st9/st10 1.67x/1.52x slower with it, on≈off at sf0.1
    // and sf1 for the single-file regime). Multi-file runs (and any
    // unbounded production landing dir) re-read the manifests every
    // trigger and persist them, MEMORY_AND_DISK because a production
    // fp manifest is corpus-admitted-sized.
    def manifest(name: String): DataFrame = {
      val df = s.read.parquet(dir.resolve(name).toString)
      if (nFiles > 1 &&
          df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    (multi.parquet(dir.resolve("landing").toString),
      manifest("fp_manifest"), manifest("sig_manifest"), manifest("bloom_manifest"))
  }

  /** State-store partition count for the bounded streaming queries.
    * Stateful operators commit one delta file per state partition per
    * store per micro-batch — at the session default of 32 partitions,
    * st6's interval join (4 state stores x 32 partitions x data+watermark
    * batches) pays ~256 file commits of pure fixed overhead while the
    * DATA per batch is tiny. 2 partitions cut that floor 16x (measured:
    * 21.6 s -> 10.8 s for the seven-query subset at sf0.1; 4 partitions
    * left ~0.8 s on the table vs 2); the stateful work itself is keyed
    * and sharded identically (results are partitioning-invariant), and
    * an unbounded production feed — where state volume, not commit
    * count, dominates — would raise this back up. */
  private val StreamPartitions = "2"

  /** Runs a bounded streaming query to completion into a memory sink
    * and returns its result table.
    *
    * `Trigger.AvailableNow` (not `processAllAvailable` polling): the
    * query plans all staged input at start — still ONE data micro-batch
    * for the single staged file, preserving the eventsStream invariant —
    * runs the no-data watermark-advance batch, and stops itself, so
    * completion is event-driven rather than poll-detected.
    */
  private def runToMemory(s: SparkSession, out: DataFrame, name: String,
                          mode: String = "complete"): DataFrame = {
    s.streams.active.filter(_.name == name).foreach(_.stop())
    // shuffle.partitions is read at query START and pinned in the
    // checkpoint; setting it here scopes the reduction to this
    // streaming query, the finally puts the batch default back.
    // SINGLE-QUERY-AT-A-TIME contract (ADVICE r8): the override is
    // session-global while the stream runs, so any OTHER query planned
    // on this SparkSession during that window would silently pick up
    // the 2-partition setting. The driver contract runs queries
    // sequentially, which is what makes this safe; a concurrent
    // deployment would run each stream on s.newSession() instead (the
    // plan would need building against that session from the start —
    // DataFrames are session-bound).
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamPartitions)
    try {
      val q = out.writeStream.outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("memory").queryName(name).start()
      q.awaitTermination()
      lastRunBatches(name) = q.recentProgress.toSeq.map(_.numInputRows)
      lastRunTrace(name) = q.recentProgress.toSeq.map { p =>
        val drops = p.stateOperators.map(_.numRowsDroppedByWatermark).mkString(",")
        s"batch=${p.batchId} in=${p.numInputRows} eventTime=${p.eventTime} dropped=[$drops]"
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** numInputRows per micro-batch of each query's last completed run —
    * observability for the specs (StreamingMultiBatchSpec asserts st8
    * really processed its input across MULTIPLE data batches, not one).
    */
  private[graft] val lastRunBatches =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]

  /** Full per-micro-batch progress trace of each query's last run —
    * (numInputRows, eventTime map incl. watermark, stateOperators'
    * numRowsDroppedByWatermark) rendered as strings, for the specs of
    * st8's per-batch oracle model. */
  private[graft] val lastRunTrace =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** st1: streaming tumbling 1-hour window aggregation (event-time from
    * the epoch-nanos column, 10-min watermark). Complete mode so the
    * final (still-open) window is emitted on the bounded input.
    */
  private def st1(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("hour_s"),
        col("event_type"), col("n"), col("sum_value"))
    runToMemory(s, agg, "graft_st1")
      .orderBy(col("hour_s"), col("event_type"))
  }

  private val st1Sql =
    """SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_s, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_s, event_type""".stripMargin

  /** st2: streaming exact dedup on the event key + rollup — the
    * dropDuplicates-with-state pattern.
    */
  private def st2(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
    runToMemory(s, agg, "graft_st2")
      .orderBy(col("event_type"))
  }

  private val st2Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT DISTINCT ON (event_id) * FROM events ORDER BY event_id)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** st7: watermark-BOUNDED streaming dedup — st2's `dropDuplicates`
    * keeps every key it has ever seen in state, which on an unbounded
    * feed grows without limit (the 100 TB OOM in slow motion).
    * `dropDuplicatesWithinWatermark` drops a key's state once the
    * watermark passes it: correct whenever duplicates arrive within the
    * watermark delay of each other (the retry/replay window that
    * actually produces duplicates in practice), with O(watermark·rate)
    * state. On bounded input with in-window duplicates it equals the
    * batch distinct, which is what the oracle checks.
    *
    * Oracle-equality caveat: st7Sql = st2Sql holds because
    * [[eventsStream]] stages the input as ONE file → one micro-batch,
    * so the watermark never advances mid-run. Staged as multiple
    * files/triggers, the operator could legitimately drop late rows or
    * re-emit out-of-window duplicates and the compare would flake —
    * that is the operator's documented streaming semantics, not a bug.
    */
  private def st7(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
    runToMemory(s, agg, "graft_st7")
      .orderBy(col("event_type"))
  }

  private val st7Sql = st2Sql

  /** st3: stream-static join — the event stream enriched against the
    * static customer dimension (broadcast; re-read per micro-batch in
    * production, no state). The standard dimension-enrichment pattern.
    */
  private def st3(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val c = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(s, d)
      .join(broadcast(c), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
    runToMemory(s, agg, "graft_st3")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  private val st3Sql =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** st4: streaming gap-sessionization through the custom stateful
    * operator ([[Sessionizer]], `flatMapGroupsWithState`) — the
    * streaming twin of batch q13. Append mode emits CLOSED sessions
    * only (a later event proves the 30-min gap); each user's open
    * session stays in state, so the oracle drops the last session per
    * user. State is one open-session summary per user — O(1), sharded
    * by key across executors.
    */
  private def st4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val ev = eventsStream(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tus"), col("value"))
      .as[SessionEvent]
    val out = Sessionizer.sessions(ev).toDF()
    runToMemory(s, out, "graft_st4", mode = "append")
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("sum_value"))
      .sortWithinPartitions(col("user_id"), col("session_start_us"))
  }

  // sum_value replicates the operator's left-fold double accumulation
  // (ordered list_reduce), not a decimal SUM — the state sums raw
  // doubles in (tus, event_id) order and the fold is bit-deterministic.
  private val st4Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      |flags AS (SELECT *,
      |    CASE WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
      |         WHEN LAG(tus) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |sess AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flags),
      |agg AS (SELECT user_id, session_id,
      |    MIN(tus) AS session_start_us, MAX(tus) AS session_end_us,
      |    COUNT(*) AS n_events,
      |    list_reduce(list(value ORDER BY tus, event_id), (a, b) -> a + b) AS sum_value
      |  FROM sess GROUP BY user_id, session_id),
      |open AS (SELECT user_id, MAX(session_id) AS open_sid FROM agg GROUP BY user_id)
      |SELECT a.user_id, session_start_us, session_end_us, n_events, sum_value
      |FROM agg a JOIN open o ON a.user_id = o.user_id AND a.session_id < o.open_sid
      |ORDER BY a.user_id, session_start_us""".stripMargin

  /** st5: append-mode windowed aggregation under a watermark — the
    * production unbounded-stream path (st1's complete mode re-emits
    * the whole result table every trigger; append emits each window
    * once, when the watermark passes its end, and state for it is
    * dropped). On bounded input the final watermark is
    * max(event_time) − 10 min (ms precision), so exactly the windows
    * whose end ≤ that watermark are emitted — which is what the
    * oracle's HAVING clause replicates. The still-open tail windows
    * stay in state, like st4's open sessions.
    */
  private def st5(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("hour_s"),
        col("event_type"), col("n"), col("sum_value"))
    runToMemory(s, agg, "graft_st5", mode = "append")
      .orderBy(col("hour_s"), col("event_type"))
  }

  // Watermark is ms-precision in Spark: floor(max_us/1000) − 600000.
  private val st5Sql =
    """SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_s, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |HAVING (hour_s + 3600) * 1000 <=
      |  (SELECT MAX(epoch_us(ts)) // 1000 - 600000 FROM events)
      |ORDER BY hour_s, event_type""".stripMargin

  /** st8: st5's append-mode windowed aggregation under a REAL
    * multi-batch regime — four staged files admitted one per trigger
    * ([[eventsStreamMulti]]), so the watermark advances between
    * batches, windows close mid-run, and rows arriving after their
    * window closed are dropped as late data. Every other streaming
    * oracle equality leans on the single-file/single-batch staging
    * invariant ([[eventsStream]]); this query is the one whose oracle
    * replicates the per-batch mechanics instead:
    *
    *  - batch k = `event_id % 4 = k` (each split spans the full time
    *    range, so later batches DO carry rows for already-closed
    *    windows — real drops, not a vacuous pass);
    *  - Spark keeps TWO watermarks per stateful operator (measured via
    *    [[lastRunTrace]]'s numRowsDroppedByWatermark): EVICTION uses
    *    the current batch's value (max event time over batches < k,
    *    ms floor, − 10 min), but the LATE-ROW FILTER uses the PREVIOUS
    *    batch's (max over batches < k−1) — so a row arriving in the
    *    same batch that advances the watermark past its window is
    *    still admitted. The two are offset exactly so that a window
    *    evicted at batch k is un-reenterable at k+1 — no window is
    *    ever emitted twice (append-mode invariant);
    *  - a row in batch k is therefore dropped iff its window end ≤
    *    the batch-(k−1) watermark;
    *  - after the final no-data batch, exactly the windows with
    *    end ≤ final watermark have been emitted (st5's ms-precision
    *    rule, applied per batch in admission order).
    *
    * On an unbounded production feed this IS the operating regime —
    * st8 pins those semantics with a hash-checked oracle.
    */
  private def st8(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStreamMulti(s, d, 4)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("hour_s"),
        col("event_type"), col("n"), col("sum_value"))
    runToMemory(s, agg, "graft_st8", mode = "append")
      .orderBy(col("hour_s"), col("event_type"))
  }

  private val st8Sql =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS tus, event_type, value,
      |    event_id % 4 AS b
      |  FROM events),
      |bwm AS (SELECT b, MAX(tus) // 1000 - 600000 AS wm_after FROM e GROUP BY b),
      |wlate AS (
      |  SELECT w.b,
      |    (SELECT MAX(w2.wm_after) FROM bwm w2 WHERE w2.b < w.b - 1) AS wm_late
      |  FROM bwm w),
      |kept AS (
      |  SELECT e.* FROM e JOIN wlate w ON w.b = e.b
      |  WHERE w.wm_late IS NULL
      |     OR ((tus // 3600000000) * 3600 + 3600) * 1000 > w.wm_late)
      |SELECT (tus // 3600000000) * 3600 AS hour_s, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM kept
      |GROUP BY 1, 2
      |HAVING (hour_s + 3600) * 1000 <= (SELECT MAX(wm_after) FROM bwm)
      |ORDER BY hour_s, event_type""".stripMargin

  /** st6: stream-stream interval join — each click joined to the same
    * user's purchases within the following 30 minutes. Both sides carry
    * watermarks and the join carries a time-range constraint, so state
    * on either side is dropped once the watermark passes the range —
    * the production attribution-join pattern with bounded state. On
    * bounded input the inner join emits exactly the batch answer.
    */
  private def st6(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("cts"))
      .withWatermark("cts", "10 minutes")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        timestamp_micros(expr("ts div 1000")).as("pts"))
      .withWatermark("pts", "10 minutes")
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("cts")).as("click_us"), unix_micros(col("pts")).as("purchase_us"))
    runToMemory(s, joined, "graft_st6", mode = "append")
      .sortWithinPartitions(col("user_id"), col("click_id"), col("purchase_id"))
  }

  private val st6Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events)
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  c.tus AS click_us, p.tus AS purchase_us
      |FROM e c JOIN e p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.tus >= c.tus AND p.tus <= c.tus + 1800000000
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** The bounded event stream staged as `nFiles` TIME-ORDERED files
    * (file k = the k-th ntile of rows ordered by (ts, event_id),
    * mtimes strictly increasing in split order) read one per trigger —
    * [[st19Files]]' multi-batch regime. Unlike [[eventsStreamMulti]]'s
    * `event_id % n` splits (each spanning the full time range, BUILT
    * to exercise late-row drops in st8), time-contiguous files carry
    * NO late data at all: every row in file k+1 is event-time ≥ every
    * row in file k, so the watermark advances monotonically under it
    * and a watermark-correct operator must produce the SAME answer at
    * any file count — the batching-invariance contract
    * StreamingMultiBatchSpec pins for the as-of join. The ntile window
    * is one sort of the bounded corpus at stage time (test-scale
    * staging cost, not the operator's plan; production feeds arrive
    * time-ordered from the bus anyway).
    */
  private def eventsStreamTimeOrdered(s: SparkSession, d: String, nFiles: Int): DataFrame = {
    lazy val ranked = graft.Tables.events(s, d).withColumn("_tile",
      ntile(nFiles).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))) - 1)
    val dir = stageLanding(s, d, "stream_torder", "events.parquet",
        StagedEventsVersion + "_torder1", nFiles)(k =>
      ranked.filter(col("_tile") === k).drop("_tile"))
    s.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }


  /** st19: stream-stream AS-OF join — each purchase matched to the
    * same user's LATEST click at-or-before it, the streaming analogue
    * of q15/q23 (VERDICT r17 #5) and the composition production users
    * reach for next after st6's interval join (latest-quote-per-trade
    * attribution). True as-of needs unbounded lookback, which no
    * bounded-state stream can hold; the production form bounds it —
    * here 30 minutes — making the state watermark-evictable.
    *
    * Shape: ONE stream-stream inner interval join (clicks × purchases
    * on user with cts ∈ [pts − 30 min, pts]; state on each side
    * dropped once the watermark passes the range) feeding ONE windowed
    * max-aggregate (group by the purchase's hour window + identity,
    * `max(struct(cts, click_id))` — the lexicographic max IS the as-of
    * pick, ties broken by click_id) — the multi-stateful-operator
    * pipeline Spark supports in append mode since watermark
    * propagation landed. Purchases with no click in the lookback are
    * absent (inner); purchases in the final never-closed hour window
    * are unemitted, exactly st5/st8's append-mode discipline — the
    * oracle carries the same ms-precision watermark cutoff, shifted by
    * the join's 30-minute delay (watermark propagation subtracts the
    * interval bound on the purchase side so join state can rendezvous
    * with late clicks; measured via lastRunTrace, pinned by the
    * oracle's HAVING).
    *
    * Scale: both join state and agg state are keyed by (user | window,
    * purchase) — shard across executors, bounded by watermark ×
    * arrival rate, no corpus-sized state; the join is the only
    * exchange pair. Batching-invariant under time-ordered arrival
    * (StreamingMultiBatchSpec proves 1-file ≡ 3-file ≡ batch oracle).
    */
  private[graft] def st19From(s: SparkSession,
      mkStream: () => DataFrame, name: String): DataFrame = {
    val clicks = mkStream()
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("cts"))
      .withWatermark("cts", "10 minutes")
    val purchases = mkStream()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        timestamp_micros(expr("ts div 1000")).as("pts"))
      .withWatermark("pts", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES"))
    val best = joined
      // purchase_us rides as a PLAIN long: grouping on the pts
      // timestamp itself would put two event-time columns (window +
      // pts) in one stream, which the engine rejects
      .withColumn("purchase_us", unix_micros(col("pts")))
      .groupBy(window(col("pts"), "1 hour"),
        col("purchase_id"), col("p_user"), col("purchase_us"))
      .agg(max(struct(col("cts"), col("click_id"))).as("best"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_us"),
        col("best.click_id").as("click_id"),
        unix_micros(col("best.cts")).as("click_us"))
    runToMemory(s, best, name, mode = "append")
      .sortWithinPartitions(col("purchase_id"))
  }

  private def st19(s: SparkSession, d: String): DataFrame =
    st19From(s, () => eventsStream(s, d), "graft_st19")

  /** st19 over `nFiles` time-ordered landing files, one per trigger —
    * StreamingMultiBatchSpec's batching-invariance probe. */
  private[graft] def st19Files(s: SparkSession, d: String, nFiles: Int): DataFrame =
    st19From(s, () => eventsStreamTimeOrdered(s, d, nFiles), s"graft_st19_n$nFiles")

  /** st20: stream-stream LEFT OUTER as-of join — st19 with clickless
    * purchases PRESERVED as null clicks (VERDICT r18 "What's missing"
    * #1: production attribution keeps the unattributed purchases; an
    * inner join silently drops the rows a revenue report most needs to
    * see). The purchase stream is the preserved side: a purchase with
    * no same-user click in its 30-minute lookback emits exactly once
    * with NULL click_id/click_us, materialized by the join at state
    * eviction — when the click-side watermark passes the purchase's
    * lookback window, Spark PROVES no matching click can still arrive
    * and only then emits the null-augmented row (the documented
    * outer-join delay; on the bounded feed the final no-data batch
    * advances the watermark past everything, so every unmatched
    * purchase is resolved).
    *
    * Shape: st19's two chained stateful operators with the join mode
    * flipped — ONE watermarked left-outer interval join (purchases ×
    * clicks on user, cts ∈ [pts − 30 min, pts]) feeding ONE windowed
    * max-aggregate. The as-of pick is unchanged: per purchase either
    * every row carries a matched click (take the lexicographic max of
    * (cts, click_id)) or there is exactly ONE null-augmented row (a
    * left row that matched is never also emitted null, so no group
    * mixes the two — `max(struct(cts, click_id))` over a single
    * all-null-fields struct returns it unchanged, which IS the null
    * click). Append-mode emission and the oracle's ms-precision
    * watermark cutoff are st19's verbatim: the cutoff gates on the
    * purchase's WINDOW, which both matched and null rows share.
    *
    * Scale: identical to st19 — state keyed by (user | window,
    * purchase), watermark-evicted, sharded across executors; the
    * left-outer mode adds no state (the join already held unmatched
    * purchases until eviction; it now emits them instead of dropping
    * them). Batching-invariant under time-ordered arrival
    * (StreamingMultiBatchSpec: 1-file ≡ 3-file ≡ batch oracle, with
    * the null-row population pinned non-empty so the outer path is
    * exercised, not vacuously present).
    */
  private[graft] def st20From(s: SparkSession,
      mkStream: () => DataFrame, name: String): DataFrame = {
    val clicks = mkStream()
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("cts"))
      .withWatermark("cts", "10 minutes")
    val purchases = mkStream()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        timestamp_micros(expr("ts div 1000")).as("pts"))
      .withWatermark("pts", "10 minutes")
    // purchases LEFT, clicks right: the preserved side is the one the
    // report keys on
    val joined = purchases.join(clicks,
      col("user_id") === col("p_user") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES"),
      "leftOuter")
    val best = joined
      .withColumn("purchase_us", unix_micros(col("pts")))
      .groupBy(window(col("pts"), "1 hour"),
        col("purchase_id"), col("p_user"), col("purchase_us"))
      .agg(max(struct(col("cts"), col("click_id"))).as("best"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_us"),
        col("best.click_id").as("click_id"),
        unix_micros(col("best.cts")).as("click_us"))
    runToMemory(s, best, name, mode = "append")
      .sortWithinPartitions(col("purchase_id"))
  }

  private def st20(s: SparkSession, d: String): DataFrame =
    st20From(s, () => eventsStream(s, d), "graft_st20")

  /** st20 over `nFiles` time-ordered landing files — the
    * batching-invariance probe (st19Files' sibling). */
  private[graft] def st20Files(s: SparkSession, d: String, nFiles: Int): DataFrame =
    st20From(s, () => eventsStreamTimeOrdered(s, d, nFiles), s"graft_st20_n$nFiles")

  private val st19Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events),
      |m AS (
      |  SELECT p.event_id AS purchase_id, p.user_id, p.tus AS purchase_us,
      |    c.event_id AS click_id, c.tus AS click_us
      |  FROM e p JOIN e c ON c.user_id = p.user_id
      |    AND p.event_type = 'purchase' AND c.event_type = 'click'
      |    AND c.tus <= p.tus AND c.tus >= p.tus - 1800000000
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
      |    ORDER BY c.tus DESC, c.event_id DESC) = 1)
      |SELECT purchase_id, user_id, purchase_us, click_id, click_us
      |FROM m
      |WHERE ((purchase_us // 3600000000) * 3600 + 3600) * 1000 <=
      |  (SELECT least(
      |     MAX(CASE WHEN event_type = 'click' THEN tus END),
      |     MAX(CASE WHEN event_type = 'purchase' THEN tus END)) // 1000
      |     - 600000 - 1800000 FROM e)
      |ORDER BY purchase_id""".stripMargin

  /** st20's oracle: st19's with the join flipped LEFT OUTER. The
    * purchase side filters to purchases BEFORE the join (a predicate
    * on the preserved side inside a LEFT JOIN's ON keeps, rather than
    * filters, the non-matching rows); the null ordering is explicit so
    * the as-of pick never depends on an engine default — though no
    * group mixes null and matched rows (a preserved row either matched
    * or it didn't), the SQL should not lean on that to parse. The
    * watermark cutoff is st19's verbatim: emission gates on the
    * purchase's hour window, which matched and null rows share. */
  private val st20Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events),
      |p AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
      |m AS (
      |  SELECT p.event_id AS purchase_id, p.user_id, p.tus AS purchase_us,
      |    c.event_id AS click_id, c.tus AS click_us
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id
      |    AND c.tus <= p.tus AND c.tus >= p.tus - 1800000000
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
      |    ORDER BY c.tus DESC NULLS LAST, c.event_id DESC NULLS LAST) = 1)
      |SELECT purchase_id, user_id, purchase_us, click_id, click_us
      |FROM m
      |WHERE ((purchase_us // 3600000000) * 3600 + 3600) * 1000 <=
      |  (SELECT least(
      |     MAX(CASE WHEN event_type = 'click' THEN tus END),
      |     MAX(CASE WHEN event_type = 'purchase' THEN tus END)) // 1000
      |     - 600000 - 1800000 FROM e)
      |ORDER BY purchase_id""".stripMargin

  /** st9: streaming incremental admission — d12's admit/reject decision
    * run as CONTINUOUS ingest: today's documents stream in from a
    * landing directory and each is admitted or rejected against the
    * manifests the last nightly sweep persisted
    * ([[stagedAdmitInputs]]). The stream side is fully STATELESS — the
    * 64-bit SimHash is computed per row by
    * [[graft.dedup.Dedup.RowSimhashSql]]'s higher-order fold (a
    * streaming groupBy feeding a join would be an unsupported
    * multi-stateful plan), and both manifest joins are stream-static
    * left equi-joins, re-planned per micro-batch with no state store
    * at all. That statelessness is the scale story: unlike st1–st8
    * there is no watermark and nothing accumulates — throughput is
    * bounded only by the manifest join, and the answer is
    * batching-invariant (any file/trigger split gives the same rows,
    * so nothing here leans on the single-file staging invariant).
    * A token-less document has a NULL signature, which no manifest key
    * equals — reproducing d12's absent-sigs-row semantics through the
    * join. Oracle: d12's SQL VERBATIM — the streaming path must
    * produce byte-identical admissions to the batch query.
    */
  /** Release the bounded run's manifest cache (r15, VERDICT r14 #1):
    * the MEMORY_AND_DISK persist amortizes the static-side scan across
    * the run's micro-batches, but the bounded AvailableNow queries
    * finish in one process alongside 140+ other bench queries — cache
    * entries that outlive their stream measurably inflated the rest of
    * the r14 sweep (st9 1.26→2.10 s, st10 0.54→0.82 s against a 1.22x
    * host median; the isolated A/B measured persist on≈off at BOTH
    * sf0.1 and sf1, so the full-sweep delta was pressure, not the
    * persist itself). An unbounded production stream never reaches
    * this call — its manifests stay cached for the process lifetime,
    * which is exactly the amortization the persist exists for. */
  private def releaseManifests(staged: (DataFrame, DataFrame, DataFrame, DataFrame)): Unit =
    Seq(staged._2, staged._3, staged._4).foreach { df =>
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        df.unpersist(blocking = false)
    }

  private def admitPipeline(s: SparkSession,
      staged: (DataFrame, DataFrame, DataFrame, DataFrame), name: String): DataFrame = {
    val (stream, fpManifest, sigManifest, _) = staged
    val dec = stream
      .withColumn("fp", md5(col("text").cast("binary")))
      .withColumn("simhash", expr(graft.dedup.Dedup.RowSimhashSql))
      .join(fpManifest, Seq("fp"), "left")
      .join(sigManifest, Seq("simhash"), "left")
      .select(col("doc_id"), col("fp"),
        (col("fp_hit").isNull && col("sig_hit").isNull).as("admit"),
        when(col("fp_hit").isNotNull, "exact_dup")
          .when(col("sig_hit").isNotNull, "near_dup")
          .otherwise("admitted").as("reason"))
    val out = runToMemory(s, dec, name, mode = "append")
      .sortWithinPartitions(col("doc_id"))
    releaseManifests(staged)
    out
  }

  private def st9(s: SparkSession, d: String): DataFrame =
    admitPipeline(s, stagedAdmitInputs(s, d), "graft_st9")

  /** st9 under a REAL multi-batch regime (nFiles staged files,
    * maxFilesPerTrigger=1) — the spec surface proving the scaladoc's
    * batching-invariance claim: a stateless stream gives the same
    * answer under any file/trigger split. Not a registered query (the
    * semantics are st9's; only the batching differs). */
  private[graft] def st9Multi(s: SparkSession, d: String, nFiles: Int,
      filesPerTrigger: Int = 1): DataFrame =
    admitPipeline(s, stagedAdmitInputs(s, d, nFiles, filesPerTrigger), "graft_st9multi")

  private val st9Sql = graft.dedup.Dedup.oracles("d12_incremental_dedup")

  /** st10: the Bloom admission PREFILTER on the continuous path —
    * d17's decision computed where it is actually deployed: an ingest
    * stream probing the bitmap the nightly sweep persisted (st9's
    * staging discipline, one more manifest). A document whose k bits
    * are not all set is DEFINITELY new and admits without ever touching
    * the fingerprint manifest; the `false_positive` column measures the
    * wasted-exact-check rate against the exact decision, per doc.
    *
    * The stream side is fully STATELESS — the st9 rule. The batch
    * probe's explode + groupBy would be a stateful streaming aggregate,
    * so the k=4 positions are computed as per-row COLUMNS and each
    * probes the bitmap via its own stream-static broadcast equi-join on
    * the word key: 4 bounded broadcast joins + the manifest equi-join,
    * no watermark, no state store, batching-invariant. Oracle = d17's
    * SQL verbatim (the st9 ↔ d12 lockstep pattern), and a spec asserts
    * st10 == d17 row-for-row.
    */
  private def st10(s: SparkSession, d: String): DataFrame =
    bloomPipeline(s, stagedAdmitInputs(s, d), "graft_st10")

  /** st10 under the multi-batch regime (st9Multi's sibling) — same
    * semantics, nFiles landing files with maxFilesPerTrigger=1. Spec
    * surface only, not a registered query. */
  private[graft] def st10Multi(s: SparkSession, d: String, nFiles: Int,
      filesPerTrigger: Int = 1): DataFrame =
    bloomPipeline(s, stagedAdmitInputs(s, d, nFiles, filesPerTrigger), "graft_st10multi")

  private def bloomPipeline(s: SparkSession,
      staged: (DataFrame, DataFrame, DataFrame, DataFrame), name: String): DataFrame = {
    val (stream, fpManifest, _, bloom) = staged
    val m = graft.dedup.Dedup.BloomM
    var probe = stream.withColumn("fp", md5(col("text").cast("binary")))
    val hits = (0 until 4).map { i =>
      probe = probe
        .withColumn(s"pos$i", expr(graft.dedup.Dedup.bloomSliceSql(i, m)))
        .join(broadcast(bloom.select(
            (col("word")).as(s"w$i"), col("bits").as(s"bits$i"))),
          (col(s"pos$i") / 64).cast("int") === col(s"w$i"), "left")
      col(s"bits$i").isNotNull &&
        expr(s"(bits$i & shiftleft(1L, cast(pos$i % 64 as int))) = " +
          s"shiftleft(1L, cast(pos$i % 64 as int))")
    }
    val dec = probe
      .withColumn("bloom_maybe", hits.reduce(_ && _))
      .join(fpManifest, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("bloom_maybe"),
        col("fp_hit").isNotNull.as("exact_dup"),
        (col("bloom_maybe") && col("fp_hit").isNull).as("false_positive"))
    val out = runToMemory(s, dec, name, mode = "append")
      .sortWithinPartitions(col("doc_id"))
    releaseManifests(staged)
    out
  }

  private val st10Sql = graft.dedup.Dedup.oracles("d17_bloom_admit")

  /** st11: streaming CDC compaction — q34's latest-record-per-key
    * rule maintained as a foreachBatch-materialized view over the
    * REAL multi-batch regime (4 staged files, maxFilesPerTrigger=1).
    * Each micro-batch is first compacted DOWN to one candidate row per
    * key (q34's map-side-combining `max(struct)` aggregate — the
    * exchange never moves the changelog), then merged with the
    * previous store version by the same aggregate; `n_events` merges
    * by sum. Because latest-wins is associative and commutative, the
    * final store is batching-invariant — the spec pins st11 == q34
    * row-for-row — and the oracle is q34's window-formulation SQL
    * verbatim (the st9 ↔ d12 lockstep pattern).
    *
    * Exactly-once across restarts WITHOUT driver state: batch b always
    * merges `store/v(b-1)` (derived from the checkpoint's batch id,
    * not from in-memory bookkeeping) and overwrites its own
    * `store/v(b)` — a replayed batch rewrites its own version from the
    * same inputs, the IdempotentSink discipline applied to a
    * read-modify-write view.
    *
    * Scale: the per-batch merge rewrites the whole store — the honest
    * cost of a parquet-only materialized view. The production levers
    * are (a) partition/bucket the store by the key (q27's layout) so a
    * batch rewrites only buckets containing changed keys, or (b) a
    * merge-on-read table format; the per-batch aggregate itself is
    * already the scale-correct shape (one candidate row per key per
    * input partition reaches the merge).
    */
  /** st11's compaction loop over an arbitrary event stream and fixed
    * (store, ckpt) directories — parameterized so the restart spec can
    * stop it mid-input and resume from the SAME checkpoint+store
    * (StreamingRecoverySpec: the replay-idempotence claim observed,
    * not argued). Processes everything currently available, then
    * stops. */
  private[graft] def st11Compact(s: SparkSession, stream: DataFrame,
      store: java.nio.file.Path, ckpt: java.nio.file.Path, name: String): Unit = {
    import java.nio.file.Files
    def compactBatch(df: DataFrame): DataFrame =
      df.select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("tus"), col("event_id"), col("event_type"), col("value")))
            .as("last"),
          count(lit(1)).as("n_events"))
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamPartitions)
    try {
      val q = stream.writeStream.queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val agg = compactBatch(batch)
          val prevV = store.resolve(s"v${batchId - 1}")
          val merged =
            if (Files.exists(prevV))
              agg.unionByName(batch.sparkSession.read.parquet(prevV.toString))
                .groupBy(col("user_id"))
                .agg(max(col("last")).as("last"), sum(col("n_events")).as("n_events"))
            else agg
          merged.write.mode("overwrite").parquet(store.resolve(s"v$batchId").toString)
          ()
        }
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Read the newest store version back as q34's output shape. */
  private[graft] def st11StoreRead(s: SparkSession, store: java.nio.file.Path): DataFrame = {
    import java.nio.file.Files
    val lastV = {
      val l = Files.list(store)
      try l.filter(p => p.getFileName.toString.startsWith("v"))
        .max(java.util.Comparator.comparingLong(p =>
          p.getFileName.toString.drop(1).toLong))
        .orElseThrow(() => new IllegalStateException("st11 store is empty"))
      finally l.close()
    }
    s.read.parquet(lastV.toString)
      .select(col("user_id"), col("last.tus").as("last_tus"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"), col("n_events"))
      .sortWithinPartitions(col("user_id"))
  }

  private def st11(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val store = Files.createTempDirectory("graft_st11_store_")
    val ckpt = Files.createTempDirectory("graft_st11_ckpt_")
    st11Compact(s, eventsStreamMulti(s, d, 4), store, ckpt, "graft_st11")
    st11StoreRead(s, store)
  }

  private val st11Sql = graft.analytics.Analytics.oracles("q34_compact_latest")

  /** st12: ingest-time PII scrubbing — t16's detect+redact projection
    * ([[graft.text.TextAnalysis.piiScrub]], the SAME column
    * expressions) run on the continuous document stream under the real
    * multi-batch regime (4 landing files, maxFilesPerTrigger=1). The
    * scrub is a stateless per-row map: no state store, no watermark,
    * batching-invariant by construction — which is the compliance
    * story (scrub AT ingest produces byte-identical output to the
    * nightly batch scrub, so PII never lands unredacted downstream
    * whichever path a document takes). Oracle: t16's SQL VERBATIM; the
    * spec pins st12 == t16 row-for-row.
    */
  private def st12(s: SparkSession, d: String): DataFrame = {
    val scrub = graft.text.TextAnalysis.piiScrub(docsStreamMulti(s, d, 4))
    runToMemory(s, scrub, "graft_st12", mode = "append")
      .sortWithinPartitions(col("doc_id"))
  }

  private val st12Sql = graft.text.TextAnalysis.oracles("t16_pii_redact")

  /** st13: ingest-time model routing — g19's per-request routing
    * decision ([[graft.genai.GenAI.routeRequests]], the SAME column
    * expressions) run on the continuous document stream under the
    * real multi-batch regime (4 landing files, maxFilesPerTrigger=1).
    * Request construction + routing are stateless per-row maps: no
    * state store, no watermark, batching-invariant by construction —
    * the operational story is a live request feed being routed to
    * model tiers AT ingest, with the guarantee that the streamed
    * decisions are byte-identical to the batch router's (the st12
    * compliance discipline, applied to spend instead of PII). Oracle:
    * the per-row routing SQL over the whole table; the spec pins
    * st13 == batch routeRequests row-for-row.
    */
  private def st13(s: SparkSession, d: String): DataFrame = {
    val routed = graft.genai.GenAI.routeRequests(
      graft.genai.Requests.chatRequests(docsStreamMulti(s, d, 4)))
    runToMemory(s, routed, "graft_st13", mode = "append")
      .sortWithinPartitions(col("doc_id"))
  }

  private val st13Sql = graft.genai.GenAI.RoutedRowsSql

  /** st14: chunking at ingest — t25's retrieval-window splitter run
    * where a RAG pipeline actually runs it: on the continuous document
    * stream, under the real multi-batch regime (4 landing files,
    * maxFilesPerTrigger=1), so chunks are embeddable the moment a
    * document lands instead of waiting for the nightly batch.
    * The per-doc arithmetic is [[graft.text.TextAnalysis.chunkBase]]/
    * [[graft.text.TextAnalysis.chunkExpand]] — the SAME column
    * expressions t25 compiles, stateless per-row codegen (split,
    * sequence explode, slice HOFs): no state store, no watermark,
    * batching-invariant by construction (the st12 compliance
    * discipline). What canNOT stream is the corpus-order `chunk_id` —
    * a corpus-wide prefix sum is batch state by definition — so the
    * ingest emits the doc-scoped key (doc_id, chunk_seq), which is
    * already stable and globally unique; the nightly t25 run assigns
    * corpus-order ids when it rebuilds the chunk table. Oracle: t25's
    * SQL CTE chain VERBATIM minus the id column; the spec pins
    * st14 ≡ t25-minus-id row-for-row.
    */
  private def st14(s: SparkSession, d: String): DataFrame = {
    val chunks = graft.text.TextAnalysis.chunkExpand(
        graft.text.TextAnalysis.chunkBase(docsStreamMulti(s, d, 4)), Nil)
      .select(col("doc_id"), col("chunk_seq"), col("tok_start"), col("tok_end"),
        col("char_start"), col("char_len"), col("chunk_text"))
    runToMemory(s, chunks, "graft_st14", mode = "append")
      .sortWithinPartitions(col("doc_id"), col("chunk_seq"))
  }

  private val st14Sql = {
    val t25 = graft.text.TextAnalysis.t25Sql
    graft.SqlSplice.before(t25, "\nSELECT doc_id,") +
      """
        |SELECT doc_id, chunk_seq, tok_start, tok_end, char_start, char_len, chunk_text
        |FROM y ORDER BY doc_id, chunk_seq""".stripMargin
  }

  /** st15: scene-cut detection at ingest — m10's shot-boundary test
    * run where a video-curation feed actually needs it: a frame's cut
    * flag the moment it lands, not after the nightly batch (VERDICT
    * r15 #8). m10's "previous sampled frame" equi-join on
    * (user, frame_idx − 10) becomes ONE retained phash per user in a
    * keyed [[SceneDetector]] (`flatMapGroupsWithState`, the st4
    * discipline — O(1) state per user, sharded across executors); the
    * frame numbering, rpad recipe, AHash and packed bit_count(xor)
    * hamming are the SAME code paths m10 compiles. What canNOT stream
    * is the corpus-order `scene_id` — a corpus-wide prefix sum is
    * batch state by definition (st14's chunk_id rule) — so the ingest
    * emits the cut flags and the nightly m10 run assigns scene ids.
    * Oracle: m10's SQL chain VERBATIM minus the scene_id column; a
    * spec pins st15 ≡ m10-minus-scene_id row-for-row.
    */
  private def st15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val ev = eventsStream(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tus"), col("props"))
      .as[FrameIn]
    val out = SceneDetector.flags(ev).toDF()
    runToMemory(s, out, "graft_st15", mode = "append")
      .select(col("user_id"), col("frame_idx"), col("event_id"),
        col("phash"), col("ham_prev"), col("is_boundary"))
      .sortWithinPartitions(col("user_id"), col("frame_idx"))
  }

  private val st15Sql = {
    val m10 = graft.multimodal.Multimodal.oracles("m10_scene_split")
    graft.SqlSplice.before(m10, "\nSELECT user_id,") +
      s"""
        |SELECT user_id, frame_idx, event_id, phash, ham_prev,
        |  COALESCE(ham_prev >= ${graft.multimodal.Multimodal.SceneHamTau}, FALSE) AS is_boundary
        |FROM h ORDER BY user_id, frame_idx""".stripMargin
  }

  /** st16: structured-output validation at ingest — g20's
    * response-contract verdicts run where a live results feed needs
    * them: each response line is classified the moment it lands, so a
    * malformed model output quarantines immediately instead of
    * crashing the nightly retrieve (the g15 rationale, applied to
    * semantic validity on a stream). The whole chain — exam messages
    * ([[graft.genai.GenAI.examMessagesCol]], the SAME expression the
    * batch compiles), request build, the contract-disobeying
    * simulator, parse, and [[graft.genai.Validation.validateStructured]]
    * — is stateless per-row codegen under the real multi-batch regime
    * (4 landing files, maxFilesPerTrigger=1): no state store, no
    * watermark, batching-invariant by construction (the st12/st13
    * compliance discipline). What canNOT stream is g20's corpus-wide
    * verdict ROLLUP (an aggregate is batch state; the nightly g20 run
    * owns the ledger) — the ingest emits the per-response verdicts.
    * Oracle: g20's CTE chain verbatim minus the rollup; a spec pins
    * st16 ≡ the batch per-row verdicts row-for-row.
    */
  private def st16(s: SparkSession, d: String): DataFrame = {
    val items = docsStreamMulti(s, d, 4)
      .select(col("doc_id"), graft.genai.GenAI.examMessagesCol.as("messages"))
    val parsed = graft.genai.Responses.parse(
      graft.genai.Simulator.respondStructured(
        graft.genai.Requests.examRequests(items)))
    val v = graft.genai.Validation.validateStructured(parsed)
      .select(col("doc_id"),
        coalesce(col("reason"), lit("valid")).as("reason"), col("is_valid"))
    runToMemory(s, v, "graft_st16", mode = "append")
      .sortWithinPartitions(col("doc_id"))
  }

  private val st16Sql = {
    val g20 = graft.genai.GenAI.oracles("g20_schema_validate")
    graft.SqlSplice.before(g20, "\nSELECT reason,") +
      """
        |SELECT doc_id, reason, reason = 'valid' AS is_valid
        |FROM v ORDER BY doc_id""".stripMargin
  }

  /** st17: URL/domain provenance gating at ingest — t28's
    * C4/RefinedWeb stage run where a crawler feed actually runs it:
    * each landed document gets its provenance verdict the moment it
    * arrives, so a blocked-domain or crawler-trap URL never occupies
    * downstream quality/dedup compute (the reason real pipelines
    * order this gate FIRST applies twice as hard on a continuous
    * feed). The plant + parse + rules are
    * [[graft.text.TextAnalysis.urlVerdictOn]] — the SAME column
    * expressions t28 compiles, stateless per-row regexp codegen —
    * and the blocklist dim is built from the STATIC table
    * ([[graft.text.TextAnalysis.urlBlocklist]]) and broadcast into a
    * stream-static left join: operationally the blocklist IS a loaded
    * static dim, and a stream could not `distinct` it without an
    * aggregation state store. No state store, no watermark,
    * batching-invariant by construction (the st12/st13/st16
    * compliance discipline: the streamed verdicts are byte-identical
    * to the nightly batch gate's). Runs under the real multi-batch
    * regime (4 landing files, maxFilesPerTrigger=1). Oracle: t28's
    * SQL VERBATIM; the spec pins st17 ≡ t28 row-for-row.
    */
  private def st17(s: SparkSession, d: String): DataFrame = {
    val docs = docsStreamMulti(s, d, 4)
    val gated = graft.text.TextAnalysis.urlVerdictOn(docs,
        graft.text.TextAnalysis.urlBlocklist(graft.Tables.documents(s, d)))
      .select(col("doc_id"), col("url"), col("domain"), col("tld"),
        col("n_path_segs"), (col("url_reason") === "").as("keep"),
        col("url_reason"))
    runToMemory(s, gated, "graft_st17", mode = "append")
      .sortWithinPartitions(col("doc_id"))
  }

  private val st17Sql = graft.text.TextAnalysis.oracles("t28_url_curate")

  /** st18: container sniffing at ingest — m12's magic-byte gate run
    * where a media crawler actually runs it: each landed file is
    * sniffed (and wrong-extension / quarantine flagged) the moment it
    * arrives, BEFORE any decode compute is spent on it — the gate's
    * whole rationale is ingest-time placement, so this is its natural
    * home; the nightly m12 run is the compliance mirror. The plant +
    * sniff + audit columns are [[graft.multimodal.Multimodal
    * .sniffVerdict]] — the SAME column expressions m12 compiles,
    * stateless per-row codegen over a bounded payload prefix: no
    * state store, no watermark, batching-invariant by construction
    * (the st12/st13/st16/st17 compliance discipline). Runs under the
    * real multi-batch regime (4 landing files, maxFilesPerTrigger=1).
    * Oracle: m12's SQL VERBATIM; the spec pins st18 ≡ m12
    * row-for-row.
    */
  private def st18(s: SparkSession, d: String): DataFrame = {
    val out = graft.multimodal.Multimodal.sniffVerdict(docsStreamMulti(s, d, 4))
    runToMemory(s, out, "graft_st18", mode = "append")
      .sortWithinPartitions(col("doc_id"))
  }

  private val st18Sql = graft.multimodal.Multimodal.oracles("m12_magic_sniff")

  private val embeddingsStreamSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The embedding corpus staged as `nFiles` landing files (split by
    * `vec_id % nFiles`, strictly increasing mtimes) read with
    * `maxFilesPerTrigger=1` — the
    * vector-side twin of [[eventsStreamMulti]]/[[docsStreamMulti]],
    * for st21's ingest-time index admission. */
  private def embeddingsStreamMulti(s: SparkSession, d: String, nFiles: Int): DataFrame = {
    val dir = stageLanding(s, d, "stream_embed", "embeddings.parquet", "embed1", nFiles)(k =>
      graft.Tables.embeddings(s, d)
        .filter(col("vec_id") % nFiles === k)
        .select(col("vec_id"), col("embedding"), col("label")))
    s.readStream.schema(embeddingsStreamSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }


  /** st21: STREAMING IVF admission — the online half of the persisted
    * vector-index lifecycle (s11 builds offline, s17 admits batches;
    * this is the "fresh embeddings searchable within minutes" path
    * every production vector store runs): vectors arriving on a
    * 3-file stream are nearest-centroid-assigned IN FLIGHT against
    * the index's static centroid set, emitting exactly the assignment
    * rows an s17-style delta segment appends.
    *
    * Scale shape: the centroid set is k×64 doubles COLLECTED into the
    * plan ([[graft.sim.Knn.indexCentroids]] — the s8 metadata-collect
    * class) and the assignment is [[graft.sim.Knn.argminCell]]'s
    * `least`-over-structs literal projection — a STATELESS per-row
    * map: no streaming aggregate, no state store, no shuffle, no
    * watermark. At 100 TB/day of arriving vectors this is
    * embarrassingly parallel (the only "state" is the centroid
    * closure shipped with the task), and batching-invariant by
    * construction (StreamingMultiBatchSpec pins 3-file ≡ 1-batch
    * batch answer via the oracle). Append mode — rows emit as they
    * arrive, the latency the admission path exists for.
    *
    * Oracle: the batch assignment chain (s3's IvfAssignCtes — the
    * SAME cells the persisted index serves): the stream must assign
    * exactly as the offline index build would, cell for cell, dist
    * for dist. */
  private def st21(s: SparkSession, d: String): DataFrame = {
    val cent = graft.sim.Knn.indexCentroids(s, d)
    val assigned = embeddingsStreamMulti(s, d, 3)
      .select(col("vec_id"), col("label"), graft.sim.Knn.argminCell(cent).as("_m"))
      .select(col("vec_id"), col("label"),
        col("_m.cell").as("assigned_cell"), col("_m.dist").as("dist"))
    runToMemory(s, assigned, "graft_st21", mode = "append")
      .orderBy(col("vec_id"))
  }

  private val st21Sql =
    s"""WITH ${graft.sim.Knn.IvfAssignCtes}
       |SELECT vec_id, label, CAST(cell AS BIGINT) AS assigned_cell, dist
       |FROM ivfassigned ORDER BY vec_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "st21_stream_index_admit" -> (st21 _),
    "st18_stream_sniff" -> (st18 _),
    "st17_stream_url" -> (st17 _),
    "st16_stream_validate" -> (st16 _),
    "st15_stream_scene" -> (st15 _),
    "st14_stream_chunk" -> (st14 _),
    "st13_stream_route" -> (st13 _),
    "st12_stream_pii" -> (st12 _),
    "st11_stream_compact" -> (st11 _),
    "st10_stream_bloom" -> (st10 _),
    "st9_stream_admit" -> (st9 _),
    "st8_stream_multibatch" -> (st8 _),
    "st7_stream_dedup_bounded" -> (st7 _),
    "st6_stream_stream_join" -> (st6 _),
    "st19_stream_asof_join" -> (st19 _),
    "st20_stream_asof_outer" -> (st20 _),
    "st5_stream_append_window" -> (st5 _),
    "st4_stream_sessionize" -> (st4 _),
    "st1_stream_window" -> (st1 _),
    "st2_stream_dedup" -> (st2 _),
    "st3_stream_static_join" -> (st3 _))

  val oracles: Map[String, String] = Map(
    "st21_stream_index_admit" -> st21Sql,
    "st18_stream_sniff" -> st18Sql,
    "st17_stream_url" -> st17Sql,
    "st16_stream_validate" -> st16Sql,
    "st15_stream_scene" -> st15Sql,
    "st14_stream_chunk" -> st14Sql,
    "st13_stream_route" -> st13Sql,
    "st12_stream_pii" -> st12Sql,
    "st11_stream_compact" -> st11Sql,
    "st10_stream_bloom" -> st10Sql,
    "st9_stream_admit" -> st9Sql,
    "st8_stream_multibatch" -> st8Sql,
    "st7_stream_dedup_bounded" -> st7Sql,
    "st6_stream_stream_join" -> st6Sql,
    "st19_stream_asof_join" -> st19Sql,
    "st20_stream_asof_outer" -> st20Sql,
    "st5_stream_append_window" -> st5Sql,
    "st4_stream_sessionize" -> st4Sql,
    "st1_stream_window" -> st1Sql,
    "st2_stream_dedup" -> st2Sql,
    "st3_stream_static_join" -> st3Sql)
}
