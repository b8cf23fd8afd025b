package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bounded streaming oracles stage their input as ONE file so the
  * whole corpus lands in a single micro-batch (see
  * StreamingOps.eventsStream — several oracle equalities lean on the
  * watermark never advancing mid-run). This spec shows that constraint
  * is an ORACLE-equality artifact, not an operator limitation: a
  * complete-mode windowed aggregation fed the same events as TWO
  * micro-batches (maxFilesPerTrigger=1) still equals the batch answer,
  * because complete mode re-emits the whole result table after state
  * has absorbed every batch.
  */
class StreamingMultiBatchSpec extends SparkSpec {

  test("complete-mode window agg over two micro-batches equals the batch answer") {
    val s = spark
    val events = Tables.events(s, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    // split the corpus into two files by event_id parity — both halves
    // span the full time range, so batch 2 contains rows that are LATE
    // relative to batch 1's high-water mark
    withTempDir("graft_multibatch") { dir =>
      events.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("overwrite").parquet(dir + "/a")
      events.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("overwrite").parquet(dir + "/b")
      withTempDir("graft_multibatch_in") { stagedDir =>
        val staged = java.nio.file.Paths.get(stagedDir)
        for ((sub, name) <- Seq("a" -> "part0.parquet", "b" -> "part1.parquet")) {
          val f = new java.io.File(dir + "/" + sub).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.copy(f.toPath, staged.resolve(name))
        }
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val agg = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1") // force TWO micro-batches
          .parquet(staged.toString)
          .withColumn("ets", timestamp_micros(expr("ts div 1000")))
          .withWatermark("ets", "10 minutes")
          .groupBy(window(col("ets"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
          .select(col("window.start").cast("long").as("hour_s"),
            col("event_type"), col("n"), col("sum_value"))
        val q = agg.writeStream.outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory").queryName("graft_multibatch").start()
        q.awaitTermination()
        assert(q.recentProgress.count(_.numInputRows > 0) == 2,
          "input must actually arrive as two data micro-batches")
        val got = s.table("graft_multibatch")
          .orderBy(col("hour_s"), col("event_type")).collect().toSeq
        val expected = events
          .withColumn("ets", timestamp_micros(expr("ts div 1000")))
          .groupBy(window(col("ets"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
          .select(col("window.start").cast("long").as("hour_s"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("hour_s"), col("event_type")).collect().toSeq
        assert(got == expected, "multi-batch complete-mode result diverged from batch")
      }
    }
  }

  test("st8 runs >= 3 real data micro-batches and actually drops late rows") {
    // the oracle query itself (append mode + per-batch watermark
    // advance): its hash-checked equality is only meaningful if the
    // multi-batch regime really happened — assert it via the recorded
    // per-batch progress, and that the late-row drop path fired (each
    // id-split spans the full time range, so later batches MUST carry
    // rows for closed windows)
    val out = SparkEntry.queries("st8_stream_multibatch")(spark, sf).collect()
    assert(out.nonEmpty)
    val batches = streaming.StreamingOps.lastRunBatches("graft_st8")
    assert(batches.count(_ > 0) >= 3,
      s"expected >= 3 data micro-batches, got input-row trace $batches")
    val trace = streaming.StreamingOps.lastRunTrace("graft_st8")
    assert(trace.exists(_.matches(".*dropped=\\[.*[1-9].*\\].*")),
      s"expected late rows dropped by watermark in some batch:\n${trace.mkString("\n")}")
  }

  test("st9 is batching-invariant: 3-file maxFilesPerTrigger=1 run equals the single-batch run") {
    // st9's scaladoc claims the stateless stream gives the same answer
    // under ANY file/trigger split — prove it with real micro-batches
    // row-sorted compare: the two regimes partition the memory sink
    // differently, so collect order is not part of the contract
    val single = SparkEntry.queries("st9_stream_admit")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val multi = streaming.StreamingOps.st9Multi(spark, sf, 3)
      .orderBy("doc_id").collect().toSeq
    assert(multi == single, "st9 diverged under a multi-batch split")
    val batches = streaming.StreamingOps.lastRunBatches("graft_st9multi")
    assert(batches.count(_ > 0) >= 3,
      s"expected >= 3 data micro-batches, got input-row trace $batches")
  }

  test("st19 as-of join is batching-invariant under time-ordered arrival") {
    // VERDICT r17 #5's done-bar: the chained stateful pipeline
    // (stream-stream interval join -> windowed as-of max) must give
    // the same answer whether the bounded feed arrives as one file or
    // as three time-contiguous files with the watermark genuinely
    // advancing between triggers. sf0.01, not sf0.001: the as-of
    // match is sparse (2 rows at sf0.001) and the invariance claim
    // needs emitted windows on BOTH sides of a mid-run watermark.
    val dir = "/root/testdata/sf0.01"
    val single = SparkEntry.queries("st19_stream_asof_join")(spark, dir)
      .orderBy("purchase_id").collect().toSeq
    assert(single.size > 5, s"st19 emitted only ${single.size} rows — invariance check undernourished")
    val multi = streaming.StreamingOps.st19Files(spark, dir, 3)
      .orderBy("purchase_id").collect().toSeq
    assert(multi == single, "st19 diverged under a 3-file time-ordered split")
    val batches = streaming.StreamingOps.lastRunBatches("graft_st19_n3")
    assert(batches.count(_ > 0) >= 3,
      s"expected >= 3 data micro-batches, got input-row trace $batches")
    // plan pin (the streaming analogue of PlanShapeSpec): EXACTLY two
    // stateful operators — the interval join and the windowed as-of
    // aggregate; a third would mean an accidental extra state store,
    // zero would mean the join collapsed to batch semantics. The
    // progress trace renders one dropped-counter per state operator.
    val trace = streaming.StreamingOps.lastRunTrace("graft_st19_n3")
    val dropCounts = trace.map(l =>
      "dropped=\\[([^\\]]*)\\]".r.findFirstMatchIn(l).map(_.group(1)).getOrElse(""))
    assert(dropCounts.exists(_.split(",").length == 2),
      s"expected 2 state operators in the st19 pipeline, trace:\n${trace.mkString("\n")}")
  }

  test("st20 outer as-of join: null-click rows survive, batching-invariant") {
    // VERDICT r18 #5's done-bar: st19's shape with clickless purchases
    // PRESERVED — the left-outer path must be exercised (null-row
    // population non-empty), agree with the batch oracle under a
    // 3-file time-ordered split, and every st19 row must reappear
    // identically (the outer join only ADDS rows, never changes a
    // matched one).
    val dir = "/root/testdata/sf0.01"
    val single = SparkEntry.queries("st20_stream_asof_outer")(spark, dir)
      .orderBy("purchase_id").collect().toSeq
    val nullRows = single.count(_.isNullAt(3)) // click_id
    assert(nullRows > 0, "no clickless purchases emitted — the outer path is vacuous")
    assert(single.size > nullRows, "no matched purchases — the join path is vacuous")
    val multi = streaming.StreamingOps.st20Files(spark, dir, 3)
      .orderBy("purchase_id").collect().toSeq
    assert(multi == single, "st20 diverged under a 3-file time-ordered split")
    val batches = streaming.StreamingOps.lastRunBatches("graft_st20_n3")
    assert(batches.count(_ > 0) >= 3,
      s"expected >= 3 data micro-batches, got input-row trace $batches")
    // inner ⊂ outer: st19's matched rows are exactly st20's non-null rows
    val inner = SparkEntry.queries("st19_stream_asof_join")(spark, dir)
      .orderBy("purchase_id").collect().toSeq
    assert(single.filterNot(_.isNullAt(3)) == inner,
      "st20's matched rows diverged from st19's inner join")
  }

  test("st9/st10 are file-count-invariant per trigger: 6 files drained 3 per batch") {
    // r12 verdict #7: a production landing dir never hands a trigger
    // exactly one file, so the stateless admission paths must also be
    // invariant to MULTI-file triggers — 6 landing files,
    // maxFilesPerTrigger=3 → 2 data micro-batches of 3 files each
    val single9 = SparkEntry.queries("st9_stream_admit")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val multi9 = streaming.StreamingOps.st9Multi(spark, sf, 6, filesPerTrigger = 3)
      .orderBy("doc_id").collect().toSeq
    assert(multi9 == single9, "st9 diverged under multi-file triggers")
    val batches9 = streaming.StreamingOps.lastRunBatches("graft_st9multi")
    assert(batches9.count(_ > 0) == 2,
      s"expected exactly 2 multi-file data batches, got input-row trace $batches9")
    val single10 = SparkEntry.queries("st10_stream_bloom")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val multi10 = streaming.StreamingOps.st10Multi(spark, sf, 6, filesPerTrigger = 3)
      .orderBy("doc_id").collect().toSeq
    assert(multi10 == single10, "st10 diverged under multi-file triggers")
    val batches10 = streaming.StreamingOps.lastRunBatches("graft_st10multi")
    assert(batches10.count(_ > 0) == 2,
      s"expected exactly 2 multi-file data batches, got input-row trace $batches10")
  }

  test("st12 ingest-time PII scrub equals the batch scrub row-for-row") {
    // stateless per-row scrub: whatever the file/trigger split, the
    // streamed output must be byte-identical to t16 over the table —
    // the compliance claim (no path leaves PII unredacted)
    val st12 = SparkEntry.queries("st12_stream_pii")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val t16 = SparkEntry.queries("t16_pii_redact")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    assert(st12 == t16, "streamed scrub diverged from the batch scrub")
    assert(st12.nonEmpty)
  }

  test("st21 streaming index admission equals the batch assignment, over real micro-batches") {
    // stateless per-row argmin over literal centroids: whatever the
    // file/trigger split, the streamed cell assignments must equal the
    // offline index build's (s3) cell-for-cell and dist-for-dist —
    // the index-consistency claim (a vector admitted in flight lands
    // in the same cell a rebuild would put it in)
    val st21 = SparkEntry.queries("st21_stream_index_admit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val s3 = SparkEntry.queries("s3_ivf_cells")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2).toLong, r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(st21 == s3, "streamed admission diverged from the batch assignment")
    assert(st21.nonEmpty)
    // the run really streamed: 3 staged files drained one per trigger
    val batches = streaming.StreamingOps.lastRunBatches("graft_st21")
    assert(batches.count(_ > 0) >= 3,
      s"expected >= 3 data micro-batches, saw $batches")
  }

  test("st13 ingest-time routing equals the batch router row-for-row") {
    // stateless request construction + routing: the streamed decisions
    // must be byte-identical to the batch router over the table — the
    // spend-control claim (no path submits an unrouted request)
    val st13 = SparkEntry.queries("st13_stream_route")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val batch = genai.GenAI.routeRequests(
      genai.Requests.chatRequests(Tables.documents(spark, sf)))
      .orderBy("doc_id").collect().toSeq
    assert(st13 == batch, "streamed routing diverged from the batch router")
    assert(st13.nonEmpty)
    // both tiers appear in the streamed decisions
    assert(st13.map(_.getAs[String]("routed_model")).toSet.size == 2)
  }

  test("st14 ingest-time chunking equals t25's windows row-for-row (minus the corpus-order id)") {
    // stateless per-row window arithmetic: whatever the file/trigger
    // split, the streamed chunks must be byte-identical to the batch
    // chunker's geometry/text/offsets — only the corpus-order chunk_id
    // (a batch-state prefix sum by definition) stays batch-side
    val st14 = SparkEntry.queries("st14_stream_chunk")(spark, sf)
      .orderBy("doc_id", "chunk_seq").collect().toSeq
    val t25 = SparkEntry.queries("t25_chunk_windows")(spark, sf)
      .select("doc_id", "chunk_seq", "tok_start", "tok_end",
        "char_start", "char_len", "chunk_text")
      .orderBy("doc_id", "chunk_seq").collect().toSeq
    assert(st14 == t25, "streamed chunking diverged from the batch chunker")
    assert(st14.nonEmpty)
    // multi-chunk documents actually stream (the overlap path fires)
    assert(st14.map(_.getLong(1)).max >= 1L)
  }

  test("st11 incremental compaction over 4 micro-batches equals the one-shot q34 compaction") {
    // latest-wins is associative+commutative, so the foreachBatch
    // merge must land on exactly the batch answer whatever the
    // file/trigger split — the materialized-view correctness claim
    val st11 = SparkEntry.queries("st11_stream_compact")(spark, sf)
      .orderBy("user_id").collect().toSeq
    val q34 = SparkEntry.queries("q34_compact_latest")(spark, sf)
      .orderBy("user_id").collect().toSeq
    assert(st11 == q34, "st11 incremental merge diverged from the one-shot compaction")
    assert(st11.nonEmpty)
  }
}
