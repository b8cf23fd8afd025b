package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lockstep rules for the tracked BENCH_HISTORY.jsonl (VERDICT r18
  * #2) — the sf0.1 counterpart of BudgetsSpec's SF1_HISTORY lockstep.
  * Cleanliness used to be adjudicated in prose (the r18 2164 s driver
  * line sat unmarked in the same file budget re-bases and
  * bench_compare.py draw from); these invariants make the
  * adjudication machine-readable and non-droppable.
  */
class BenchHistorySpec extends AnyFunSuite {

  private lazy val nodes = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile("BENCH_HISTORY.jsonl", "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).map(mapper.readTree).toVector
    finally src.close()
  }

  test("every line parses and is stamped") {
    assert(nodes.nonEmpty, "no BENCH_HISTORY lines")
    nodes.foreach { n =>
      assert(n.path("ts").asLong(0L) > 0, s"unstamped line: $n")
      assert(n.has("queries"), s"line without per-query map: ts ${n.path("ts")}")
    }
    // stamped in append order — an in-place amendment must not reorder
    val ts = nodes.map(_.path("ts").asLong)
    assert(ts == ts.sorted, "BENCH_HISTORY lines out of timestamp order")
  }

  test("every line with trips carries a contended adjudication (VERDICT r18 #2)") {
    // a non-empty over_budget (or contended) map without the run-level
    // boolean is the r18 failure mode: 47 environmental trips the
    // artifact could not defend. New Bench code always emits
    // `contended_run` (derived from at-trip calibration); the two
    // legacy trip lines were retro-adjudicated in r19 and carry a
    // documented note. A future line that trips without adjudication
    // fails HERE, at commit time.
    nodes.foreach { n =>
      val trips = n.path("over_budget").size() + n.path("contended").size()
      if (trips > 0)
        assert(n.has("contended_run"),
          s"ts ${n.path("ts")}: $trips trip(s) but no contended_run adjudication — " +
            "Bench must record at-trip calibration (or the line needs a " +
            "documented retro-adjudication)")
    }
  }

  test("retro-adjudicated legacy lines carry their evidence note") {
    nodes.filter(n => n.path("contended_run").asBoolean(false) && !n.has("trip_calib"))
      .foreach { n =>
        assert(n.path("contended_note").asText("").length > 40,
          s"ts ${n.path("ts")}: contended_run=true without at-trip calibration " +
            "requires a contended_note explaining the retro-adjudication")
      }
  }

  test("the budget gate applies only at the pricing SF") {
    // Budgets.seconds is priced at sf0.1; a sweep on any other corpus
    // must not record budget trips — streaming/packing queries carry
    // fixed per-run overhead that does not shrink with data size, so
    // an sf0.001 smoke sweep false-trips them against sf0.1 budgets
    // (the ts 1786903179 line, retro-adjudicated with its trips moved
    // to `off_pricing_trips` and a contended_note). Bench now skips
    // the gate off-pricing (`budget_gated`); this locks the invariant
    // so a mis-gated line can never again read as regression evidence.
    nodes.filterNot(n => Bench.isPricingSf(n.path("sf").asText(""))).foreach { n =>
      assert(n.path("over_budget").size() == 0 && n.path("contended").size() == 0,
        s"ts ${n.path("ts")}: off-pricing sweep (sf ${n.path("sf")}) carries " +
          "budget trips — the sf0.1-priced gate must not apply")
      if (n.has("off_pricing_trips"))
        assert(n.path("contended_note").asText("").length > 40,
          s"ts ${n.path("ts")}: off_pricing_trips requires an evidence note")
    }
  }

  test("the pricing SF is the path's final component, not a suffix") {
    assert(Bench.isPricingSf("/data/sf0.1"))
    assert(Bench.isPricingSf("/data/sf0.1/"))
    assert(Bench.isPricingSf("/data/x/../sf0.1"))
    assert(!Bench.isPricingSf("/data/mysf0.1"), "a corpus whose name ends in sf0.1 is not a pricing sweep")
    assert(!Bench.isPricingSf("/data/sf0.01"))
    assert(!Bench.isPricingSf("/"))
  }

  test("contended runs are the known set or newer (no silent unflagging)") {
    // the two r18 lines adjudicated contaminated by judge forensics
    // must STAY flagged — a regeneration that drops the flag would
    // re-admit their readings to re-bases
    val flagged = nodes.filter(_.path("contended_run").asBoolean(false))
      .map(_.path("ts").asLong).toSet
    // 1787113283 is the r19 closing sweep retro-adjudicated in r20 as
    // host-FLATTERED (VERDICT r19 what's-wrong #4): untouched queries
    // 3-5x faster than both adjacent same-code runs at near-identical
    // calib — its per-query values must stay out of re-bases/ratchets
    assert(Set(1786877276L, 1786897551L, 1787113283L).subsetOf(flagged),
      s"the adjudicated non-clean lines must remain flagged; found $flagged")
  }

  /** Every line that carries `counters` has one entry per `queries`
    * key, each with every counter; lines written before `compiles`
    * existed have every other counter. */
  private def assertCountersComplete(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
    import scala.jdk.CollectionConverters._
    val queries = n.path("queries").fieldNames.asScala.toList
    val counted = n.path("counters").fieldNames.asScala.toList
    assert(counted.sorted == queries.sorted, s"ts ${n.path("ts")}: counters keys differ from queries keys")
    counted.foreach { q =>
      val keys = n.path("counters").path(q).fieldNames.asScala.toList
      assert(keys == Bench.CounterKeys || keys == Bench.CounterKeys.filterNot(_ == "compiles"),
        s"ts ${n.path("ts")}: $q counters $keys")
    }
  }

  private def sweep(sfDir: String) = Bench.Sweep(sfDir, Seq(
    "q1_agg" -> Some(Bench.Best(1.2345, Bench.Counters(3, 4, 9, 2.5, 0.01, 0.5, 0.25, 6000, 0.0005, 0, 7), None)),
    "g14_workflow_run" -> None),
    budgetGated = false, repeats = 2, calibMs = 400, calibParMs = 450)

  test("every line with counters has one entry per query and every counter key") {
    nodes.filter(_.has("counters")).foreach(assertCountersComplete)
    val built = Bench.stamped(Bench.fullLine(sweep("/data/sf0.001")), 1L)
    assertCountersComplete(built)
    assert(built.path("counters").path("g14_workflow_run").path("build_jobs").asLong == -1)
    assert(built.path("counters").path("q1_agg").path("records_read").asLong == 6000)
    assert(built.path("counters").path("q1_agg").path("compiles").asLong == 7)
    // a line from before `compiles` existed reads as complete
    val legacy = built.deepCopy()
    legacy.path("counters").elements.forEachRemaining(
      _.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("compiles"))
    assertCountersComplete(legacy)
  }

  test("an sf path or conf value holding a quote and a backslash round-trips through the lines") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val odd = "/data/a\"b\\c/sf0.001"
    val full = Bench.fullLine(sweep(odd))
    val history = mapper.readTree(Json.render(Bench.stamped(full, 7L)))
    assert(history.path("sf").asText == odd && history.path("ts").asLong == 7L)
    assert(history.path("queries").path("q1_agg").decimalValue == new java.math.BigDecimal("1.235"))
    assert(history.path("queries").path("g14_workflow_run").asInt == -1)
    assert(Json.render(full.path("queries")).contains("\"q1_agg\":1.235"))
    val metric = mapper.readTree(Json.render(Bench.metricLine(full)))
    assert(metric.path("sf").asText == odd && !metric.has("queries") && !metric.has("counters"))
    assert(mapper.readTree(Json.render(Bench.queriesLine(sweep(odd)))).path("sf").asText == odd)
    val in = Bench.Inputs.parse(Map("SPARK_GRAFT_CONF" -> "spark.x=\"q\\v\"").get)
    val sf1 = Bench.sf1Full(odd, Seq(Bench.Sf1Row("q1_agg", ok = true, 2.0, 1.62, trip = false)))
    val sf1Line = mapper.readTree(Json.render(Bench.sf1HistoryLine(sf1, in, sweep(odd), 9L)))
    assert(sf1Line.path("sf1").asText == odd)
    assert(sf1Line.path("conf").get(0).asText == "spark.x=\"q\\v\"")
    assert(sf1Line.path("ratios").path("q1_agg").path("ratio").asDouble == 1.62)
    assert(!Bench.sf1Short(sf1).has("ratios") && Bench.sf1Short(sf1).path("sf1").asText == odd)
    val (deltas, trend) = Bench.sf1Trend(Seq(Bench.Sf1Row("q1_agg", ok = true, 3.0, 2.5, trip = false)), sf1Line)
    assert(deltas.path("vs_ts").asLong == 9L && trend.path("n_compared").asInt == 1)
    assert(Json.render(trend).contains("\"movers\":{\"q1_agg\":0.880}"), Json.render(trend))
  }
}
