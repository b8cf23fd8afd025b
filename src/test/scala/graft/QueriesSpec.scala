package graft

/** Smoke-level contract checks over the full SURVEY.md §2 inventory:
  * every declared query runs at sf0.001 and yields rows; every query
  * has a DuckDB oracle registered. (Value-level correctness is the
  * driver's DuckDB compare — replicated locally by tools/parity.py.)
  */
class QueriesSpec extends SparkSpec {

  /** Queries DELIBERATELY registered without a DuckDB oracle are
    * declared in [[SparkEntry.rowsOnly]] (emitted to the driver as
    * rows_only.json): approx_percentile's sketch compression points
    * and HLL++'s register layout are engine-specific — no DuckDB
    * aggregate reproduces them bit-exactly. An accidental oracle
    * omission still fails the test. */
  private val rowsOnly = SparkEntry.rowsOnly.keySet

  test("every query has an oracle (or is an explicit rows-only entry)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val stale = rowsOnly -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows-only allowlist entries without a query: $stale")
    val shadowed = rowsOnly & SparkEntry.oracleSql.keySet
    assert(shadowed.isEmpty, s"rows-only entries that HAVE an oracle: $shadowed")
    // each declared rows-only query must name a LIVE oracle-checked
    // companion carrying its accuracy contract
    for ((k, companion) <- SparkEntry.rowsOnly)
      assert(SparkEntry.oracleSql.contains(companion),
        s"$k's accuracy-contract companion $companion has no oracle")
  }

  test("every oracle has a query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without query: $dangling")
  }

  test("every bench stager is a registered query") {
    // a renamed stager would otherwise just stop staging: the bench's
    // stager pass filters the registered names by this set
    val unknown = Bench.Stagers -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"stagers without a query: $unknown")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
