package graft

/** The dev CLI: its argument parsing fails loudly, and `explain`
  * prints the plan the query actually executed and its job log. */
class DevSpec extends SparkSpec {

  test("no arguments run the entry smoke") {
    assert(Dev.parse(Seq.empty) == Dev.Smoke)
  }

  test("an unknown subcommand fails with the usage instead of running the smoke") {
    val e = intercept[IllegalArgumentException](Dev.parse(Seq("d8diag", "/tmp/sf")))
    assert(e.getMessage.contains("unknown subcommand 'd8diag'"))
    assert(e.getMessage.contains("usage: graft.Dev"))
  }

  test("explain takes query names and an optional --sf, and rejects unknown names") {
    assert(Dev.parse(Seq("explain", "q1_agg", "--sf", "/data/sf", "q5_topk")) ==
      Dev.Explain(Seq("q1_agg", "q5_topk"), "/data/sf"))
    assert(Dev.parse(Seq("explain", "q1_agg")).asInstanceOf[Dev.Explain].queries == Seq("q1_agg"))
    intercept[IllegalArgumentException](Dev.parse(Seq("explain")))
    intercept[IllegalArgumentException](Dev.parse(Seq("explain", "q1_agg", "--sf")))
    val e = intercept[IllegalArgumentException](Dev.parse(Seq("explain", "no_such_query")))
    assert(e.getMessage.contains("unknown query 'no_such_query'"))
  }

  test("explain prints the finalized adaptive plan of the executed query") {
    val plan = Dev.explain(SparkEntry.queries("q1_agg")(spark, sf))
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(plan.contains("== Final Plan ==") && plan.contains("== Initial Plan =="), plan)
  }

  test("the job log lists the jobs and stages a query built and ran") {
    val (plan, log) = Dev.withJobLog(spark)(Dev.explain(SparkEntry.queries("q1_agg")(spark, sf)))
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(log.exists(_.trim.startsWith("job ")), log.mkString("\n"))
    assert(log.exists(_.trim.startsWith("stage ")), log.mkString("\n"))
    // stages name the operators they ran, not the pool thread's call site
    val stages = log.filter(_.trim.startsWith("stage "))
    assert(stages.forall(!_.contains("CompletableFuture")), stages.mkString("\n"))
    assert(stages.exists(_.contains("Exchange")), stages.mkString("\n"))
  }

  test("the job log names g14's workflow actions by their job descriptions") {
    val (_, log) = Dev.withJobLog(spark)(Dev.explain(SparkEntry.queries("g14_workflow_run")(spark, sf)))
    val jobs = log.filter(_.trim.startsWith("job "))
    for (action <- Seq("write input", "save results and errors"))
      assert(jobs.exists(_.endsWith(s"ms  $action")), s"no '$action' job in:\n${jobs.mkString("\n")}")
  }
}
