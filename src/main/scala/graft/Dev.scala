package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** The dev CLI, two modes:
  *  - no arguments: the entry smoke (README "Verifying a change") —
  *    prints the flagship query's row count;
  *  - `explain <query...> [--sf dir]`: the formatted physical plan of
  *    each registered query, after executing it (see [[explain]]).
  *
  * Per-query counters (jobs, stages, shuffle, records read) come from
  * [[Profile]]; conf A/Bs go through [[Bench]]'s `SPARK_GRAFT_CONF`.
  */
object Dev {
  private val Usage = "usage: graft.Dev [explain <query...> [--sf <dir>]]"

  private[graft] sealed trait Command
  private[graft] case object Smoke extends Command
  private[graft] final case class Explain(queries: Seq[String], sfDir: String) extends Command

  /** Parses the arguments before any session is built, so a bad
    * command line fails fast and never falls through to the smoke. */
  private[graft] def parse(args: Seq[String]): Command = args match {
    case Seq() => Smoke
    case "explain" +: rest =>
      val sfAt = rest.indexOf("--sf")
      val sfDir = if (sfAt < 0) "/root/testdata/sf0.01"
        else rest.lift(sfAt + 1).getOrElse(
          throw new IllegalArgumentException(s"--sf needs a directory; $Usage"))
      val names = if (sfAt < 0) rest else rest.patch(sfAt, Nil, 2)
      if (names.isEmpty)
        throw new IllegalArgumentException(s"explain needs a query name; $Usage")
      names.filterNot(SparkEntry.queries.keySet).headOption.foreach { n =>
        throw new IllegalArgumentException(s"unknown query '$n'; $Usage")
      }
      Explain(names, sfDir)
    case cmd +: _ =>
      throw new IllegalArgumentException(s"unknown subcommand '$cmd'; $Usage")
  }

  /** Executes `df`'s OWN QueryExecution, then renders its formatted
    * plan. Executing first finalizes the adaptive plan, so the output
    * shows AQE's runtime decisions (stage reuse, skew splits, coalesced
    * partitions) as the Final Plan beside the Initial Plan. A sink
    * write would run a fresh QueryExecution and leave this one
    * unfinalized. */
  private[graft] def explain(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val spark = GraftSession.local(8)
    cmd match {
      case Smoke =>
        println(s"entry rows=${SparkEntry.entry(spark).count()}")
      case Explain(names, sfDir) =>
        for (n <- names) {
          println(s"\n========== $n ==========")
          println(explain(SparkEntry.queries(n)(spark, sfDir)))
        }
    }
    spark.stop()
  }
}
