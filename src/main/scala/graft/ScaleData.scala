package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver-generated testdata: replicates
  * each table `copies`× with per-copy key offsets, producing a corpus
  * `copies`× the source at the same distributional shape — the input
  * for the sf1 (10×) scaling sweep (VERDICT r10 #1: convert the 100×
  * design claims from argument to measurement).
  *
  * Replication rules (copy c = 0 is the source, verbatim):
  *  - Every key column offsets by `c × |table|` (keys are dense
  *    0-based), and FOREIGN keys offset by the REFERENCED table's
  *    stride, so join fan-outs are copy-local and selectivities match
  *    the source exactly (orders⋈customer, lineitem⋈part/supplier,
  *    events.user_id⋈customer).
  *  - region/nation are dimensions shared by all copies, unchanged —
  *    as a 10× corpus still has 25 nations.
  *  - `documents.text` for c > 0 applies a per-copy Caesar rotation
  *    (translate over both letter cases): byte length, token lengths,
  *    whitespace and punctuation are EXACTLY preserved — so every
  *    char/token-bound query sees precisely 10× the source bytes —
  *    while the letter substitution destroys cross-copy shingle
  *    overlap, so each copy reproduces the source's near-dup family
  *    structure and the scaled corpus has 10× the FAMILIES at the
  *    same family sizes, which is how a naturally larger corpus
  *    behaves. (Plain replication would instead make every doc a
  *    1.0-Jaccard near-dup of its 9 copies — 10× family SIZES, a
  *    quadratically harder and unrepresentative dedup instance; an
  *    earlier token-prefix variant kept families right but inflated
  *    bytes ~40%, skewing every per-character ratio.)
  *  - `embeddings.embedding` for c > 0 perturbs each component by a
  *    hash-derived ε ∈ ±0.05 (≈ half the mean component magnitude):
  *    copies are genuinely distinct points drawn around the source
  *    distribution — near-coincident copies (an earlier ε ≤ 1e-4)
  *    made Lloyd's membership oscillate past s8's 40-round cap, an
  *    adversarial landscape a naturally larger corpus doesn't have.
  *  - `events.ts` passes through (same time range at 10× density —
  *    what a 10× event stream looks like); event_id/user_id offset.
  *
  * Everything is a single distributed pass per table (crossJoin with
  * a broadcast 10-row copy dimension), deterministic (hash-derived
  * perturbations, no rand()).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/testdata-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    generate(spark, src, dst, copies)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      println(s"[scale] $t rows=${spark.read.parquet(s"$dst/$t.parquet").count()}")
    spark.stop()
  }

  /** Events-only TIME-RANGE scale-up for output-bound range queries
    * (VERDICT r13 #6): copy c shifts `ts` by c × (source span + 1 s)
    * at the SOURCE density, so a ±ε range self-join's pair output
    * grows ~linearly with the data — the density-preserving [[generate]]
    * packs 10× the events into the same range and its pair output
    * grows ~100×, which is the data's shape, not plan scaling, and it
    * forced q24's gate allowance to 16×. Writes `events.parquet` only
    * (q24 reads nothing else); `ts` goes through [[Tables.events]]'s
    * epoch-nanos normalization, a physical form every consumer already
    * accepts (the streaming stagers write it too). */
  def generateRangeScaledEvents(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    import spark.implicits._
    val cdim = broadcast((0 until copies).toDF("c"))
    val ev = Tables.events(spark, src)
    val nEv = ev.count()
    val nCust = spark.read.parquet(s"$src/customer.parquet").count()
    val span = ev.agg((max(col("ts")) - min(col("ts")) + lit(1000000000L)).as("s"))
      .head().getLong(0)
    ev.crossJoin(cdim)
      .select((col("c").cast("long") * nEv + col("event_id")).as("event_id"),
        (col("ts") + col("c").cast("long") * span).as("ts"),
        (col("c").cast("long") * nCust + col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
  }

  /** The scale-up itself, callable from an existing session —
    * [[Bench]]'s sf1 regression gate regenerates a missing corpus
    * through this. */
  def generate(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    import spark.implicits._

    val cdim = broadcast((0 until copies).toDF("c"))
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // strides = source table sizes (keys are dense 0-based)
    val nCust = read("customer").count()
    val nSupp = read("supplier").count()
    val nPart = read("part").count()
    val nOrd = read("orders").count()
    val nEv = read("events").count()
    val nDoc = read("documents").count()
    val nEmb = read("embeddings").count()

    def offset(c: org.apache.spark.sql.Column, stride: Long) =
      col("c").cast("long") * stride + c

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(read("customer").crossJoin(cdim)
      .select(offset(col("c_custkey"), nCust).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer")
    write(read("supplier").crossJoin(cdim)
      .select(offset(col("s_suppkey"), nSupp).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal")),
      "supplier")
    write(read("part").crossJoin(cdim)
      .select(offset(col("p_partkey"), nPart).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part")
    write(read("orders").crossJoin(cdim)
      .select(offset(col("o_orderkey"), nOrd).as("o_orderkey"),
        offset(col("o_custkey"), nCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      "orders")
    write(read("lineitem").crossJoin(cdim)
      .select(offset(col("l_orderkey"), nOrd).as("l_orderkey"),
        offset(col("l_partkey"), nPart).as("l_partkey"),
        offset(col("l_suppkey"), nSupp).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate")),
      "lineitem")
    write(read("events").crossJoin(cdim)
      .select(offset(col("event_id"), nEv).as("event_id"), col("ts"),
        offset(col("user_id"), nCust).as("user_id"),
        col("event_type"), col("value"), col("props")),
      "events")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val rotations = (0 until copies).map { c =>
      val lo = lower.drop(c % 26) + lower.take(c % 26)
      (c, lo + lo.toUpperCase)
    }
    val rotExpr = rotations.tail.foldLeft(col("text")) { case (acc, (c, rot)) =>
      when(col("c") === c, translate(col("text"), lower + upper, rot)).otherwise(acc)
    }
    write(read("documents").crossJoin(cdim)
      .select(offset(col("doc_id"), nDoc).as("doc_id"),
        rotExpr.as("text"), col("lang"), col("source"), col("n_chars")),
      "documents")
    write(read("embeddings").crossJoin(cdim)
      .select(offset(col("vec_id"), nEmb).as("vec_id"),
        when(col("c") === 0, col("embedding")).otherwise(expr(
          """transform(embedding, (x, j) ->
            |  cast(x + (pmod(hash(vec_id, c, j), 2001) - 1000) / 2e4 as float))""".stripMargin))
          .as("embedding"),
        col("label")),
      "embeddings")
  }
}
