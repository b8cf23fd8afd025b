package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QFn, Exact, Tables}

/** Relational/analytics core: q1–q18 of SURVEY.md §2.
  *
  * Every query is a declarative DataFrame plan (Catalyst does pushdown,
  * pruning, join selection); each has a colocated DuckDB oracle.
  * Determinism rules for oracle parity: decimal-exact sums (see
  * [[graft.Exact]]), explicit total ordering on a unique key, and no
  * raw timestamps in outputs (epoch integers instead).
  */
object Analytics {

  /** TPC-H Q1 shape: grouped agg with map-side partials over the fact
    * table. Scale: single shuffle on 2 low-cardinality keys; partial
    * aggregation reduces 100 TB of scan to KBs of shuffle.
    */
  private def q1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.dsum2(col("l_quantity")).as("sum_qty"),
        Exact.dsum2(col("l_extendedprice")).as("sum_base_price"),
        Exact.dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        Exact.dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        Exact.dmean2(col("l_quantity")).as("avg_qty"),
        Exact.dmean2(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Filter + narrow projection; both reach the parquet scan
    * (PushedFilters / 4-column ReadSchema in the plan).
    */
  private def q2(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-02-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_quantity") < 10.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q2Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_quantity < 10.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Multi-way star join + agg (TPC-H Q5 shape). region/nation/customer
    * broadcast (tiny dims); only the fact tables shuffle, on the join
    * key. Revenue per (region, nation).
    */
  private def q3(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Exact.dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q3Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Broadcast dim join: part (small) broadcast to lineitem; no shuffle
    * of the fact side for the join, only for the final agg.
    */
  private def q4(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Exact.dsum2(col("l_quantity")).as("sum_qty"),
        Exact.dsum2(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  private val q4Sql =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Top-K by aggregate. orderBy+limit compiles to
    * TakeOrderedAndProject: each partition keeps k rows, no global sort
    * materialization — the scale-correct top-k.
    */
  private def q5(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(Exact.dsum2(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  private val q5Sql =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 10""".stripMargin

  /** Window functions: rank + exact running sum per supplier, ordered
    * on a unique key so frames are deterministic. Single shuffle on the
    * partition key.
    */
  private def q6(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        row_number().over(w).cast("long").as("rn"),
        Exact.drunning2(col("l_quantity"), frame).as("running_qty"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  private val q6Sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |  ROW_NUMBER() OVER w AS rn,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem
      |WHERE l_orderkey < 1000
      |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, rn""".stripMargin

  /** Left-semi (EXISTS) and left-anti (NOT EXISTS) joins, summarized by
    * market segment. Semi/anti avoid materializing the probe side.
    */
  private def q7(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"))
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("with_orders"))
    val noO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("no_orders"))
    withO.unionByName(noO)
      .select(col("tag"), col("c_mktsegment"), col("n"))
      .orderBy(col("tag"), col("c_mktsegment"))
  }

  private val q7Sql =
    """SELECT * FROM (
      |  SELECT 'with_orders' AS tag, c_mktsegment, COUNT(*) AS n
      |  FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY c_mktsegment
      |  UNION ALL
      |  SELECT 'no_orders' AS tag, c_mktsegment, COUNT(*) AS n
      |  FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY c_mktsegment)
      |ORDER BY tag, c_mktsegment""".stripMargin

  /** ROLLUP multi-level aggregation; NULL grouping slots coalesced to a
    * marker so engines agree on ordering.
    */
  private def q8(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Exact.dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  private val q8Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Exact distinct counts per group (two-phase distinct aggregation
    * under the hood — scales via partial dedup before the final agg).
    */
  private def q9(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  private val q9Sql =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Set operations over key sets: INTERSECT / EXCEPT both directions,
    * tagged and unioned. Spark plans these as joins after dedup.
    */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val rich = Tables.customer(s, d).filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey").as("k")).distinct()
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
      .select(col("o_custkey").as("k")).distinct()
    val both = rich.intersect(big).withColumn("tag", lit("rich_and_big"))
    val richOnly = rich.except(big).withColumn("tag", lit("rich_only"))
    val bigOnly = big.except(rich).withColumn("tag", lit("big_only"))
    both.unionByName(richOnly).unionByName(bigOnly)
      .select(col("tag"), col("k"))
      .orderBy(col("tag"), col("k"))
  }

  private val q10Sql =
    """WITH rich AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0),
      |     big  AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 200000.0)
      |SELECT * FROM (
      |  SELECT 'rich_and_big' AS tag, k FROM (SELECT k FROM rich INTERSECT SELECT k FROM big)
      |  UNION ALL
      |  SELECT 'rich_only' AS tag, k FROM (SELECT k FROM rich EXCEPT SELECT k FROM big)
      |  UNION ALL
      |  SELECT 'big_only' AS tag, k FROM (SELECT k FROM big EXCEPT SELECT k FROM rich))
      |ORDER BY tag, k""".stripMargin

  /** Correlated-subquery shape: orders above their customer's average,
    * decorrelated as agg + equi-join (what Catalyst does to the
    * subquery form; written directly for plan clarity).
    */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val avgPer = o.groupBy(col("o_custkey").as("k"))
      .agg((Exact.dsum2(col("o_totalprice")) / count(lit(1))).cast("double").as("cust_avg"))
    o.join(avgPer, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("cust_avg"))
      .orderBy(col("o_orderkey"))
  }

  private val q11Sql =
    """WITH a AS (SELECT o_custkey AS k,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS cust_avg
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
      |FROM orders JOIN a ON o_custkey = k
      |WHERE o_totalprice > cust_avg
      |ORDER BY o_orderkey""".stripMargin

  /** Conditional (CASE) pivot-style aggregation over a join. */
  private def q12(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("l_quantity") > 25.0, 1L).otherwise(0L)).as("high_qty"),
        sum(when(col("l_quantity") <= 25.0, 1L).otherwise(0L)).as("low_qty"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returned"))
      .orderBy(col("o_orderpriority"))

  private val q12Sql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_qty,
      |  CAST(SUM(CASE WHEN l_quantity <= 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS low_qty,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Event sessionization: 30-min-gap rule via lag + cumulative sum —
    * one shuffle on user_id, linear in events. All time math is integer
    * epoch-nanos (see Tables.events).
    */
  private def q13(s: SparkSession, d: String): DataFrame = {
    val gapUs = 1800L * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      // µs, not ns: DuckDB truncates parquet ns-timestamps to µs on
      // read, so µs is the finest granularity both engines agree on.
      .withColumn("tus", expr("ts div 1000"))
      .withColumn("new_sess",
        when(col("tus") - lag(col("tus"), 1).over(wOrd) > gapUs, 1L)
          .otherwise(when(lag(col("tus"), 1).over(wOrd).isNull, 1L).otherwise(0L)))
      .withColumn("session_id", sum(col("new_sess")).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"),
        Exact.dsum2(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q13Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      |flags AS (SELECT *,
      |    CASE WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
      |         WHEN LAG(tus) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |sess AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flags)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(tus) AS start_us, MAX(tus) AS end_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Tumbling 1-hour window aggregation over events (batch form of the
    * streaming st1 query); window key is integer floor-to-hour.
    */
  private def q14(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .withColumn("hour_s", expr("(ts div 3600000000000) * 3600"))
      .groupBy(col("hour_s"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum2(col("value")).as("sum_value"))
      .orderBy(col("hour_s"), col("event_type"))
  }

  private val q14Sql =
    """SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_s, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_s, event_type""".stripMargin

  /** As-of join: each purchase matched to the user's most recent click
    * at-or-before it. Implemented the scale-correct way — union both
    * sides, one sort per user partition, carry the last click forward
    * with a window — instead of an inequality join (which would be a
    * per-user cross product). One shuffle, linear scan.
    */
  private def q15(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), expr("ts div 1000").as("tus"), col("user_id"), col("event_type"))
      .withColumn("is_q", when(col("event_type") === "purchase", 1).otherwise(0))
    // clicks sort before an equal-ts purchase so they qualify as "≤".
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("is_q"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("click_id",
        last(when(col("is_q") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("is_q") === 0, col("tus")), ignoreNulls = true).over(w))
      .filter(col("is_q") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("tus").as("purchase_us"), col("click_id"), col("click_ts").as("click_us"))
      .orderBy(col("purchase_id"))
  }

  private val q15Sql =
    """WITH c AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'click'),
      |     p AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id, p.tus AS purchase_us,
      |       c.event_id AS click_id, c.tus AS click_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.tus <= p.tus
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
      |  ORDER BY c.tus DESC NULLS LAST, c.event_id DESC) = 1
      |ORDER BY purchase_id""".stripMargin

  /** Custom whole-operator plan: top-3 orders per priority through the
    * TopKPerKey logical/physical operator (bounded heaps, one shuffle)
    * instead of a window sort. See graft.plans.TopKPerKey.
    */
  private def q16(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.plans.TopK.perKey(o, Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
  }

  private val q16Sql =
    """SELECT o_orderpriority, o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
      |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin

  /** Semi-structured JSON column extraction (events.props). */
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n"))
      .orderBy(col("event_type"))

  private val q17Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Exact percentiles (interpolated) per group — Spark `percentile`
    * and DuckDB `quantile_cont` share the linear-interpolation
    * definition, so values match bit-for-bit. (The approximate
    * `approx_percentile` sketch is the 100 TB path but is not
    * oracle-comparable across engines.)
    */
  /** Exact percentiles WITHOUT Spark's `percentile` aggregate: the
    * built-in buffers every group value in one reducer (3 groups would
    * concentrate a 100 TB table on 3 tasks). [[graft.operators.ExactPercentile]]
    * computes the same bit-exact result by distributed order
    * statistics; both value columns share ONE bucketed rank pass
    * (melted long form), not one per column.
    */
  private def q18(s: SparkSession, d: String): DataFrame = {
    import graft.operators.ExactPercentile
    val li = Tables.lineitem(s, d)
    val pct = ExactPercentile.percentilesMany(li, "l_returnflag",
      Seq("l_extendedprice" -> Seq(0.5, 0.9), "l_quantity" -> Seq(0.25)))
      .groupBy(col("l_returnflag"))
      .agg(
        max(when(col("vcol") === "l_extendedprice" && col("p") === 0.5, col("value"))).as("p50_price"),
        max(when(col("vcol") === "l_extendedprice" && col("p") === 0.9, col("value"))).as("p90_price"),
        max(when(col("vcol") === "l_quantity" && col("p") === 0.25, col("value"))).as("p25_qty"))
    val n = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    pct.join(n, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("p50_price"), col("p90_price"), col("p25_qty"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  private val q18Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  quantile_cont(l_quantity, 0.25) AS p25_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q25: q18's sketch sibling — approximate percentiles via a
    * DETERMINISTIC value-domain histogram (t31's discipline applied to
    * rank, VERDICT r17 #4: for 17 rounds this ran `approx_percentile`,
    * whose Greenwald-Khanna compression points are engine-private and
    * forced a rows-only oracle; the histogram sketch's every
    * intermediate is integer arithmetic both engines reproduce, so the
    * SKETCH RESULT ITSELF now hash-matches DuckDB). Prices are frozen
    * to exact cents (2-decimal doubles, `round(x*100)` — the
    * sub-1e-6-ULP check is in the r18 round log), bucketed by
    * `cents div 4096` (~$41 buckets, ≤ ~2.6k per group at any scale —
    * the value DOMAIN bounds the state, not the row count); the
    * reported percentile is the crossing bucket's inclusive upper
    * bound, so true value error ≤ one bucket width. Quantity (domain
    * 1..50) gets bucket width 1 — the histogram degenerates to exact,
    * the small-domain property of the sketch. Rank targets are
    * integer ceilings: ceil(p·n) = (p_num·n + p_den - 1) div p_den.
    *
    * Scale: ONE pass — a (flag, bucket) count with map-side partials
    * whose shuffle carries the bounded histogram (≤ ~2.6k rows/group),
    * then windows/aggregates over that metadata-sized relation. Same
    * mergeable one-pass contract as approx_percentile, with a
    * reproducible layout. Accuracy contract: [[q25b]] (the GK sketch
    * family's rank-interval audit, retained unchanged).
    */
  private def q25(s: SparkSession, d: String): DataFrame = {
    val W = 4096L
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
      col("l_quantity").cast("long").as("qty"))
    def hist(valueCol: String, w: Long): DataFrame =
      li.groupBy(col("l_returnflag"), expr(s"$valueCol div $w").as("b"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("b"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
    val price = hist("cents", W)
      .groupBy(col("l_returnflag"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("b"))).as("b50"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("b"))).as("b90"))
    val qty = hist("qty", 1L)
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("b"))).as("p25_qty"))
    price.join(qty, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        ((col("b50") + 1) * W - 1).as("p50_price_cents"),
        ((col("b90") + 1) * W - 1).as("p90_price_cents"),
        col("p25_qty"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  private val q25Sql =
    """WITH li AS (SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
      |ph AS (SELECT l_returnflag, cents // 4096 AS b, COUNT(*) AS c
      |       FROM li GROUP BY 1, 2),
      |pc AS (SELECT l_returnflag, b,
      |    CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM ph),
      |pe AS (SELECT l_returnflag, n,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS b50,
      |    MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN b END) AS b90
      |  FROM pc GROUP BY l_returnflag, n),
      |qh AS (SELECT l_returnflag, qty AS b, COUNT(*) AS c FROM li GROUP BY 1, 2),
      |qc AS (SELECT l_returnflag, b,
      |    CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM qh),
      |qe AS (SELECT l_returnflag,
      |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN b END) AS p25_qty
      |  FROM qc GROUP BY l_returnflag)
      |SELECT pe.l_returnflag, (b50 + 1) * 4096 - 1 AS p50_price_cents,
      |  (b90 + 1) * 4096 - 1 AS p90_price_cents, p25_qty, n
      |FROM pe JOIN qe ON pe.l_returnflag = qe.l_returnflag
      |ORDER BY pe.l_returnflag""".stripMargin

  /** q26: approximate distinct counting via the native
    * [[graft.functions.KmvDistinct]] k-minimum-values sketch (VERDICT
    * r17 #4: for 17 rounds this ran `approx_count_distinct`, whose
    * HLL++ register layout is engine-private and forced a rows-only
    * oracle; KMV over a FIXED 40-bit md5 hash is exactly reproducible
    * in ANSI SQL, so the sketch estimate itself now hash-matches).
    * Exact distinct shuffles every distinct key to the reducers; the
    * KMV state is a bounded sorted set (k = 64 longs) whatever the
    * group's cardinality, merge is union-keep-k (order-independent),
    * so partials combine map-side and the shuffle carries one tiny
    * sketch per group per task — the 100 TB cardinality path. k = 64
    * is deliberately small enough that the ESTIMATE branch (not the
    * exact n<k fallback) is exercised at every test SF (the
    * t31/t16/t28 inject-then-measure discipline: a sketch whose
    * approximation path never runs has a vacuous contract); the
    * DuckDB oracle reproduces the estimate with a rank window over
    * distinct hashes — linear at test SF, while the Spark side runs
    * the real bounded-state sketch. Accuracy contract: [[q26b]]
    * (HLL++ vs exact, retained unchanged) plus SketchAccuracySpec's
    * KMV bound.
    */
  private def q26(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("h",
        expr("cast(conv(substring(md5(cast(cast(user_id as string) as binary)), 1, 10), 16, 10) as bigint)"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvDistinct(col("h"), 64).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  private val q26Sql = {
    // DuckDB has no conv(): decode the 10-digit hex slice via strpos
    // place values (the t24/d17 pattern)
    val hex10 = (1 to 10).map { i =>
      s"(strpos('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (10 - i))}"
    }.mkString(" + ")
    // ADVICE r18: the h CTE skips NULL user_ids to mirror the
    // aggregate exactly — KmvDistinct's update skips null hashes
    // (md5(NULL) is NULL), while a bare SELECT DISTINCT would keep a
    // NULL hv row, inflating nd by one and shifting the n<k fallback.
    // Latent today (the generated corpus has no NULL user_ids), but
    // the oracle must be the same FUNCTION as the query, not merely
    // agree on current data. The n CTE stays unguarded: count(1)
    // counts every event whatever its user_id, on both engines.
    s"""WITH h AS (SELECT DISTINCT event_type, CAST($hex10 AS BIGINT) AS hv
       |  FROM events WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, hv,
       |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM h),
       |est AS (SELECT event_type,
       |    CASE WHEN MAX(nd) < 64 THEN MAX(nd)
       |         ELSE (63 * (1::BIGINT << 40)) // (MAX(CASE WHEN rk = 64 THEN hv END) + 1)
       |    END AS approx_users
       |  FROM r GROUP BY event_type),
       |n AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type)
       |SELECT est.event_type, CAST(approx_users AS BIGINT) AS approx_users, n_events
       |FROM est JOIN n ON est.event_type = n.event_type
       |ORDER BY est.event_type""".stripMargin
  }

  /** q25b: the Greenwald-Khanna sketch's accuracy contract as a
    * DRIVER-CHECKABLE oracle query. (Until r18 q25 itself ran
    * `approx_percentile` and was rows-only; q25 now runs the
    * deterministic histogram sketch and hash-matches directly, while
    * this query keeps the GK family — still the right sketch when the
    * value domain is unbounded — under an oracle-checked rank bound.)
    * This query emits the CONTRACT instead of the value: per group,
    * whether the sketch's result sits within the Greenwald-Khanna
    * rank guarantee of the exact data — booleans hash-match fine.
    *
    * The check is rank-exact, mirroring SketchAccuracySpec: the
    * returned value's occupied rank interval [lt+1, le] (counts of
    * strictly-smaller / less-or-equal rows, computed in the same
    * query) must intersect target ± e, target = ⌈p·n⌉,
    * e = max(1, ⌈n/accuracy⌉) + 1. The oracle computes n exactly and
    * expects every bound TRUE — so a silently-broken sketch (wrong
    * column, broken partial-merge rewrite) now fails the DRIVER gate,
    * not just the test suite. Two passes over the group (sketch, then
    * rank counts against the broadcast sketch row) — the check costs
    * one extra scan, which is what an accuracy audit costs.
    */
  private def q25b(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      col("l_extendedprice").cast("double").as("price"),
      col("l_quantity").cast("double").as("qty"))
    val apx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(price, array(0.5D, 0.9D), 10000)").as("ap"),
        expr("approx_percentile(qty, 0.25D, 10000)").as("aq"))
      .select(col("l_returnflag"), col("ap").getItem(0).as("a50"),
        col("ap").getItem(1).as("a90"), col("aq").as("a25"))
    val c = li.join(broadcast(apx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("price") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("price") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("price") <= col("a90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("price") < col("a90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("qty") <= col("a25"), 1L).otherwise(0L)).as("le25"),
        sum(when(col("qty") < col("a25"), 1L).otherwise(0L)).as("lt25"),
        count(lit(1)).as("n"))
    def ok(p: Double, le: Column, lt: Column): Column = {
      val n = col("n")
      val e = greatest(lit(1L), ceil(n.cast("double") / 10000).cast("long")) + lit(1L)
      val target = ceil(n.cast("double") * p).cast("long")
      (lt + lit(1L) <= target + e) && (le >= target - e)
    }
    c.select(col("l_returnflag"), col("n"),
      ok(0.5, col("le50"), col("lt50")).as("p50_ok"),
      ok(0.9, col("le90"), col("lt90")).as("p90_ok"),
      ok(0.25, col("le25"), col("lt25")).as("p25_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val q25bSql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p25_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q26b: q26's HLL++ accuracy contract as an oracle query — the
    * distinct-count sibling of [[q25b]]. Emits, per group, the exact
    * distinct count plus whether the sketch landed within 2× the
    * default relativeSD (0.05) of it — the same fixed margin
    * SketchAccuracySpec asserts (deterministic data → deterministic
    * bound, not a flaky statistical gate). The oracle recomputes the
    * exact side in DuckDB and expects all-true, making the sketch's
    * accuracy a hash-checked driver signal. Exact + approx ride ONE
    * aggregation (Spark plans the distinct via Expand), so the audit
    * is a single pass.
    */
  private def q26b(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("apx"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("apx") - col("exact_users")).cast("double") <=
          lit(2 * 0.05) * col("exact_users")).as("within_bound"))
      .orderBy(col("event_type"))

  private val q26bSql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(*) AS n_events, TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Pivot (wide) aggregation: one column per l_linestatus value.
    * Values are enumerated explicitly — at scale an un-enumerated
    * pivot needs an extra distinct pass over the data.
    */
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(Exact.dsum2(col("l_quantity")))
      .na.fill(0.0)
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy(col("l_returnflag"))

  private val q19Sql =
    """SELECT l_returnflag,
      |  COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_f,
      |  COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_o
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** CUBE aggregation with grouping_id — all 4 grouping combinations
    * in one pass (Spark expands to a single shuffle).
    */
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        Exact.dsum2(col("o_totalprice")).as("sum_price"))
      .select(col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))
      .orderBy(col("gid"), col("status"), col("priority"))

  private val q20Sql =
    """SELECT GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, priority""".stripMargin

  /** q31: explicit GROUPING SETS — the member of the multi-level
    * aggregation family (q8 rollup, q20 cube) neither can express: the
    * detail level plus BOTH one-dimension margins, WITHOUT the grand
    * total. A reporting rollup that publishes per-flag and per-status
    * margins but not the all-up row is exactly this shape, and cube
    * would compute (and then have to filter) the extra set. Spark 4's
    * `Dataset.groupingSets` plans all three sets into ONE expand +
    * shuffle (same engine path as rollup/cube — no union of three
    * aggregations, no triple scan).
    */
  private def q31(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        Exact.dsum2(col("l_quantity")).as("sum_qty"))
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))

  private val q31Sql =
    """SELECT GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
      |  COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  /** RANGE-frame moving window: per-user 10-minute trailing event sum
    * over integer event time (range frames on epoch-µs).
    */
  private def q21(s: SparkSession, d: String): DataFrame = {
    val tenMinUs = 600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-tenMinUs, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"), col("value"))
      .withColumn("trailing_n", count(lit(1)).over(w))
      .withColumn("trailing_sum", Exact.drunning2(col("value"), w))
      .select(col("user_id"), col("event_id"), col("tus"),
        col("trailing_n"), col("trailing_sum"))
      .orderBy(col("user_id"), col("tus"), col("event_id"))
  }

  /** Rank-family window functions (ntile / percent_rank / cume_dist)
    * per customer. The order key includes the unique o_orderkey so the
    * rank-derived doubles are tie-free and engine-identical: both
    * engines compute (rank−1)/(n−1) and rank/n on exact integers.
    */
  private def q22(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("ntile4", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q22Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(ntile(4) OVER w AS BIGINT) AS ntile4,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** The q15 as-of semantics through the NATIVE merge-join operator
    * ([[graft.plans.AsOfNative]] — logical node → Strategy →
    * BinaryExecNode): two clustered shuffles + per-partition sorts +
    * one streaming merge pass, instead of the union+window formulation.
    * Checked against the identical DuckDB oracle as q15.
    */
  private def q23(s: SparkSession, d: String): DataFrame = {
    import graft.plans.AsOfNative
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), expr("ts div 1000").as("tus"),
        col("user_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus").as("purchase_us"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tus").as("click_us"), col("event_id").as("click_id"))
    AsOfNative.latestAtOrBefore(purchases, clicks,
        "user_id", "purchase_us", "purchase_id", "click_us", "click_id")
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id"), col("click_us"))
      .orderBy(col("purchase_id"))
  }

  /** Pure range join (NO equi-key): purchase events paired with error
    * events within ±5 minutes, globally. Spark's planner would execute
    * the raw inequality join as a nested-loop cartesian; banding both
    * sides into eps-width time buckets and probing the 3 adjacent
    * bands turns it into a shuffle EQUI-join on the band id with
    * per-band bounded candidates — the standard distributed
    * range-join construction. Each pair matches in exactly one probe
    * band (the build side's own), so no dedup pass is needed.
    */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val epsUs = 300L * 1000000L
    val e = Tables.events(s, d)
      .select(col("event_id"), expr("ts div 1000").as("tus"), col("event_type"))
    // integer `div`, not double division: a boundary time rounding into
    // the wrong band could put a true pair 2 bands apart and lose it
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("tus").as("pus"),
        expr(s"tus div $epsUs").as("b0"))
      .withColumn("band", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .drop("b0")
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("tus").as("eus"),
        expr(s"tus div $epsUs").as("band"))
    purchases.join(errors, Seq("band"))
      .filter(abs(col("pus") - col("eus")) <= epsUs)
      .select(col("purchase_id"), col("error_id"), (col("pus") - col("eus")).as("delta_us"))
      .orderBy(col("purchase_id"), col("error_id"))
  }

  private val q24Sql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS tus, event_type FROM events)
      |SELECT a.event_id AS purchase_id, b.event_id AS error_id,
      |  a.tus - b.tus AS delta_us
      |FROM e a JOIN e b
      |  ON a.event_type = 'purchase' AND b.event_type = 'error'
      |  AND b.tus BETWEEN a.tus - 300000000 AND a.tus + 300000000
      |ORDER BY purchase_id, error_id""".stripMargin

  private val q21Sql =
    """SELECT user_id, event_id, epoch_us(ts) AS tus,
      |  COUNT(*) OVER w AS trailing_n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, tus, event_id""".stripMargin

  /** q27's bucket count: the one scale-sensitive layout constant in
    * the query family. At 100 TB you size it as table size / target
    * bucket-file size (e.g. 100 TB / ~1 GB ≈ 10⁵ buckets) so each
    * bucket file stays in the maxPartitionBytes sweet spot; both join
    * sides MUST use the same count or the co-located read degrades to
    * a shuffle. Output-invariant (bucketing is layout, not semantics).
    */
  private[graft] val Q27Buckets = 8

  /** Hand-bumped with any change to q27's staged bucketed layout. */
  private[graft] val Q27LayoutVersion = "q27b1"

  /** q27: the bucketed co-located join as a driver-checked query —
    * previously proven at library level only (BucketedJoinSpec). Both
    * sides are written ONCE bucketed+sorted on the join key into
    * external tables, then the fact⋈fact join reads matching buckets
    * directly: zero Exchange on either side (plan-pinned in
    * PlanShapeSpec with broadcast disabled). At 100 TB this converts
    * the dominant repeated join shuffle into a one-off write-time
    * layout decision — the pattern a production deployment lives on
    * for its hot join keys; [[Q27Buckets]] documents the 100 TB
    * sizing rule.
    *
    * The layout is staged ([[graft.StagePath.staged]]): the first run
    * on a corpus pays the bucketed write, and every run then attaches
    * the staged layout as external bucketed tables (catalog-only, zero
    * data IO) before the co-located join. The marker covers both
    * source files, the layout version and the bucket count; a corpus
    * change, a version bump or a different count forces the re-write.
    */
  private def q27(s: SparkSession, d: String): DataFrame = {
    val specs = Seq(
      ("graft_q27_lineitem", "l_orderkey",
        () => Tables.lineitem(s, d).select("l_orderkey", "l_quantity", "l_extendedprice")),
      ("graft_q27_orders", "o_orderkey",
        () => Tables.orders(s, d).select("o_orderkey", "o_orderpriority")))
    val stage = graft.StagePath.staged(s, "bucketed", d,
        Seq("lineitem.parquet", "orders.parquet"), s"$Q27LayoutVersion:n$Q27Buckets",
        specs.map(_._1)) { st =>
      for ((table, key, dfF) <- specs) st.write(table) { p =>
        // bucketBy writes only through the catalog; the table is
        // external (it has a path), so dropping it keeps the files
        s.sql(s"DROP TABLE IF EXISTS $table")
        dfF().write.bucketBy(Q27Buckets, key).sortBy(key)
          .option("path", p.toString).saveAsTable(table)
        s.sql(s"DROP TABLE $table")
      }
    }
    for ((table, key, dfF) <- specs) {
      // always re-register: the catalog is per-session and a live
      // entry may point at ANOTHER corpus's staging dir. Bucket ids
      // ride the standard part-file naming, so the join still reads
      // co-located buckets (plan-pinned in PlanShapeSpec).
      s.sql(s"DROP TABLE IF EXISTS $table")
      s.sql(s"CREATE TABLE $table (${dfF().schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Q27Buckets BUCKETS " +
        s"LOCATION '${stage.resolve(table)}'")
    }
    s.table("graft_q27_lineitem")
      .join(s.table("graft_q27_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Exact.dsum2(col("l_quantity")).as("sum_qty"),
        Exact.dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val q27Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q28: incremental aggregation by PARTIAL MERGE — the daily-rollup
    * shape at 100 TB: yesterday's aggregate state (decimal partial
    * sums + counts over the historical ~80% of the fact table, split
    * by the d12 integer rule on the corpus max key) is NOT recomputed;
    * today's delta aggregates alone, and the two partial relations
    * merge by re-aggregation. This works because count and decimal-sum
    * are commutative monoids; the average deliberately derives from
    * the MERGED sum/count at the end — the non-mergeable metric stored
    * as its mergeable parts, which is the core discipline of any
    * incremental rollup. Partials stay DECIMAL through both stages and
    * cast to double exactly once, so decimal associativity makes the
    * merge bit-exact.
    *
    * The oracle is the FULL single-pass aggregate — the driver compare
    * literally checks incremental == recompute. At production scale
    * the base partials would be a stored table (ResultSink) written by
    * yesterday's run; both sides derive in-plan here so the oracle
    * sees one self-contained query, and the base subtree is exactly
    * what that store would contain.
    */
  private def q28(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = Tables.lineitem(s, d)
    val mx = li.agg(max(col("l_orderkey")).as("mx"))
    val flagged = li.crossJoin(broadcast(mx))
    def partials(side: DataFrame): DataFrame =
      side.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("p_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("p_price"))
    // division-first split (ADVICE/VERDICT r9): `key > mx - mx div 5`
    // cannot ANSI-overflow at keys near Long.Max, unlike the old
    // `key * 5 > mx * 4` multiply; same newest-~20% partition
    val base = partials(flagged.filter(col("l_orderkey") <= col("mx") - expr("mx div 5")))
    val delta = partials(flagged.filter(col("l_orderkey") > col("mx") - expr("mx div 5")))
    base.unionAll(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n")).as("n"),
        sum(col("p_qty")).as("m_qty"),
        sum(col("p_price")).as("m_price"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("m_qty").cast("double").as("sum_qty"),
        col("m_price").cast("double").as("sum_price"),
        (col("m_qty").cast("double") / col("n")).cast("double").as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q28Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q29: PARTITION-PRUNED scan over a date-partitioned layout — the
    * other half of the physical-design story q27 started. q27's
    * bucketing kills the JOIN shuffle; Hive-style partitioning by a
    * derived `ship_month` kills the SCAN itself: a filter on the
    * partition column resolves against directory METADATA, so the
    * month query below reads one month's files and never opens the
    * rest. At 100 TB this is the first lever anyone reaches for — a
    * daily/monthly-partitioned fact table turns every time-bounded
    * query from a full-corpus scan into a listing lookup, and
    * partition pruning composes with the parquet row-group pushdown
    * the rest of the suite already verifies (PushedFilters prunes
    * WITHIN files; partition pruning prunes files away entirely).
    *
    * The partitioned write is staged once per corpus state
    * ([[graft.StagePath.staged]]): the first run per corpus pays the
    * layout, every later run prices exactly the pruned read, which is
    * the operator under test.
    * PlanShapeSpec pins the contract dynamically: the executed scan's
    * `numFiles` metric must be strictly smaller than the staged file
    * population — pruning observed at the physical plan, not assumed.
    * Month granularity is the layout decision: ~84 partitions over the
    * 7-year TPC-H date range keeps every partition far above the
    * small-file floor at any scale factor (daily partitioning at 100 TB
    * ≈ 40 GB/day is the same math with a finer calendar).
    */
  /** Hand-bumped with any change to q29's staged layout (projection,
    * partitioning column, file clustering). */
  private[graft] val Q29LayoutVersion = "q29s1"

  private def q29(s: SparkSession, d: String): DataFrame = {
    val stage = graft.StagePath.staged(s, "partitioned", d, Seq("lineitem.parquet"),
        Q29LayoutVersion, Seq("layout")) { st =>
      // rows are clustered by the partition column first, so each month
      // lands as ONE file instead of one per scan task per month (the
      // small-files problem at both write and read). At 100 TB the same
      // write adds a file-count dimension inside each month (~40
      // GB/month needs multiple target-size files); the clustering
      // decision is unchanged.
      st.write("layout")(p => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .repartition(col("ship_month"))
        .write.partitionBy("ship_month")
        .parquet(p.toString))
    }
    s.read.parquet(stage.resolve("layout").toString)
      .filter(col("ship_month") === "1997-03")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Exact.dsum2(col("l_quantity")).as("sum_qty"),
        Exact.dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  private val q29Sql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE strftime(l_shipdate, '%Y-%m') = '1997-03'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q30: SALTED two-phase aggregation as a driver-checked query — the
    * hot-key playbook for aggregations, promoted from library+spec
    * ([[graft.operators.Salted]], previously exercised only by the q3
    * skew-equivalence spec) to an oracle-checked operator. `groupBy
    * l_returnflag` has ~3 values: at 100 TB one reducer per flag
    * receives a third of the fact table — the aggregation analogue of
    * the skew-join problem, and the one AQE does NOT fix (its skew
    * handling covers joins; a skewed agg needs the partial-combine
    * expressed manually). Salting splits each key into 16 deterministic
    * sub-keys (pmod(hash(l_orderkey))) — the hot key's volume spreads
    * across 16 reducers in phase one, and phase two merges 16 tiny
    * partial rows per key.
    *
    * Correctness under the driver hash compare is the point: counts
    * and DECIMAL sums are commutative monoids, so partial→merge is
    * bit-exact (the q28 discipline) and the oracle is the PLAIN
    * single-phase GROUP BY — the compare literally proves
    * salted == unsalted. PlanShapeSpec pins the two-exchange shape
    * (first keyed on (l_returnflag, __salt), then on l_returnflag).
    */
  private def q30(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    graft.operators.Salted.countAndSumsByKey(
      Tables.lineitem(s, d), "l_returnflag",
      Seq(col("l_quantity").cast(DecimalType(18, 2)) -> "m_qty",
        col("l_extendedprice").cast(DecimalType(18, 2)) -> "m_price"),
      "n", col("l_orderkey"))
      .select(col("l_returnflag"), col("n"),
        col("m_qty").cast("double").as("sum_qty"),
        col("m_price").cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  private val q30Sql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q32: OUTER-join null-row semantics — the most common relational
    * shape the suite didn't cover (VERDICT r10 #2). Two joins, both
    * with genuine unmatched populations on the preserved side(s):
    *
    *  - FULL OUTER fact⋈fact: urgent-priority orders vs per-order
    *    returned-lineitem revenue, joined on orderkey. Both sides have
    *    exclusive keys (urgent orders with no returned items; returned
    *    items on non-urgent orders), so the outer join emits null rows
    *    in BOTH directions. The grouping key is a CASE over the two
    *    sides' key nullness — the grouping-on-null trap — and the
    *    measures exercise COUNT(expr) vs COUNT(*) null-skipping plus
    *    COALESCE-to-zero inside a decimal SUM.
    *  - RIGHT OUTER fact⋈dim: the same urgent orders right-joined to
    *    customer — only ~1/5 of customers have an urgent order, so most
    *    dim rows emit with an all-null fact side and must still be
    *    counted (n_rows) while contributing nothing to n_matched/amt.
    *
    * Scale: both joins are equi-joins keyed on orderkey/custkey. The
    * full outer can never broadcast (both sides preserved) — Spark
    * plans a sort-merge join, the shape you want at 100 TB. The right
    * outer COULD broadcast its left (the filtered FACT — the OOM path
    * at scale, where "urgent orders" is TBs); the merge hint pins the
    * shuffle plan the production query needs, and PlanShapeSpec
    * asserts no BroadcastNestedLoop and no broadcast of either fact.
    * Decimal sums throughout (the q1 exactness discipline) so the
    * COALESCE arithmetic is bit-exact vs the oracle.
    */
  private def q32(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("tp"))
    val returned = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))).as("rr"))
    val fo = urgent
      .join(returned, urgent("o_orderkey") === returned("l_orderkey"), "full_outer")
      .withColumn("grp", concat(lit("fo:"),
        when(col("o_orderkey").isNull, lit("returned_only"))
          .when(col("l_orderkey").isNull, lit("urgent_only"))
          .otherwise(lit("both"))))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull, lit(1)))
          .as("n_matched"),
        sum(coalesce(col("tp"), lit(0).cast(DecimalType(18, 2))) +
            coalesce(col("rr"), lit(0).cast(DecimalType(18, 4))))
          .cast("double").as("amt"))
    val ro = urgent
      .join(Tables.customer(s, d).hint("merge"),
        urgent("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(concat(lit("ro:"), col("c_mktsegment")).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_matched"),
        sum(coalesce(col("tp"), lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("amt"))
    fo.unionByName(ro).orderBy(col("grp"))
  }

  private val q32Sql =
    """WITH urgent AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS tp
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |returned AS (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS rr
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey)
      |SELECT 'fo:' || CASE WHEN u.o_orderkey IS NULL THEN 'returned_only'
      |                     WHEN r.l_orderkey IS NULL THEN 'urgent_only'
      |                     ELSE 'both' END AS grp,
      |  COUNT(*) AS n_rows,
      |  COUNT(CASE WHEN u.o_orderkey IS NOT NULL AND r.l_orderkey IS NOT NULL
      |             THEN 1 END) AS n_matched,
      |  CAST(SUM(COALESCE(u.tp, 0) + COALESCE(r.rr, 0)) AS DOUBLE) AS amt
      |FROM urgent u FULL OUTER JOIN returned r ON u.o_orderkey = r.l_orderkey
      |GROUP BY 1
      |UNION ALL
      |SELECT 'ro:' || c.c_mktsegment AS grp,
      |  COUNT(*) AS n_rows,
      |  COUNT(u.o_orderkey) AS n_matched,
      |  CAST(SUM(COALESCE(u.tp, 0)) AS DOUBLE) AS amt
      |FROM urgent u RIGHT JOIN customer c ON u.o_custkey = c.c_custkey
      |GROUP BY 1
      |ORDER BY grp""".stripMargin

  /** q33: UNPIVOT (wide→long melt) — the inverse of q19's pivot and
    * the last relational reshaping verb in the surface: four measure
    * columns melt into (measure, value) rows, then aggregate per
    * (returnflag, measure). Uses `Dataset.unpivot` — ONE Expand node
    * over ONE scan of the fact (plan-pinned), where the naive
    * formulation (what the oracle SQL spells) re-scans the table once
    * per measure: at 100 TB that is a 4× scan-cost difference for an
    * identical result. Sums go through [[Exact.dsum2]] (all four
    * measures are 2-dp-exact doubles) and the mean is the exact sum
    * divided by the exact count — both engines divide identical
    * operands, so the doubles compare bit-identically.
    */
  private def q33(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
    li.unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum2(col("value")).as("sum_value"),
        max(col("value")).as("max_value"))
      .withColumn("avg_value", col("sum_value") / col("n"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  private val q33Sql =
    """WITH u AS (
      |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
      |SELECT l_returnflag, measure, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  MAX(value) AS max_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM u GROUP BY 1, 2
      |ORDER BY l_returnflag, measure""".stripMargin

  /** q35: cohort retention — the canonical product-analytics matrix
    * (cohort = month of a customer's FIRST order; for each cohort ×
    * months-since-first, how many customers are still ordering, and
    * what fraction of the cohort that is). Three shapes composed the
    * way they should be at 100 TB:
    *
    *   1. first-order month: a map-side-partial `min` hash aggregate
    *      on the customer key — never a window over order history;
    *   2. cohort assignment: the fact re-joined to that per-customer
    *      min. BOTH sides are corpus-proportional, so this is a
    *      shuffle equi-join on the customer key, pinned by hint —
    *      AQE would (correctly) broadcast only at toy scale, and the
    *      plan asserted here is the one a 100 TB fact needs;
    *   3. the retention matrix: count-distinct per (cohort, offset) —
    *      bounded by months²; cohort size comes from `first` itself
    *      (every customer is active at offset 0), so the fact is
    *      scanned once and the size join-back broadcasts a
    *      months-bounded relation (plan-pinned).
    *
    * Month arithmetic is integer-exact in both engines: months are
    * compared as `year*12 + month` indexes (no float date math, no
    * interval semantics to disagree on), and retention is a division
    * of two exact longs — bit-identical doubles.
    */
  private def q35(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("mi")).as("cmi"))
    // the per-customer table is corpus-proportional: the hint pins the
    // shuffle join AQE would (correctly) broadcast only at toy scale
    val act = o.join(first.hint("shuffle_hash"), Seq("o_custkey"))
      .withColumn("months_since", (col("mi") - col("cmi")).cast("long"))
      .groupBy(col("cmi"), col("months_since"))
      .agg(countDistinct(col("o_custkey")).as("active_customers"))
    // cohort size = customers whose first month IS the cohort (every
    // customer is active at offset 0) — derived from `first` directly,
    // so the fact is never re-scanned and `first`'s exchange is reused
    val size = first.groupBy(col("cmi")).agg(count(lit(1)).as("cohort_size"))
    act.join(broadcast(size), Seq("cmi"))
      .select(
        concat(lpad(expr("(cmi - 1) div 12").cast("string"), 4, "0"), lit("-"),
          lpad((expr("(cmi - 1) % 12") + 1).cast("string"), 2, "0")).as("cohort_month"),
        col("months_since"), col("active_customers"), col("cohort_size"),
        (col("active_customers").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_month"), col("months_since"))
  }

  private val q35Sql =
    """WITH o AS (
      |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS mi
      |  FROM orders),
      |f AS (SELECT o_custkey, MIN(mi) AS cmi FROM o GROUP BY o_custkey),
      |a AS (
      |  SELECT cmi, CAST(mi - cmi AS BIGINT) AS months_since,
      |    COUNT(DISTINCT o_custkey) AS active_customers
      |  FROM o JOIN f USING (o_custkey)
      |  GROUP BY 1, 2),
      |c0 AS (SELECT cmi, COUNT(*) AS cohort_size FROM f GROUP BY cmi)
      |SELECT lpad(CAST((a.cmi - 1) // 12 AS VARCHAR), 4, '0') || '-' ||
      |    lpad(CAST((a.cmi - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
      |  a.months_since, a.active_customers, c0.cohort_size,
      |  CAST(a.active_customers AS DOUBLE) / c0.cohort_size AS retention
      |FROM a JOIN c0 USING (cmi)
      |ORDER BY cohort_month, months_since""".stripMargin

  /** q36: Z-ORDER clustering + file-level min/max skipping — the
    * multi-dimensional data-skipping lever (Delta/Iceberg `OPTIMIZE
    * ZORDER BY`, here built from Spark primitives so the mechanism is
    * visible and testable):
    *
    *   1. WRITE-time: each row gets a z-value interleaving the bits of
    *      its two skip dimensions (ship-month index, partkey bucket);
    *      `repartitionByRange` on that z-value clusters the fact into
    *      files whose (month × bucket) bounding boxes are TIGHT — the
    *      property one-dimensional sorting cannot give both dims at
    *      once.
    *   2. STATS: one pass collects per-file min/max of both dims —
    *      the manifest a table format keeps in its transaction log,
    *      here a files×4 relation (metadata-sized).
    *   3. READ-time: a 2-d predicate (one month × 8 part buckets)
    *      prunes the manifest to the files whose boxes overlap it; the
    *      driver collects that FILE LIST (metadata-sized — the same
    *      listing a format's planner materializes) and scans only
    *      those files, re-applying the row-level predicate.
    *
    * The oracle is the plain filtered aggregate over the raw table —
    * the compare proves skipping loses no rows; PlanShapeSpec pins the
    * executed scan's numFiles strictly below the staged population
    * (skipping OBSERVED, q29's discipline). Z-order math is
    * Spark-side-only layout (the oracle never sees it), so the
    * interleave needs no cross-engine twin. The layout AND its
    * manifest are staged once per corpus state
    * ([[graft.StagePath.staged]]), as a table format writes file-level
    * stats once, at write time: each run prices manifest read → prune
    * → pruned scan, the planner path this query demonstrates. At
    * 100 TB the win multiplies with partition pruning:
    * q29 prunes the calendar, z-order prunes WITHIN each month across
    * a second dimension partitioning can't reach.
    */
  /** Hand-bumped with any change to q36's staged z-order layout or its
    * manifest derivation. */
  private[graft] val Q36LayoutVersion = "q36s1"

  private def q36(s: SparkSession, d: String): DataFrame = {
    val mi = year(col("l_shipdate")) * 12 + month(col("l_shipdate"))
    val pb = pmod(col("l_partkey"), lit(128))
    val stage = graft.StagePath.staged(s, "zorder", d, Seq("lineitem.parquet"),
        Q36LayoutVersion, Seq("data", "manifest")) { st =>
      // 8-bit month index (clamped base-23900 window — layout-only:
      // the manifest stores the TRUE min/max, so clamping can cost
      // skipping quality, never correctness) interleaved with the
      // 7-bit bucket
      val mi8 = greatest(least(col("mi") - lit(23900), lit(255)), lit(0))
      val zval = (0 until 8).map(i => shiftleft(mi8.bitwiseAND(lit(1 << i)), i))
        .reduce(_ + _)
        .plus((0 until 7).map(i => shiftleft(col("pb").bitwiseAND(lit(1 << i)), i + 1))
          .reduce(_ + _))
      val dataDir = st.write("data")(p => Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate"))
        .withColumn("mi", mi).withColumn("pb", pb)
        .withColumn("zval", zval)
        .repartitionByRange(64, col("zval"))
        .write.parquet(p.toString))
      // the manifest names the data files at their final paths, so it
      // is derived after the data is in place
      st.write("manifest")(p => s.read.parquet(dataDir.toString)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("mi")).as("mi_lo"), max(col("mi")).as("mi_hi"),
          min(col("pb")).as("pb_lo"), max(col("pb")).as("pb_hi"))
        .coalesce(1)
        .write.parquet(p.toString))
    }
    val manifest = s.read.parquet(stage.resolve("manifest").toString)
    val (m, bLo, bHi) = (23967, 40, 47) // 1997-03 × buckets 40..47
    // metadata-sized collect: the pruned file list, exactly what a
    // table format's planner hands the scan
    val files = manifest
      .filter(col("mi_lo") <= m && col("mi_hi") >= m &&
        col("pb_lo") <= bHi && col("pb_hi") >= bLo)
      .select(col("f")).collect().map(_.getString(0))
    require(files.nonEmpty, "z-order manifest pruned every file — predicate mismatch")
    s.read.parquet(files.toIndexedSeq: _*)
      .filter(col("mi") === m && col("pb").between(bLo, bHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Exact.dsum2(col("l_quantity")).as("sum_qty"),
        Exact.dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  private val q36Sql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE year(l_shipdate) * 12 + month(l_shipdate) = 23967
      |  AND l_partkey % 128 BETWEEN 40 AND 47
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q37: the `row_number() = 1` anti-pattern, auto-rewritten — this
    * query is WRITTEN as the window formulation every analyst reaches
    * for (rank the history per key, keep rank 1) and EXECUTED as
    * q34's aggregate, because [[graft.plans.LatestRewrite]] — a
    * registered Catalyst `Rule[LogicalPlan]` — rewrites the
    * Filter(rn = 1)-over-Window shape into ONE atomic
    * `max(struct(order ++ payload))` with map-side partials (tie-safe
    * by construction — never per-column max_by). Plan-pinned: the
    * executed plan has NO Window node and keeps partial aggregation;
    * the oracle is the window formulation in SQL, so the compare
    * proves the rewrite is semantics-preserving on real data. Honest
    * framing (measured — see [[graft.plans.LatestRewrite]]'s
    * Scaladoc): Spark 4's own WindowGroupLimit already bounds the
    * shuffle, so the rewrite's win is eliminating the remaining
    * per-partition and per-key SORTS — ~27% at sf0.1 AND sf1 with the
    * struct-max form, growing with history depth. The durable point:
    * the engine, not code review, converges the naive window and the
    * hand-written q34 onto one sort-free shape.
    */
  private def q37(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    // LatestRewrite arrives with the session (GraftExtensions via
    // spark.sql.extensions — GraftSession/Verify/Bench all set it), so
    // running q37 mutates NO session state and plan shape is
    // independent of query execution order (r11 advice).
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"), col("event_type"), col("value"))
    ev.withColumn("rn", row_number().over(
        W.partitionBy(col("user_id")).orderBy(col("tus").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("tus").as("last_tus"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"))
      .sortWithinPartitions(col("user_id"))
  }

  private val q37Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, tus AS last_tus, event_id AS last_event_id,
      |  event_type AS last_event_type, value AS last_value
      |FROM e WHERE rn = 1""".stripMargin

  /** q34: CDC log compaction — the latest record per key, as an
    * AGGREGATE, never a window. The standard changelog shape
    * (`row_number() OVER (PARTITION BY key ORDER BY ts DESC) = 1`)
    * ships every change row to its key's reducer and SORTS each
    * key's history — at 100 TB of changelog that is a full shuffle +
    * per-key sort paid for one surviving row. Compaction here is
    * `max(struct(ts, event_id, payload...))`: the struct's
    * lexicographic order makes (ts, event_id) the version key
    * (event_id is unique, so the order is total and ties cannot
    * exist), the payload fields ride along, and the hash aggregate
    * combines map-side — each input partition contributes ONE
    * candidate row per key to the exchange, so the shuffle moves
    * |keys|·partitions rows instead of |changes| rows, and nothing is
    * ever sorted. The same one-liner is the foreachBatch merge step of
    * a streaming compaction (newest-wins upsert). Oracle = the window
    * formulation, so the compare proves aggregate == window.
    *
    * Output is one row per key (corpus-proportional at scale) →
    * sortWithinPartitions, not a global sort (VERDICT r10 #8).
    */
  private def q34(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"), col("event_type"), col("value"))
    ev.groupBy(col("user_id"))
      .agg(max(struct(col("tus"), col("event_id"), col("event_type"), col("value")))
          .as("last"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("last.tus").as("last_tus"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"), col("n_events"))
      .sortWithinPartitions(col("user_id"))
  }

  private val q34Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |  FROM events)
      |SELECT user_id, tus AS last_tus, event_id AS last_event_id,
      |  event_type AS last_event_type, value AS last_value, n_events
      |FROM e WHERE rn = 1""".stripMargin

  /** q38: corpus snapshot diff — the release-over-release comparison a
    * data team runs before shipping a new corpus version (and the
    * input to incremental re-processing: `added ∪ changed` is exactly
    * the set d12-class pipelines re-run). Two releases are derived
    * deterministically from the corpus — v_old drops `doc_id%10=7`
    * (docs that didn't exist last release) and carries a content edit
    * on `doc_id%7=3` (final character dropped — docs whose text
    * changed), v_new drops `doc_id%13=5` (docs deleted since) — the
    * t16/t28 inject-then-detect discipline: the DIFF below reads only
    * doc_id and content fingerprints, never the generator's rules, so
    * the compare pins the real diff machinery.
    *
    * Per doc: status ∈ {added, removed, changed, unchanged} with both
    * fingerprints (md5 — exact in both engines over UTF-8 text).
    *
    * Scale: fingerprinting is per-row codegen at scan speed; the diff
    * is ONE equi-join on the unique snapshot key (shuffle-partitioned
    * both sides, no skew by construction — doc_id is unique), which
    * is the canonical 100 TB snapshot-diff plan; with both releases
    * bucketed by doc_id at write time it degrades to a zero-shuffle
    * sort-merge (q27's layout argument).
    */
  private def q38(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldText = when(col("doc_id") % 7 === 3,
        expr("substring(text, 1, greatest(length(text) - 1, 0))"))
      .otherwise(col("text"))
    val vOld = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("source"),
        md5(oldText.cast("binary")).as("old_fp"))
    val vNew = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), col("source").as("new_source"),
        md5(col("text").cast("binary")).as("new_fp"))
    vOld.join(vNew, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("source"), col("new_source")).as("source"),
        col("old_fp"), col("new_fp"),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val q38Sql =
    """WITH vold AS (
      |  SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 7 = 3
      |        THEN substring(text, 1, greatest(length(text) - 1, 0))
      |        ELSE text END) AS old_fp
      |  FROM documents WHERE doc_id % 10 != 7),
      |vnew AS (
      |  SELECT doc_id, source AS new_source, md5(text) AS new_fp
      |  FROM documents WHERE doc_id % 13 != 5)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  COALESCE(o.source, n.new_source) AS source,
      |  o.old_fp, n.new_fp,
      |  CASE WHEN o.old_fp IS NULL THEN 'added'
      |       WHEN n.new_fp IS NULL THEN 'removed'
      |       WHEN o.old_fp != n.new_fp THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM vold o FULL OUTER JOIN vnew n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "q38_snapshot_diff" -> (q38 _),
    "q37_latest_rewrite" -> (q37 _),
    "q36_zorder_skip" -> (q36 _),
    "q35_cohort_retention" -> (q35 _),
    "q34_compact_latest" -> (q34 _),
    "q33_unpivot" -> (q33 _),
    "q32_outer_join" -> (q32 _),
    "q31_grouping_sets" -> (q31 _),
    "q30_salted_agg" -> (q30 _),
    "q29_partition_prune" -> (q29 _),
    "q28_delta_agg" -> (q28 _),
    "q27_bucketed_join" -> (q27 _),
    "q20_cube" -> (q20 _),
    "q21_range_window" -> (q21 _),
    "q22_rank_family" -> (q22 _),
    "q23_asof_native" -> (q23 _),
    "q24_range_join" -> (q24 _),
    "q19_pivot" -> (q19 _),
    "q18_percentile" -> (q18 _),
    "q25_percentile_sketch" -> (q25 _),
    "q26_distinct_sketch" -> (q26 _),
    "q25b_sketch_bound" -> (q25b _), // the sketch family's accuracy contracts
    "q26b_sketch_bound" -> (q26b _),
    "q16_topk_custom" -> (q16 _),
    "q17_json_extract" -> (q17 _),
    "q1_agg" -> (q1 _),
    "q2_filter_project" -> (q2 _),
    "q3_join_agg" -> (q3 _),
    "q4_broadcast_join" -> (q4 _),
    "q5_topk" -> (q5 _),
    "q6_window" -> (q6 _),
    "q7_semi_anti" -> (q7 _),
    "q8_rollup" -> (q8 _),
    "q9_distinct" -> (q9 _),
    "q10_setops" -> (q10 _),
    "q11_corr_subquery" -> (q11 _),
    "q12_case_agg" -> (q12 _),
    "q13_sessionize" -> (q13 _),
    "q14_event_window" -> (q14 _),
    "q15_asof_join" -> (q15 _))

  val oracles: Map[String, String] = Map(
    "q38_snapshot_diff" -> q38Sql,
    "q37_latest_rewrite" -> q37Sql,
    "q36_zorder_skip" -> q36Sql,
    "q35_cohort_retention" -> q35Sql,
    "q34_compact_latest" -> q34Sql,
    "q33_unpivot" -> q33Sql,
    "q32_outer_join" -> q32Sql,
    "q31_grouping_sets" -> q31Sql,
    "q30_salted_agg" -> q30Sql,
    "q29_partition_prune" -> q29Sql,
    "q28_delta_agg" -> q28Sql,
    "q27_bucketed_join" -> q27Sql,
    "q25_percentile_sketch" -> q25Sql,
    "q26_distinct_sketch" -> q26Sql,
    "q25b_sketch_bound" -> q25bSql,
    "q26b_sketch_bound" -> q26bSql,
    "q20_cube" -> q20Sql,
    "q21_range_window" -> q21Sql,
    "q22_rank_family" -> q22Sql,
    "q23_asof_native" -> q15Sql,
    "q24_range_join" -> q24Sql,
    "q19_pivot" -> q19Sql,
    "q18_percentile" -> q18Sql,
    "q16_topk_custom" -> q16Sql,
    "q17_json_extract" -> q17Sql,
    "q1_agg" -> q1Sql,
    "q2_filter_project" -> q2Sql,
    "q3_join_agg" -> q3Sql,
    "q4_broadcast_join" -> q4Sql,
    "q5_topk" -> q5Sql,
    "q6_window" -> q6Sql,
    "q7_semi_anti" -> q7Sql,
    "q8_rollup" -> q8Sql,
    "q9_distinct" -> q9Sql,
    "q10_setops" -> q10Sql,
    "q11_corr_subquery" -> q11Sql,
    "q12_case_agg" -> q12Sql,
    "q13_sessionize" -> q13Sql,
    "q14_event_window" -> q14Sql,
    "q15_asof_join" -> q15Sql)
}
