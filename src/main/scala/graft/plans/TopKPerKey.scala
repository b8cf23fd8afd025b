package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.DatasetBridge
import scala.collection.mutable

/** Whole-operator custom plan: top-K rows per key.
  *
  * The composable alternative (window `row_number() <= k`) fully sorts
  * every partition — O(n log n) per key group and a complete sort
  * buffer. This operator keeps a bounded k-element heap per key —
  * O(n log k), O(keys·k) memory — which is the difference between a
  * spilling sort and a streaming pass when n/key is millions of rows at
  * 100 TB. Implemented as the full Catalyst stack: logical node →
  * planner Strategy → partial + final physical execs (the partial
  * stage thins each map partition to its local per-key top-k, so the
  * one shuffle on the key moves at most partitions·keys·k survivor
  * rows, never the input volume).
  */
case class TopKPerKeyLogical(keys: Seq[Expression], order: Expression,
    tie: Expression, k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

/** Planner rule: logical top-k → TWO heap-based execs, exactly like
  * partial/final aggregation. The map-side `partial = true` stage runs
  * the same bounded heaps over whatever partitioning the child has and
  * emits at most keys·k survivors per partition, so the exchange the
  * final stage's required distribution inserts shuffles survivors —
  * never the full candidate volume. (A one-stage formulation shuffles
  * EVERY input row to the keyed reducers; at 100 TB the shuffle, not
  * the heap, is the bottleneck.) Top-k is a semigroup — merging
  * per-partition top-k sets and re-heaping is exact.
  *
  * Degenerate-key caveat: when keys are NEAR-UNIQUE (rows/key ≲ k,
  * e.g. top-k "per doc_id"), the partial stage thins nothing — every
  * row survives its own heap — and its cost is pure overhead. That
  * overhead is bounded: the stage adds NO shuffle (it runs on the
  * child's partitioning), so the worst case is one hash-map probe +
  * O(log k) heap insert + one UnsafeRow copy per row — a single extra
  * narrow pass, ~5-10% of the operator's runtime in the all-unique-keys
  * worst case, while the upside when keys repeat is shuffling
  * partitions·keys·k rows instead of ALL rows. Hence the partial stage
  * is always planned (results are identical either way — the semigroup
  * merge of singleton sets is the identity).
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyLogical(keys, order, tie, k, child) =>
      val partial = TopKPerKeyExec(keys, order, tie, k, planLater(child), partial = true)
      TopKPerKeyExec(keys, order, tie, k, partial) :: Nil
    case _ => Nil
  }
}

/** Per-partition bounded-heap top-k; rows ranked by (order DESC, tie
  * ASC). The final stage (`partial = false`) requires clustering on
  * `keys` so each key lives in exactly one partition; the partial
  * stage accepts any distribution and just thins each partition to its
  * local per-key top-k before the shuffle.
  *
  * Memory: heaps are O(distinct keys per partition × k) and never
  * spill. That is the operator's contract — top-k per key only makes
  * sense when k·keys ≪ rows — but a mis-keyed call (e.g. keying on a
  * unique id) would otherwise OOM an executor. The guard
  * `graft.topk.maxKeysPerPartition` (default 10M) fails fast with the
  * offending partition's key count instead.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Expression,
    tie: Expression, k: Int, child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String = if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
     else ClusteredDistribution(keys)) :: Nil

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val maxKeys = conf.getConfString("graft.topk.maxKeysPerPartition", "10000000").toLong
    val childOutput = child.output
    val keysL = keys
    val orderL = org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(order, childOutput)
    val tieL = org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(tie, childOutput)
    val kL = k
    // NATIVE-type orderings: ranking a BIGINT by its value, not a lossy
    // Double image (2^53+1 and 2^53 cast to the SAME double — a cast
    // here would rank large long keys wrongly). Decimal, date, string
    // order keys all compare in their own type for the same reason.
    val orderOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(order.dataType)
    val tieOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(tie.dataType)
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keysL, childOutput)
      // (order, tie, row), nulls as raw nulls: a NULL order key ranks
      // BELOW every non-null value — `ORDER BY order DESC` NULLS LAST,
      // matching the window row_number formulation. NULL ties rank
      // after all real tie values.
      type Entry = (Any, Any, UnsafeRow)
      // a outranks b? (single interpreted compare per level — this runs
      // once per input row on the heap-insert hot path)
      def beats(av: Any, at: Any, bv: Any, bt: Any): Boolean =
        if ((av == null) != (bv == null)) bv == null
        else {
          val c = if (av == null) 0 else orderOrd.compare(av, bv)
          if (c != 0) c > 0
          else if ((at == null) != (bt == null)) bt == null
          else if (at == null) false
          else tieOrd.compare(at, bt) < 0
        }
      // heap head = current worst of the k retained rows
      val worstAtHead = new Ordering[Entry] {
        override def compare(a: Entry, b: Entry): Int =
          if (beats(a._1, a._2, b._1, b._2)) -1
          else if (beats(b._1, b._2, a._1, a._2)) 1
          else 0
      }
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[Entry]]
      for (row <- iter) {
        val v = orderL.eval(row)
        val t = tieL.eval(row)
        val heap = heaps.getOrElseUpdate(keyProj(row).copy(),
          mutable.PriorityQueue.empty[Entry](worstAtHead))
        if (heaps.size > maxKeys) throw new IllegalStateException(
          s"TopKPerKey: over $maxKeys distinct keys in one partition — " +
            "the key is too fine-grained for a per-key heap (heap memory " +
            "is keys×k); re-key or raise graft.topk.maxKeysPerPartition")
        // copyValue: a UTF8String/Decimal from eval points into the
        // iterator's reused row buffer; retained keys need own storage
        def entry(): Entry = (InternalRow.copyValue(v), InternalRow.copyValue(t),
          row.asInstanceOf[UnsafeRow].copy())
        if (heap.size < kL) {
          heap.enqueue(entry())
        } else {
          val (wv, wt, _) = heap.head
          if (beats(v, t, wv, wt)) {
            heap.dequeue()
            heap.enqueue(entry())
          }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map { e =>
        numOutputRows += 1
        e._3
      })
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

/** User-facing API. */
object TopK {
  /** Top-k rows per key, ranked by `orderCol` descending with
    * `tieCol` (unique, ascending) breaking ties deterministically.
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    // order/tie rank in their NATIVE types (no Cast): a double image of
    // a BIGINT collapses values above 2^53 and would rank them wrongly
    DatasetBridge.ofRows(spark, TopKPerKeyLogical(
      keyCols.map(attr), attr(orderCol), attr(tieCol), k, child))
  }
}

/** SparkSessionExtensions hook for spark.sql.extensions deployments. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => LatestRewrite)
  }
}
