package graft.genai

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Batch-file sharding — the reference writes one JSONL file per batch
  * job (openai_batch_processor.py:127); at scale a corpus must be split
  * across many jobs (the Batch API caps requests per file).
  *
  * Shards are derived from the stable row key (`doc_id div size`), not
  * from a global row_number: key-derived sharding is embarrassingly
  * parallel and reproducible on a 1000-executor cluster, whereas a
  * global sequence would serialize through a single ordering.
  */
object Sharding {
  def assign(requests: DataFrame, shardSize: Int): DataFrame =
    requests.withColumn("shard_id", shardOf(shardSize))

  private def shardOf(shardSize: Int): Column = expr(s"doc_id div $shardSize")

  /** The requests per shard of [[assign]] as one aggregate over request
    * rows: an array of (shard_id, n_requests) structs, one per shard,
    * a NULL doc_id counting toward a NULL shard_id as a `groupBy`
    * counts it. Its buffer holds one entry per shard, so it can be
    * observed on a pass over the requests instead of grouping them in
    * a shuffle of their own. */
  def counts(shardSize: Int): Column = countsOf(shardOf(shardSize))

  // built once: the encoders are derived by runtime reflection, which
  // costs more per call than the rest of a workflow run's planning
  private lazy val countsOf = udaf(ShardCounts, ExpressionEncoder[java.lang.Long]())

  private type Counts = (Map[Long, Long], Long) // per shard, and with no shard

  private object ShardCounts extends Aggregator[java.lang.Long, Counts, Seq[(Option[Long], Long)]] {
    def zero: Counts = (Map.empty, 0L)
    def reduce(b: Counts, shard: java.lang.Long): Counts =
      if (shard == null) (b._1, b._2 + 1) else (add(b._1, shard, 1L), b._2)
    def merge(a: Counts, b: Counts): Counts =
      (b._1.foldLeft(a._1) { case (m, (k, n)) => add(m, k, n) }, a._2 + b._2)
    def finish(b: Counts): Seq[(Option[Long], Long)] =
      b._1.toSeq.map { case (k, n) => (Option(k), n) } ++ (if (b._2 > 0) Seq((None, b._2)) else Nil)
    private def add(m: Map[Long, Long], k: Long, n: Long) = m.updated(k, m.getOrElse(k, 0L) + n)
    lazy val bufferEncoder: Encoder[Counts] = ExpressionEncoder[Counts]()
    lazy val outputEncoder: Encoder[Seq[(Option[Long], Long)]] = ExpressionEncoder[Seq[(Option[Long], Long)]]()
  }
}
