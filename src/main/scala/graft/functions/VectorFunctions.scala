package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from
  * codegen'd higher-order functions (zip_with/aggregate) — no UDFs.
  *
  * Determinism: a per-row array fold is sequential by construction, so
  * plain double arithmetic is bit-identical on any engine or cluster
  * size (unlike cross-row double SUMs, which need the decimal trick in
  * [[graft.Exact]]). The DuckDB oracles fold with `list_reduce` in the
  * same element order.
  */
object VectorFunctions {

  /** Sequential dot product of two float-array columns, as double —
    * the native [[FloatDot]] expression (codegen'd tight loop). */
  def dot(a: String, b: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(FloatDot(
      ColumnBridge.expression(expr(a)), ColumnBridge.expression(expr(b))))
  }

  /** Cosine similarity: dot/(sqrt(|a|²)·sqrt(|b|²)). */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Sequential squared-L2 distance between a float array and a double
    * array (vector vs centroid) — the native [[FloatDoubleL2Sq]]
    * expression. */
  def l2sq(a: String, b: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(FloatDoubleL2Sq(
      ColumnBridge.expression(expr(a)), ColumnBridge.expression(expr(b))))
  }

  /** Column-typed overload — lets callers pass a LITERAL centroid
    * array (typedlit), turning nearest-centroid assignment into a
    * pure per-row projection with zero shuffle (s8's final
    * assignment pass over learned centroids). */
  def l2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(FloatDoubleL2Sq(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** LSH bucket from hyperplane-like sign bits at fixed dims (1-based). */
  def signBucket(vec: String, dims: Seq[Int]): Column =
    concat(dims.map(i =>
      when(expr(s"element_at($vec, $i)") > 0f, lit("1")).otherwise(lit("0"))): _*)

  /** Sign-bucket dims for a b-bit hyperplane-sign LSH key over a
    * 64-dim vector: evenly spread 1-based positions, so the bits are
    * as uncorrelated as axis-aligned signs get. Within-bucket pair
    * work is n²/2^b — callers widen b as the corpus grows. */
  def signDims(bits: Int, vecLen: Int = 64): Seq[Int] = {
    require(bits >= 1 && bits <= vecLen, s"bits $bits out of range 1..$vecLen")
    (0 until bits).map(i => 1 + i * vecLen / bits)
  }

  /** The sign-bucket dims shared by s2 (ANN probe) and d5 (embedding
    * near-dup blocking): 8 bits → 256 buckets (expected occupancy
    * n/256). Round 4 used 4 fixed bits — n²/16 within-bucket work,
    * quadratic-ish at 100× corpus growth. Sizing rule as the corpus
    * grows: the smallest b (clamped to [4, 32]) whose expected bucket
    * occupancy n/2^b is at most 256, i.e. ⌈log2(n/256)⌉ — within-bucket
    * pair work then scales as 256·n (linear in n) instead of n². The
    * d5/d18/s2 oracle SQL is generated from this same constant. */
  val defaultSignDims: Seq[Int] = signDims(8)
}
