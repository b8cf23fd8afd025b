package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def df2(a: Seq[Float], b: Seq[Float]) =
    Seq((a, b)).toDF("a", "b")

  test("cosine of a vector with itself is 1") {
    val c = df2(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f))
      .select(VectorFunctions.cosine("a", "b")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosine of orthogonal vectors is 0") {
    val c = df2(Seq(1f, 0f), Seq(0f, 1f))
      .select(VectorFunctions.cosine("a", "b")).as[Double].head()
    assert(c == 0.0)
  }

  test("dot matches manual sequential fold") {
    val a = Seq(0.1f, -0.2f, 0.3f)
    val b = Seq(0.4f, 0.5f, -0.6f)
    val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val got = df2(a, b).select(VectorFunctions.dot("a", "b")).as[Double].head()
    assert(got == expected)
  }

  test("l2sq is zero for identical vectors and exact for known ones") {
    val df = Seq((Seq(1f, 2f), Seq(1.0, 2.0), Seq(4.0, 6.0))).toDF("a", "same", "far")
    assert(df.select(VectorFunctions.l2sq("a", "same")).as[Double].head() == 0.0)
    assert(df.select(VectorFunctions.l2sq("a", "far")).as[Double].head() == 25.0)
  }

  test("dot of mismatched-length arrays is null, like the zip_with fold") {
    val got = df2(Seq(1f, 2f, 3f), Seq(1f, 2f))
      .select(VectorFunctions.dot("a", "b")).collect().head
    assert(got.isNullAt(0))
  }

  test("signBucket encodes sign bits at requested dims") {
    val got = Seq(Tuple1(Seq(1f, -1f, 2f))).toDF("v")
      .select(VectorFunctions.signBucket("v", Seq(1, 2, 3))).as[String].head()
    assert(got == "101")
  }

  test("signDims spreads b in-range distinct dims across the vector") {
    for (b <- Seq(1, 4, 8, 12, 16)) {
      val dims = VectorFunctions.signDims(b)
      assert(dims.length == b && dims.distinct.length == b)
      assert(dims.forall(i => i >= 1 && i <= 64), dims.toString)
    }
    assert(VectorFunctions.signDims(8) == Seq(1, 9, 17, 25, 33, 41, 49, 57))
    intercept[IllegalArgumentException](VectorFunctions.signDims(0))
    intercept[IllegalArgumentException](VectorFunctions.signDims(65))
  }

  test("8-bit sign bucket occupancy: symmetric random vectors spread near n/2^b") {
    // the whole point of the widened bucket: within-bucket pair work is
    // n²/2^b, so occupancy must actually divide the corpus — a bucket
    // holding a large corpus fraction would be a quadratic scan in
    // disguise
    val rnd = new scala.util.Random(7)
    val n = 2000
    val vecs = Seq.fill(n)(Tuple1(Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("v")
    val occ = vecs.select(VectorFunctions.signBucket("v", VectorFunctions.defaultSignDims).as("b"))
      .groupBy("b").count().as[(String, Long)].collect()
    assert(occ.length > 200, s"expected ~256 occupied buckets, got ${occ.length}")
    val maxOcc = occ.map(_._2).max
    assert(maxOcc < n / 50, s"hot bucket of $maxOcc rows out of $n — bits are correlated")
  }
}
