package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document shingle sketch: one pass over a document's
  * text returns its MinHash signature and its hashed shingle set,
  * `struct<s0..s7: string, shs: array<bigint>, sz: bigint>`.
  *
  * Bit-identical to the declarative form it replaces (and that the
  * DuckDB oracles still spell out):
  *   - char mode: the grams are `substring(text, i, 5)` for `i` in
  *     `1..length(text) - 4`, counted in code points as `UTF8String`
  *     counts them (by UTF-8 lead byte);
  *   - word mode: the grams are `concat_ws(' ', slice(toks, i, 3))`
  *     over `toks = filter(split(text, '\\s+'), t -> t != '')`, i.e.
  *     maximal runs of bytes outside Java's `\s` set joined by one
  *     space;
  *   - `sj` is the minimum over grams of the 8-hex-char lowercase
  *     slice `substring(h, 1 + 8·(j mod 4), 8)` of `h1 = md5(gram)`
  *     (j < 4) or `h2 = md5('x' || gram)` (j ≥ 4). Fixed-width
  *     lowercase hex orders as the unsigned 32-bit word it spells, so
  *     the minimum is taken on words and rendered once;
  *   - `shs` is the sorted distinct `xxhash64(gram)` (seed 42) set and
  *     `sz` its size.
  *
  * NULL text, or a text with no gram (under 5 code points, under 3
  * tokens), yields the empty sketch (`sz` 0, every `sj` "ffffffff").
  * The declarative `explode` produced no row for such a document, so
  * callers filter those texts out on the input.
  *
  * Why native: the declarative form exploded every document into one
  * row per gram, twice, and aggregated them back per document (a sort
  * aggregate over string minima, a `collect_set`), with an exchange
  * each. Here the document row stays one row and each gram costs two
  * md5 blocks and one xxhash.
  */
case class ShingleSketch(child: Expression, words: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ShingleSketch requires a string input, got $other")
  }

  override def dataType: DataType = ShingleSketch.Schema

  // never NULL, so no `isnotnull` on a field is ever inferred from a
  // join and pushed, with the sketch inside it, below the spread
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleSketch.compute(child.eval(input).asInstanceOf[UTF8String], words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} = graft.functions.ShingleSketch.compute(
      |  ${c.isNull} ? null : ${c.value}, $words);""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSketch {
  val CharGramK = 5
  val WordGramK = 3
  val XxSeed = 42L

  val Schema: StructType = StructType(
    (0 until 8).map(j => StructField(s"s$j", StringType, nullable = false)) ++ Seq(
      StructField("shs", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("sz", LongType, nullable = false)))

  /** Per-thread buffers: the digest, gram offsets and hashes grow to
    * the largest document a task has seen and are reused after. */
  private final class Buffers {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](32)
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var hashes = new Array[Long](64)
    var gram = new Array[Byte](64)
    def fit(n: Int): Unit = if (starts.length < n) {
      val m = math.max(n, starts.length * 2)
      starts = new Array[Int](m); ends = new Array[Int](m); hashes = new Array[Long](m)
    }
  }
  private val buffers = ThreadLocal.withInitial[Buffers](() => new Buffers)

  /** Java regex `\s`: the delimiter set of `split(text, '\\s+')`. */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** The sketch of one text; called from generated code. */
  def compute(text: UTF8String, words: Boolean): InternalRow = {
    if (text == null) return Empty
    val bytes = text.getBytes
    val sc = buffers.get()
    val n = if (words) wordGrams(bytes, sc) else charGrams(bytes, sc)
    if (n == 0) return Empty
    val mins = Array.fill(8)(0xFFFFFFFFL)
    var g = 0
    while (g < n) {
      // a char gram is read in place; a word gram is joined first (into
      // a buffer the join may grow, so it is read after)
      if (words) { val len = joinWords(bytes, sc, g); absorb(sc, mins, g, sc.gram, 0, len) }
      else absorb(sc, mins, g, bytes, sc.starts(g), sc.ends(g) - sc.starts(g))
      g += 1
    }
    java.util.Arrays.sort(sc.hashes, 0, n)
    var d = 1
    var i = 1
    while (i < n) {
      if (sc.hashes(i) != sc.hashes(d - 1)) { sc.hashes(d) = sc.hashes(i); d += 1 }
      i += 1
    }
    val out = new Array[Any](10)
    var j = 0
    while (j < 8) { out(j) = hex8(mins(j)); j += 1 }
    out(8) = UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(sc.hashes, d))
    out(9) = d.toLong
    new GenericInternalRow(out)
  }

  /** Folds gram `g` (`len` bytes of `buf` at `off`) into the eight
    * minima and records its xxhash64. */
  private def absorb(sc: Buffers, mins: Array[Long], g: Int,
      buf: Array[Byte], off: Int, len: Int): Unit = {
    val md = sc.md
    val dg = sc.digest
    md.update(buf, off, len)
    md.digest(dg, 0, 16)
    md.update('x'.toByte)
    md.update(buf, off, len)
    md.digest(dg, 16, 16)
    var j = 0
    while (j < 8) {
      val o = 4 * j
      val w = ((dg(o) & 0xFFL) << 24) | ((dg(o + 1) & 0xFFL) << 16) |
        ((dg(o + 2) & 0xFFL) << 8) | (dg(o + 3) & 0xFFL)
      if (w < mins(j)) mins(j) = w
      j += 1
    }
    sc.hashes(g) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + off, len, XxSeed)
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  private val Empty: InternalRow = new GenericInternalRow(
    Array.fill[Any](8)(UTF8String.fromString("ffffffff")) ++
      Array[Any](UnsafeArrayData.fromPrimitiveArray(Array.empty[Long]), 0L))

  private def hex8(w: Long): UTF8String = {
    val b = new Array[Byte](8)
    var k = 0
    while (k < 8) { b(k) = HexDigits(((w >>> (28 - 4 * k)) & 0xF).toInt); k += 1 }
    UTF8String.fromBytes(b)
  }

  /** Byte ranges of the char 5-grams into `sc.starts`/`sc.ends`; the
    * gram count. A code point's width is read from its lead byte, as
    * `UTF8String.substring` reads it, clamped to the text's end. */
  private def charGrams(bytes: Array[Byte], sc: Buffers): Int = {
    val nb = bytes.length
    sc.fit(nb + 1)
    var chars = 0 // sc.starts(c) = byte offset of code point c
    var p = 0
    while (p < nb) {
      sc.starts(chars) = p
      chars += 1
      p += UTF8String.numBytesForFirstByte(bytes(p))
    }
    val n = chars - (CharGramK - 1)
    var g = 0
    while (g < n) {
      sc.ends(g) = if (g + CharGramK < chars) sc.starts(g + CharGramK) else nb
      g += 1
    }
    math.max(n, 0)
  }

  /** Token byte ranges into `sc.starts`/`sc.ends`; the word-gram count
    * (tokens − 2, or 0). */
  private def wordGrams(bytes: Array[Byte], sc: Buffers): Int = {
    val nb = bytes.length
    sc.fit(nb / 2 + 1)
    var t = 0
    var p = 0
    while (p < nb) {
      while (p < nb && isSpace(bytes(p))) p += 1
      if (p < nb) {
        sc.starts(t) = p
        while (p < nb && !isSpace(bytes(p))) p += 1
        sc.ends(t) = p
        t += 1
      }
    }
    math.max(t - (WordGramK - 1), 0)
  }

  /** Joins tokens g..g+2 with single spaces into `sc.gram`; its length. */
  private def joinWords(bytes: Array[Byte], sc: Buffers, g: Int): Int = {
    var len = WordGramK - 1
    var k = 0
    while (k < WordGramK) { len += sc.ends(g + k) - sc.starts(g + k); k += 1 }
    if (sc.gram.length < len) sc.gram = new Array[Byte](math.max(len, sc.gram.length * 2))
    var at = 0
    k = 0
    while (k < WordGramK) {
      if (k > 0) { sc.gram(at) = ' '.toByte; at += 1 }
      val l = sc.ends(g + k) - sc.starts(g + k)
      System.arraycopy(bytes, sc.starts(g + k), sc.gram, at, l)
      at += l
      k += 1
    }
    len
  }
}
