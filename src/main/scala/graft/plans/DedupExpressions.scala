package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** A document's distinct word n-grams in one pass over its bytes: the
  * result of `array_distinct(transform(sequence(0, size(w) - n),
  * i -> concat_ws(' ', slice(w, i + 1, n))))` over `w = split(text, " ")`,
  * first occurrence first, without building a word array, a per-gram
  * slice array or a lambda frame per gram.
  *
  * Words follow `split`'s Java `String.split(" ", -1)`: every 0x20 byte is
  * a boundary, so leading, trailing and repeated spaces make empty words,
  * and tabs or newlines are not boundaries. Gram k is then the byte range
  * from word k's start to word k+n−1's end, taken as a zero-copy slice of
  * the text (a consumer that keeps a gram past the row copies it, as it
  * does the text). Null when the text is null or has fewer than n words.
  */
case class WordNGrams(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n-gram length must be positive, got $n")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    DedupFunctions.wordNGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} = graft.plans.DedupFunctions.wordNGrams($t, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All MinHash LSH band buckets of a gram set in one pass: gram g is
  * lifted to `murmur3(g, 42) + 2^31` (Spark's `hash` of a string, made
  * non-negative); minimum i is the least `(h·a_i + b_i) mod 4294967311`
  * over the grams; band b's bucket is `xxhash64(b, "m_1,…,m_r")` over its
  * r comma-joined minima, chained from seed 42 as Spark's `xxhash64`
  * chains its arguments. An empty set signs every minimum as
  * `Long.MaxValue`.
  */
case class MinHashBands(child: Expression, nHashes: Int, nBands: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  @transient private lazy val coefficients = DedupFunctions.affine(nHashes)

  override def nullSafeEval(input: Any): Any = {
    val (as, bs) = coefficients
    DedupFunctions.minHashBands(input.asInstanceOf[ArrayData], as, bs, nBands)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (as, bs) = coefficients
    val asRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, g =>
      s"${ev.value} = graft.plans.DedupFunctions.minHashBands($g, $asRef, $bsRef, $nBands);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DedupFunctions {
  /** The distinct word n-grams of a string column (see [[WordNGrams]]). */
  def wordNGrams(text: Column, n: Int): Column =
    SqlBridge.column(WordNGrams(SqlBridge.expression(text), n))

  /** MinHash band buckets (array<bigint>, one per band) of a gram-array
    * column (see [[MinHashBands]]).
    */
  def minHashBands(grams: Column, nHashes: Int, nBands: Int): Column =
    SqlBridge.column(MinHashBands(SqlBridge.expression(grams), nHashes, nBands))

  private val Space = ' '.toByte

  /** [[WordNGrams]]' row kernel. */
  def wordNGrams(text: UTF8String, n: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var words = 1
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == Space) words += 1
      i += 1
    }
    if (words < n) return null
    // word k spans bytes [bounds(k), bounds(k + 1) - 1): the space after
    // it, or for the last word a sentinel one past the end
    val bounds = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == Space) { bounds(w) = i + 1; w += 1 }
      i += 1
    }
    bounds(words) = len + 1
    val nGrams = words - n + 1
    val seen = new java.util.HashSet[UTF8String](nGrams * 2)
    val out = new Array[Any](nGrams)
    var kept = 0
    var k = 0
    while (k < nGrams) {
      val from = bounds(k)
      val gram = UTF8String.fromAddress(base, off + from, bounds(k + n) - 1 - from)
      if (seen.add(gram)) { out(kept) = gram; kept += 1 }
      k += 1
    }
    new GenericArrayData(if (kept == nGrams) out else out.take(kept))
  }

  private val Prime = 4294967311L

  /** The affine family (a_i, b_i) of [[MinHashBands]]. */
  def affine(nHashes: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(nHashes)(i => ((i * 2654435761L) % 1048573L) | 1L),
    Array.tabulate(nHashes)(i => (i * 97531L + 12345L) % 1048573L))

  /** [[MinHashBands]]' row kernel. */
  def minHashBands(grams: ArrayData, as: Array[Long], bs: Array[Long], nBands: Int): ArrayData = {
    val nHashes = as.length
    val mins = Array.fill(nHashes)(Long.MaxValue)
    val nGrams = grams.numElements()
    var g = 0
    while (g < nGrams) {
      val s = grams.getUTF8String(g)
      val h = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42) +
        2147483648L
      var i = 0
      while (i < nHashes) {
        val v = (h * as(i) + bs(i)) % Prime
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      g += 1
    }
    val rowsPerBand = nHashes / nBands
    // a minimum is at most 19 decimal digits (Long.MaxValue) plus a comma
    val sig = new Array[Byte](rowsPerBand * 20)
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var pos = 0
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) { sig(pos) = ','.toByte; pos += 1 }
        pos = putDecimal(sig, pos, mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = XXH64.hashUnsafeBytes(sig, Platform.BYTE_ARRAY_OFFSET, pos, XXH64.hashInt(b, 42L))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Writes non-negative `v` in decimal at `pos`; returns the end. */
  private def putDecimal(buf: Array[Byte], pos: Int, v: Long): Int = {
    var digits = 1
    var t = v / 10
    while (t > 0) { digits += 1; t /= 10 }
    var p = pos + digits - 1
    var x = v
    while (p >= pos) { buf(p) = ('0' + x % 10).toByte; x /= 10; p -= 1 }
    pos + digits
  }
}
