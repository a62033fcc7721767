package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass winnowing kernel shared by the interpreted and generated code
  * paths of [[WinnowSelect]].
  *
  * Selects exactly what the DuckDB twins' packed `hash ∥ pos ∥
  * validStart` window replay selects (and `DedupKernelsSpec`'s
  * declarative Spark chain): every `noise`-codepoint gram is hashed as
  * the first 5 bytes of md5 over its UTF-8 bytes — an unsigned 40-bit
  * value, equal to `conv(substring(md5(gram), 1, 10), 16, 10)` — and
  * each FULL window of
  * `w = minLen − noise + 1` consecutive gram positions selects its
  * minimal hash, the leftmost position winning ties. Positions are
  * 1-based codepoint offsets walked with UTF8String's own per-byte rule,
  * so `pos`/`gram` agree with Spark's `length`/`substr`. The window
  * argmin never moves left as the window slides, so the distinct selected
  * positions come out in ascending order. NULL text and texts shorter
  * than `minLen` yield an empty array. */
object WinnowKernel {

  val GramType: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  private val Empty = new GenericArrayData(Array.empty[AnyRef])

  def eval(text: UTF8String, minLen: Int, noise: Int): ArrayData = {
    if (text == null) return Empty
    val bytes = text.getBytes
    val nBytes = bytes.length
    // codepoint start offsets; off(c) for c in [0, nChars], the last
    // clamped to the byte length exactly as UTF8String.substring clamps
    val offs = new Array[Int](nBytes + 1)
    var nChars = 0
    var i = 0
    while (i < nBytes) {
      offs(nChars) = i
      nChars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(nChars) = nBytes
    if (nChars < minLen) return Empty
    val nGrams = nChars - noise + 1
    val w = minLen - noise + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val hashes = new Array[Long](nGrams)
    var p = 0
    while (p < nGrams) {
      val from = offs(p)
      md.update(bytes, from, offs(p + noise) - from)
      md.digest(digest, 0, 16)
      hashes(p) = ((digest(0) & 0xffL) << 32) | ((digest(1) & 0xffL) << 24) |
        ((digest(2) & 0xffL) << 16) | ((digest(3) & 0xffL) << 8) |
        (digest(4) & 0xffL)
      p += 1
    }
    // monotone deque of gram indices with strictly increasing hashes: the
    // front is the window argmin, an equal hash keeps the earlier index
    val dq = new Array[Int](nGrams)
    var head = 0
    var tail = 0
    val out = new java.util.ArrayList[AnyRef]()
    var last = -1
    var j = 0
    while (j < nGrams) {
      while (tail > head && hashes(dq(tail - 1)) > hashes(j)) tail -= 1
      dq(tail) = j
      tail += 1
      val start = j - w + 1
      if (start >= 0) {
        while (dq(head) < start) head += 1
        val sel = dq(head)
        if (sel != last) {
          last = sel
          val from = offs(sel)
          out.add(new GenericInternalRow(Array[Any](sel + 1,
            UTF8String.fromBytes(bytes, from, offs(sel + noise) - from))))
        }
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `winnow(text, minLen, noise)` — a document's selected winnowing
  * fingerprints `array<struct<pos, gram>>` in ONE codegen'd pass: the
  * document never becomes one row per character, and selection needs no
  * sort or window. Not registered in SQL: the dedup operators reach it
  * through [[DedupKernels.winnow]]. */
case class WinnowSelect(child: Expression, minLen: Int, noise: Int)
    extends UnaryExpression {
  require(noise > 0, "noise must be positive")
  require(minLen >= noise, s"minLen ($minLen) must be >= noise ($noise)")

  override def prettyName: String = "winnow"
  override def dataType: DataType =
    ArrayType(WinnowKernel.GramType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    WinnowKernel.eval(child.eval(input).asInstanceOf[UTF8String], minLen, noise)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code +
        code"""
           |final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  graft.functions.WinnowKernel.eval(
           |    ${c.isNull} ? null : ${c.value}, $minLen, $noise);
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

/** One-pass MinHash kernel shared by the interpreted and generated code
  * paths of [[MinhashSignature]]: for every shingle ONE md5, its first 15
  * hex digits (60 bits) as a long reduced mod `p`, then the k affine
  * hashes `(a_i·h + b_i) mod p` folded into k running minima — the same
  * values as k `min` aggregates over an exploded shingle column. With
  * `a_i, h < p = 2^31 − 1` the product stays below 2^62, so nothing
  * overflows. NULL shingles are skipped, as `min` skips their NULL hash;
  * NULL, empty and all-NULL arrays yield NULL. */
object MinhashKernel {

  def eval(shingles: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    if (shingles == null || shingles.numElements() == 0) return null
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var seen = false
    var s = 0
    while (s < shingles.numElements()) {
      if (!shingles.isNullAt(s)) {
        seen = true
        md.update(shingles.getUTF8String(s).getBytes)
        md.digest(digest, 0, 16)
        var h = 0L
        var d = 0
        while (d < 7) { h = (h << 8) | (digest(d) & 0xffL); d += 1 }
        h = ((h << 4) | ((digest(7) & 0xff) >>> 4)) % p
        var i = 0
        while (i < k) {
          val v = (a(i) * h + b(i)) % p
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      s += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

/** `minhash(shingles)` — all k MinHash minima of one document's shingle
  * array in one codegen'd pass, inside the document's row: no shingle
  * explode and no shuffle. `coeffs` are the `(a, b)` pairs of the affine
  * family mod `p`. Not registered in SQL: reached through
  * [[DedupKernels.minhash]]. */
case class MinhashSignature(child: Expression, coeffs: Seq[(Long, Long)], p: Long)
    extends UnaryExpression {
  require(coeffs.nonEmpty, "minhash needs at least one hash")

  @transient private lazy val as: Array[Long] = coeffs.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = coeffs.map(_._2).toArray

  override def prettyName: String = "minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> column, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    MinhashKernel.eval(child.eval(input).asInstanceOf[ArrayData], as, bs, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    ev.copy(
      code = c.code +
        code"""
           |final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  graft.functions.MinhashKernel.eval(
           |    ${c.isNull} ? null : ${c.value}, $aRef, $bRef, ${p}L);
           |final boolean ${ev.isNull} = ${ev.value} == null;
           |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object DedupKernels {
  /** Column API for [[WinnowSelect]]. */
  def winnow(text: Column, minLen: Int, noise: Int): Column =
    ExpressionUtils.column(WinnowSelect(ExpressionUtils.expression(text), minLen, noise))

  /** Column API for [[MinhashSignature]]. */
  def minhash(shingles: Column, coeffs: Seq[(Long, Long)], p: Long): Column =
    ExpressionUtils.column(
      MinhashSignature(ExpressionUtils.expression(shingles), coeffs, p))
}
