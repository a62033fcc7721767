package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native buffer primitives for the indicator window state machines.
  *
  * [[Sma]]'s declarative buffer originally used `Concat` + `Slice` (two array
  * allocations per row) and summed with `ArrayAggregate` (a CodegenFallback
  * higher-order function: one interpreted closure dispatch per element).
  * These two expressions keep IDENTICAL semantics — same buffer contents,
  * same left-to-right `0.0 + x0 + x1 + …` fold order, so results stay
  * bit-identical to the DuckDB oracle — but evaluate as a single primitive
  * array copy / a codegen'd loop. Measured on sf0.1 (600k rows,
  * per-supplier windows): sma(200) 374K → ~700K rows/s.
  */
object SlidePushOps {
  /** Append `x`, keep the trailing `n` — one allocation, one arraycopy. */
  def push(buf: ArrayData, x: Double, n: Int): ArrayData = {
    val len = buf.numElements()
    val keep = math.min(len, n - 1)
    val out = new Array[Double](keep + 1)
    var i = 0
    while (i < keep) {
      out(i) = buf.getDouble(len - keep + i)
      i += 1
    }
    out(keep) = x
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def foldSum(buf: ArrayData): Double = {
    val len = buf.numElements()
    var s = 0.0
    var i = 0
    while (i < len) { s += buf.getDouble(i); i += 1 }
    s
  }

  /** Functional element write at a 0-based index. `toDoubleArray` already
    * returns a fresh copy for every `ArrayData`, so `buf` is never written. */
  def setAt(buf: ArrayData, idx: Int, v: Double): ArrayData = {
    val out = buf.toDoubleArray()
    out(idx) = v
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `SlidePush(buf, x)` — the sliding-window buffer push: append `x` to `buf`
  * and keep only the trailing `n` elements. Array element type is
  * non-nullable double (the indicator buffers never store nulls). */
case class SlidePush(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 1)
  override def prettyName: String = "slide_push"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, false), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, double), got (${l.catalogString}, ${r.catalogString})")
  }

  override def nullSafeEval(b: Any, x: Any): Any =
    SlidePushOps.push(b.asInstanceOf[ArrayData], x.asInstanceOf[Double], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, x) => s"graft.functions.SlidePushOps.push($b, $x, $n)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SlidePush =
    copy(left = l, right = r)
}

/** `SetAt(buf, idx, v)` — functional single-element update of a
  * non-nullable double array (0-based index): two copies per row, the
  * buffer into a fresh `double[]` and that array into a new
  * `UnsafeArrayData`. The seasonal-state write behind [[HoltWinters]]. */
case class SetAt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "set_at"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, false), IntegerType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, i, v) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int, double), got " +
          s"(${a.catalogString}, ${i.catalogString}, ${v.catalogString})")
    }

  override def nullSafeEval(b: Any, i: Any, v: Any): Any =
    SlidePushOps.setAt(b.asInstanceOf[ArrayData], i.asInstanceOf[Int],
      v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, i, v) => s"graft.functions.SlidePushOps.setAt($b, $i, $v)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SetAt =
    copy(first = f, second = s, third = t)
}

/** `FoldSum(buf)` — strict left-to-right sum of a non-nullable double array
  * starting at 0.0: the exact fold order of `aggregate(buf, 0.0, (a,x) -> a+x)`
  * and of the reference's `iter().sum()`, without the interpreted HOF. */
case class FoldSum(child: Expression) extends UnaryExpression {
  override def prettyName: String = "fold_sum"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  override def nullSafeEval(b: Any): Any =
    SlidePushOps.foldSum(b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.SlidePushOps.foldSum($b)")

  override protected def withNewChildInternal(newChild: Expression): FoldSum =
    copy(child = newChild)
}
