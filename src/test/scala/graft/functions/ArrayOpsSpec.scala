package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalatest.funsuite.AnyFunSuite

/** [[SlidePushOps.setAt]] is a functional write: it returns a new array
  * and never mutates the buffer it reads, whichever `ArrayData` layout
  * the buffer arrives in. */
class ArrayOpsSpec extends AnyFunSuite {
  private val values = Array(1.0, 2.0, 3.0, 4.0)

  private def check(buf: ArrayData): Unit = {
    val out = SlidePushOps.setAt(buf, 2, 9.5)
    assert(out.toDoubleArray().toSeq == Seq(1.0, 2.0, 9.5, 4.0))
    assert(buf.toDoubleArray().toSeq == values.toSeq)
  }

  test("setAt leaves an UnsafeArrayData input unchanged") {
    check(UnsafeArrayData.fromPrimitiveArray(values.clone()))
  }

  test("setAt leaves a GenericArrayData input unchanged") {
    check(new GenericArrayData(values.clone().map(Double.box)))
  }
}
