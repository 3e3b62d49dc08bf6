package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert curve index as a native codegen'd expression — the
  * locality-layout companion to [[ZValue]]'s Morton interleave. A
  * Hilbert traversal never takes the long diagonal jumps Morton order
  * takes at quadrant boundaries, so contiguous index ranges have
  * strictly better worst-case bounding boxes — the property lakehouse
  * writers exploit when laying out files for 2-column min-max pruning.
  *
  * 16-bit grid per dimension (inputs masked to [0, 65536)): the
  * standard bit-interleaved recursion runs 16 rounds of constant
  * integer arithmetic (quadrant digit + reflect/swap rotation —
  * Wikipedia's classic xy2d), which is also what lets the DuckDB
  * oracle unroll the SAME 16 rounds as chained CTEs and hash-match
  * the index exactly. Coarser keys must be bucketed below 2^16 first
  * (at 100 TB the layout key is a file/cell coordinate, not a raw
  * surrogate id, so 16 bits/dim is the operating regime).
  */
object HilbertValue {
  val Bits = 16
  val N: Long = 1L << Bits

  /** xy → Hilbert d, parametric in grid bits (spec uses small grids). */
  def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    val n = 1L << bits
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate/flip the quadrant
      if (ry == 0L) {
        if (rx == 1L) {
          x = n - 1 - x
          y = n - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def hilbert16(x: Long, y: Long): Long = xy2d(Bits, x, y)

  /** `hilbert_value(x, y)`. */
  def hilbertCol(x: Column, y: Column): Column =
    GraftColumnBridge.column(
      HilbertIndex(GraftColumnBridge.expression(x), GraftColumnBridge.expression(y)))
}

case class HilbertIndex(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hilbert_value expects (bigint, bigint), got $other")
    }

  override def nullSafeEval(x: Any, y: Any): Any =
    HilbertValue.hilbert16(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.HilbertValue.hilbert16($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hilbert_value"
}
