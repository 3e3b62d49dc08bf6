package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Morton (Z-order) interleave of two non-negative long keys,
  * 31 bits each → a 62-bit z-value (the full 2-D budget of a signed
  * long — covers keys to 2.1×10⁹ per dimension, e.g. TPC-H custkey
  * past sf10000), with full whole-stage-codegen support.
  *
  * Z-ordering is the multi-dimensional data-LAYOUT optimizer: sorting
  * a table by z(x, y) before writing makes file/row-group min-max
  * ranges tight in BOTH dimensions at once, so predicate pushdown on
  * either column prunes most of the files — the standard lakehouse
  * technique for two-column scan selectivity at 100 TB (a single-column
  * sort gives pruning on that column only).
  *
  * Bit spreading uses the constant-time magic-mask sequence rather
  * than a 31-iteration loop; the semantics are exactly
  * Σ_i ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1), which is what the DuckDB
  * oracle computes with an explicit bit loop (hash-gate compatible)
  * and what ZorderSpec's sequential reference asserts bit-for-bit.
  * Inputs are masked to their low 31 bits; null if either side is
  * null (standard binary-expression null propagation).
  */
case class ZValue(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"z_value expects (bigint, bigint), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZValue.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "z_value"
}

/** 3-D Morton interleave — 21 bits per key → a 63-bit z-value. The
  * three-dimensional write-layout key for fact tables filtered on
  * three independent columns (e.g. customer × date × amount band).
  * Same definitional contract as [[ZValue]]: bit i of the j-th input
  * lands at position 3i+j; constant-time 3-D magic-mask spread;
  * inputs masked to 21 bits; null-propagating.
  */
case class ZValue3(first: Expression, second: Expression, third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (Seq(first, second, third).forall(_.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"z3_value expects (bigint, bigint, bigint), got " +
          s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    ZValue.interleave3(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.ZValue.interleave3($a, $b, $c);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ZValue3 =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "z3_value"
}

object ZValue {
  /** Spread the low 31 bits of v so bit i lands at position 2i. */
  def spread(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** x bits at even positions, y bits at odd — the 62-bit z-value. */
  def interleave(x: Long, y: Long): Long =
    spread(x) | (spread(y) << 1)

  /** Spread the low 21 bits of v so bit i lands at position 3i. */
  def spread3(v: Long): Long = {
    var x = v & 0x1FFFFFL
    x = (x | (x << 32)) & 0x1F00000000FFFFL
    x = (x | (x << 16)) & 0x1F0000FF0000FFL
    x = (x | (x << 8)) & 0x100F00F00F00F00FL
    x = (x | (x << 4)) & 0x10C30C30C30C30C3L
    x = (x | (x << 2)) & 0x1249249249249249L
    x
  }

  /** Bit i of (x, y, z) lands at 3i, 3i+1, 3i+2 — the 63-bit z-value. */
  def interleave3(x: Long, y: Long, z: Long): Long =
    spread3(x) | (spread3(y) << 1) | (spread3(z) << 2)

  /** `z_value(x, y)`. */
  def zCol(x: Column, y: Column): Column =
    GraftColumnBridge.column(
      ZValue(GraftColumnBridge.expression(x), GraftColumnBridge.expression(y)))

  /** `z3_value(x, y, z)`. */
  def z3Col(x: Column, y: Column, z: Column): Column =
    GraftColumnBridge.column(ZValue3(GraftColumnBridge.expression(x),
      GraftColumnBridge.expression(y), GraftColumnBridge.expression(z)))
}
