package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns, with
  * full whole-stage-codegen support (`doGenCode` emits a primitive
  * loop — no ArrayData allocation, no lambda-variable boxing).
  *
  * The declarative twin `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * is semantically identical (spec-checked in SimilaritySpec) but
  * allocates an intermediate array and evaluates interpreted lambdas
  * per element. Dot products run O(queries × corpus × dim) times in
  * the ANN/near-dup operators — at 100 TB this inner loop must be a
  * compiled multiply-add, which is exactly what this expression
  * generates.
  *
  * Summation order is index-ascending sequential — bit-identical to
  * the lambda twin and to DuckDB's `list_dot_product` oracle.
  *
  * Null semantics mirror the lambda twin exactly: `zip_with` pads the
  * shorter array with nulls and `null * x = null`, so a length
  * mismatch or a null element anywhere yields NULL (not a truncated
  * partial sum).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Result can be NULL on length mismatch / null elements even when
  // the input columns themselves are non-nullable.
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot expects (array<double>, array<double>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object DotProduct {
  /** `vec_dot(a, b)` — the one definition every query module uses. */
  def dotCol(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
