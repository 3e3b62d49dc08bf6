package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native winnowing selection (Schleimer/Wilkerson/Aiken SIGMOD'03):
  * `array<long>` k-gram hashes → ascending `array<long>` of 1-based
  * POSITIONS elected by the rightmost-minimum rule over every full
  * w-hash window.
  *
  * The declarative twin (queries/Winnow.winnowed) needs a window
  * function pass (one shuffle-and-sort over every gram row) plus a
  * within-doc join-back for the argmax SQL frames can't express; this
  * is the same per-document sequential scan as the reference
  * algorithm — O(n·w) worst case, O(1) state — run where the data
  * already is: a MAP-ONLY plan with zero exchanges (WinnowSpec
  * asserts both the plan shape and row-identity with the windowed
  * form). Same CodegenFallback trade as HyperplaneSigs/MinHashBuckets:
  * a tight primitive-array JVM loop beats a codegen'd expression tree
  * that can't express the loop at all.
  */
case class WinnowSelect(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(w >= 2, s"winnow window must be >= 2, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_select expects array<long>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.emptyLongArray)
    val hs = arr.toLongArray()
    // rightmost min of each window [j, j+w-1]; consecutive windows
    // usually re-elect the same position — emit on change only
    val out = new scala.collection.mutable.ArrayBuffer[Long](2 * n / (w + 1) + 4)
    var last = -1
    var j = 0
    while (j <= n - w) {
      // rightmost index of the window minimum
      var best = j
      var i = j + 1
      while (i < j + w) { if (hs(i) <= hs(best)) best = i; i += 1 }
      if (best != last) { out += (best + 1).toLong; last = best }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): WinnowSelect =
    copy(child = c)

  override def prettyName: String = "winnow_select"
}

object WinnowSelect {
  /** `winnow_select(hs)` over [[graft.queries.Winnow]]'s window. */
  def selectCol(hs: Column): Column =
    GraftColumnBridge.column(
      WinnowSelect(GraftColumnBridge.expression(hs), graft.queries.Winnow.W))
}
