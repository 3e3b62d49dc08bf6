package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression computing all hyperplane-LSH table
  * signatures of an `array<double>` vector in one pass:
  * array<double> → array<int> of `tables` sign-bit-packed signatures
  * (bit p of table t set iff v · plane(seedBase + t·bits + p) > 0).
  *
  * The declarative twin — `tables` columns of `bits` vec_dot-vs-
  * literal-array `when` terms each — is semantically identical
  * (bit-identity spec-checked in VectorOpsSpec) but evaluates a
  * ~5,000-node expression tree per row at interpreter speed: measured
  * ~1 ms/row at dim 64, which made the signature pass dominate every
  * embedding-LSH operator. This loop is plain JVM code over primitive
  * arrays — the same reasoning (and ~100× win) as MinHashBuckets for
  * the minhash family; at 100 TB the signature pass must run at
  * memory bandwidth.
  *
  * Planes are the same deterministic pseudo-random family the
  * declarative form builds at plan time: plane k, component j =
  * sin(k·64 + j + 1), fixed dim 64. Inputs that are not dim-64, or
  * contain a null element, signature to 0 in every table — exactly
  * the declarative form's behavior (vec_dot → NULL → `when` falls to
  * its 0 branch for every bit).
  */
case class HyperplaneSigs(
    child: Expression,
    seedBase: Int,
    tables: Int,
    bits: Int) extends UnaryExpression with CodegenFallback {

  private val Dim = 64

  // tables·bits planes, flattened [plane][component]; built once per
  // instance, shipped with the serialized expression
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(tables * bits) { k =>
      Array.tabulate(Dim)(j => math.sin((seedBase + k) * Dim + j + 1.0))
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_sigs expects array<double>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Int](tables)
    val n = arr.numElements()
    var ok = n == Dim
    if (ok) {
      var i = 0
      while (ok && i < n) { if (arr.isNullAt(i)) ok = false; i += 1 }
    }
    if (ok) {
      val v = arr.toDoubleArray()
      var t = 0
      while (t < tables) {
        var sig = 0
        var p = 0
        while (p < bits) {
          val plane = planes(t * bits + p)
          var s = 0.0
          var j = 0
          while (j < Dim) { s += v(j) * plane(j); j += 1 }
          if (s > 0) sig |= 1 << p
          p += 1
        }
        out(t) = sig
        t += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSigs =
    copy(child = c)

  override def prettyName: String = "hyperplane_sigs"
}

/** The two plane families, independent of each other, with
  * [[graft.queries.Similarity]]'s parameters.
  */
object HyperplaneSigs {
  import graft.queries.Similarity._

  /** `hyperplane_sigs_ann(v)`: the ANN family. */
  def annCol(v: Column): Column =
    GraftColumnBridge.column(HyperplaneSigs(GraftColumnBridge.expression(v),
      AnnSeedBase, NumTables, PlanesPerTable))

  /** `hyperplane_sigs_dedup(v)`: the embedding-dedup family. */
  def dedupCol(v: Column): Column =
    GraftColumnBridge.column(HyperplaneSigs(GraftColumnBridge.expression(v),
      DedupSeedBase, DedupTables, DedupBits))
}
