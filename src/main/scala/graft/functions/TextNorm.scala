package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression — the
  * canonicalization pass a text pipeline runs before hashing/dedup so
  * that "é" (U+00E9) and "e"+U+0301 hash identically. Spark has no
  * built-in normalizer; a Scala UDF would break whole-stage codegen in
  * exactly the scan-side projection where this runs.
  *
  * The kernel takes the `isNormalized` FAST PATH first: for
  * already-NFC text (virtually all real corpus bytes) it returns the
  * input UTF8String untouched — no String materialization, no copy —
  * so the normalize pass costs one scan predicate, not a re-encode of
  * 100 TB. DuckDB's nfc_normalize implements the same Unicode
  * normalization, which is what makes the oracle exact.
  */
object TextNorm {
  /** NFC-normalize; identity (no allocation) when already normalized. */
  def nfc(s: UTF8String): UTF8String = {
    if (s == null) return null
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nfc_normalize expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextNorm.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextNorm.nfc($s);")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  def nfcCol(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NfcNormalize(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
