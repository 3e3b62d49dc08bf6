package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{NfcNormalize, TextNorm}
import graft.queries.TextOps

/** Unicode NFC canonicalization: composition of decomposed sequences,
  * identity fast path (no reallocation for already-NFC text),
  * interpreted/codegen agreement, and the registered text_normalize
  * query contract.
  */
class TextNormSpec extends SparkSuite {
  import spark.implicits._

  private val decomposed = "Cafe\u0301" // e + combining acute accent
  private val composed = "Caf\u00e9"    // precomposed e-acute

  test("NFC composes decomposed sequences; NFC-invariant text unchanged") {
    val df = Seq(decomposed, composed, "plain ascii", "ﬁligature").toDF("text")
    val got = df.select(NfcNormalize.nfcCol(col("text"))).as[String].collect()
    assert(got(0) === composed)
    assert(got(1) === composed)
    assert(got(2) === "plain ascii")
    assert(got(3) === "ﬁligature") // NFC (unlike NFKC) keeps compatibility chars
    val n = Seq[Option[String]](None).toDF("text")
      .select(NfcNormalize.nfcCol(col("text"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("fast path returns the input object; interpreted ≡ codegen path") {
    val in = UTF8String.fromString("already normalized")
    assert(TextNorm.nfc(in) eq in) // identity, no copy
    val e = NfcNormalize(Literal(UTF8String.fromString(decomposed), StringType))
    assert(e.eval(null).toString === composed) // interpreted eval
    // the DataFrame run above exercised the generated-code path; check
    // they agree on the same value
    val viaDf = Seq(decomposed).toDF("text")
      .select(NfcNormalize.nfcCol(col("text"))).as[String].head()
    assert(viaDf === e.eval(null).toString)
  }

  test("text_normalize: one row per doc, norm is lowercase, changed is consistent") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextOps.textNormalize(spark, sfDir).collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val norm = r.getString(1)
      assert(norm === norm.toLowerCase)
      val expected = if (norm != docs(r.getLong(0))) 1 else 0
      assert(r.getInt(2) === expected)
    }
  }
}
