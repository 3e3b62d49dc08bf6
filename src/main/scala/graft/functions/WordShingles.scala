package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: text → distinct word n-gram shingles in
  * one compiled pass (tokenize on non-letter runs, slide an n-window,
  * de-dup via hash set).
  *
  * Semantically identical to the declarative
  * split→filter→transform→array_distinct chain in graft.queries.Dedup
  * (spec-checked), but the declarative form pays interpreted
  * higher-order-function evaluation per element — ~2 ms/doc vs ~30 µs
  * here. Shingling runs over every document of the corpus, so at
  * 100 TB it must be compiled-loop fast.
  *
  * Tokenizer = [[LetterTokens]], the non-empty pieces of a `[^\p{L}]+`
  * split, matching the reference's Go `unicode.IsLetter` word splitting
  * (reference: mrapps/wc.go:21-34) and the DuckDB oracle's
  * string_split_regex.
  */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val words = LetterTokens(input.asInstanceOf[UTF8String].toString).toArray
    val nw = words.length
    if (nw < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](nw * 2)
    var i = 0
    while (i <= nw - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var k = 1
      while (k < n) { sb.append(' ').append(words(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** Shingle width: word 3-grams. */
  val N = 3

  /** `word_shingles(text)`: the distinct word 3-grams of `text`. */
  def shinglesCol(text: Column): Column =
    GraftColumnBridge.column(WordShingles(GraftColumnBridge.expression(text), N))
}
