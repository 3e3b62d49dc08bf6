package graft.functions

/** The one word tokenizer of the Scala-side code: the maximal runs of
  * Unicode letters of a string, in order. These are exactly the
  * non-empty pieces of a `[^\p{L}]+` split, the reference's Go
  * `unicode.IsLetter` word splitting (reference: mrapps/wc.go:21-34)
  * and the DuckDB oracle's `string_split_regex`, without the regex
  * engine: one pass over the code points, with an ASCII fast path and
  * `Character.isLetter(codePoint)` otherwise. A supplementary letter is
  * one code point, as for the regex; a lone surrogate is not a letter.
  *
  * Catalyst-side `split(text, TokenRe)` stays a regex: it has to run
  * in DuckDB as well.
  */
object LetterTokens {

  /** The tokens of `s`, in order. */
  def apply(s: String): Iterator[String] = new Iterator[String] {
    private var start = skipNonLetters(s, 0)
    def hasNext: Boolean = start < s.length
    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more tokens")
      val end = skipLetters(s, start)
      val t = s.substring(start, end)
      start = skipNonLetters(s, end)
      t
    }
  }

  /** The distinct tokens of `s`. */
  def distinct(s: String): java.util.HashSet[String] = {
    val out = new java.util.HashSet[String]()
    val it = apply(s)
    while (it.hasNext) out.add(it.next())
    out
  }

  /** Width in chars of the letter at `i`, or 0 when the code point at
    * `i` is not a letter.
    */
  private def letterWidth(s: String, i: Int): Int = {
    val c = s.charAt(i)
    if (c < 0x80) { val lower = c | 0x20; if (lower >= 'a' && lower <= 'z') 1 else 0 }
    else {
      val cp = Character.codePointAt(s, i)
      if (Character.isLetter(cp)) Character.charCount(cp) else 0
    }
  }

  private def skipLetters(s: String, from: Int): Int = {
    var i = from
    var w = 0
    while (i < s.length && { w = letterWidth(s, i); w > 0 }) i += w
    i
  }

  /** A non-letter is skipped one char at a time: the low half of a
    * non-letter surrogate pair reads as a lone surrogate, itself a
    * non-letter.
    */
  private def skipNonLetters(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && letterWidth(s, i) == 0) i += 1
    i
  }
}
