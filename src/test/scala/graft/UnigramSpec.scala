package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Unigram}

/** Unigram-LM tokenizer: distributed EM ≡ a sequential in-JVM
  * reference (same seed rules, same EM loop, shared Viterbi kernel),
  * Viterbi segmentation invariants, and the registered train/encode
  * query contracts.
  */
class UnigramSpec extends SparkSuite {

  /** Sequential reference of the distributed seed pass: every
    * substring up to MaxPieceLen weighted by word frequency; singles
    * always kept (segmentability), multis gated at MinFreq and capped
    * at SeedCap.
    */
  private def seedPieces(wf: Seq[(String, Long)]): Seq[(String, Long)] = {
    val subCounts = scala.collection.mutable.HashMap.empty[String, Long]
    wf.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(w.length, i + Unigram.MaxPieceLen)) {
          val p = w.substring(i, j)
          subCounts.update(p, subCounts.getOrElse(p, 0L) + f)
          j += 1
        }
        i += 1
      }
    }
    val singles = subCounts.iterator.filter(_._1.length == 1).toSeq
    val multis = subCounts.iterator
      .filter { case (p, c) => p.length > 1 && c >= Unigram.MinFreq }
      .toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(Unigram.SeedCap)
    singles ++ multis
  }

  private def sequentialCounts(words: Seq[(String, Long)]): Map[String, Long] =
    Unigram.emLoop(seedPieces(words), probs =>
      words.flatMap { case (w, f) => Unigram.viterbi(w, probs).map(p => (p, f)) }
        .groupBy(_._1).map { case (p, v) => p -> v.map(_._2).sum }.toSeq)

  test("distributed EM equals the sequential reference on sf0.001") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val words = docs.select(explode(Dedup.tokensCol(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val ref = sequentialCounts(words)
    val got = Unigram.trainCounts(spark, docs)
    assert(got === ref)
    assert(got.exists(_._1.length > 1), "multi-char pieces must survive EM")
    // the alphabet is retained (segmentability invariant)
    val alphabet = words.flatMap(_._1.toSeq).map(_.toString).toSet
    assert(alphabet.subsetOf(got.keySet))
  }

  test("viterbi: optimal split, concatenation invariant, unknown-char fallback, ties") {
    // integer micro log-probs (the r14 rail): ln(0.4)·1e6 ≈ −916291,
    // ln(0.1)·1e6 ≈ −2302585
    val lp = Map("ab" -> -916291L, "a" -> -2302585L, "b" -> -2302585L,
      "c" -> -916291L)
    assert(Unigram.viterbi("abc", lp) === List("ab", "c"))
    assert(Unigram.viterbi("cab", lp) === List("c", "ab"))
    assert(Unigram.viterbi("abcab", lp).mkString === "abcab")
    assert(Unigram.viterbi("xy", lp) === List("x", "y")) // uncovered fallback
    // equal-score tie prefers the longer LAST piece: lp(ab)=lp(a)+lp(b)
    // EXACTLY (integer scores make the tie class precise)
    val tied = Map("ab" -> -200L, "a" -> -100L, "b" -> -100L)
    assert(Unigram.viterbi("ab", tied) === List("ab"))
  }

  test("unigram_train: probs sum to ~1, ordered by usage; encode census is consistent") {
    val train = Unigram.unigramTrain(spark, sfDir).collect()
    assert(train.nonEmpty)
    assert(math.abs(train.map(_.getDouble(2)).sum - 1.0) < 0.01)
    val cnts = train.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, "ordered by cnt desc")
    val enc = Unigram.unigramEncode(spark, sfDir).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "at least one piece per token")
      assert(r.getDouble(3) >= 1.0)
    }
    // the learned LM must actually compress: common words segment into
    // far fewer pieces than characters
    val avgPieces = enc.map(r => r.getLong(2).toDouble).sum / enc.map(_.getLong(1).toDouble).sum
    assert(avgPieces < 4.0, s"pieces/token $avgPieces — LM learned nothing")
  }
}
