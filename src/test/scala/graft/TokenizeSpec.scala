package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.{Dedup, Tokenize}

/** BPE trainer correctness: the distributed weighted-vocabulary
  * formulation against direct stream counting and a sequential
  * reference trainer.
  */
class TokenizeSpec extends SparkSuite {

  /** Sequential reference BPE: greedy argmax with (cnt desc, left asc,
    * right asc) tie-break, leftmost-non-overlapping merge application —
    * the exact contract Tokenize.bpeMergesOn claims.
    */
  private def referenceBpe(words: Seq[String], nMerges: Int): Seq[(Int, String, String, Long)] = {
    val freq = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var vocab: Map[Seq[String], Long] =
      freq.toSeq.groupBy(_._1.map(_.toString): Seq[String])
        .map { case (syms, ws) => syms -> ws.map(_._2).sum }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts.update((p(0), p(1)), counts.getOrElse((p(0), p(1)), 0L) + f)
        }
      }
      if (counts.nonEmpty) {
        val ((l, rr), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((r, l, rr, c))
        vocab = vocab.toSeq.map { case (syms, f) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              merged += (l + rr); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.toSeq: Seq[String]) -> f
        }.groupBy(_._1).map { case (s2, fs) => s2 -> fs.map(_._2).sum }
      }
    }
    out.toSeq
  }

  test("bpe_pairs: weighted-vocabulary counts ≡ direct counts over the raw token stream") {
    val docs = Tables.documents(spark, sfDir)
    val direct = docs
      .select(explode(Dedup.tokensCol(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val weighted = Tokenize.bpePairs(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(weighted === direct && weighted.nonEmpty)
  }

  test("applyMerge is greedy leftmost non-overlapping") {
    import spark.implicits._
    val df = Seq(
      Seq("a", "a", "a", "a"),
      Seq("a", "a", "a"),
      Seq("b", "a", "a", "b"),
      Seq("a", "b", "a"),
      Seq.empty[String])
      .toDF("syms")
      .select(Tokenize.applyMerge(col("syms"), "a", "a").as("m"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got === List(
      List("aa", "aa"),
      List("aa", "a"),
      List("b", "aa", "b"),
      List("a", "b", "a"),
      Nil))
  }

  test("bpeMergesOn ≡ sequential reference trainer on a planted corpus") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(4)("lowest")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = Tokenize.bpeMergesOn(docs, 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val want = referenceBpe(words, 8)
    assert(got === want)
  }

  test("bpe_train on sf0.001 is deterministic and exhausts exactly NMerges") {
    val a = Tokenize.bpeTrain(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = Tokenize.bpeTrain(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.length === Tokenize.NMerges)
    // ranks are 1..N in order, counts positive
    assert(a.map(_.head) === (1 to Tokenize.NMerges).toSeq)
    a.foreach(r => assert(r(3).asInstanceOf[Long] > 0))
  }

  test("trainer stops early when no pairs remain") {
    import spark.implicits._
    // single-char words only: zero adjacent pairs from round 1
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    assert(Tokenize.bpeMergesOn(docs, 5).collect().isEmpty)
  }

  test("bpe_encode compression ≡ reference apply of the learned merges") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(4)("lowest")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, if (i % 2 == 0) "en" else "de", w) }
      .toDF("doc_id", "lang", "text")
    val nm = 6
    val merges = referenceBpe(words, nm).map(m => (m._2, m._3))
    def applyAll(w: String): Int = {
      var syms: Seq[String] = w.map(_.toString)
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toSeq
      }
      syms.length
    }
    val byLang = words.zipWithIndex.groupBy { case (_, i) => if (i % 2 == 0) "en" else "de" }
    val want = byLang.map { case (lang, ws) =>
      val n = ws.size
      val syms = ws.map { case (w, _) => applyAll(w) }.sum
      lang -> (n.toLong, ws.map(_._1.length).sum.toLong, syms.toLong)
    }
    val trained = Tokenize.bpeMergesOn(docs, nm).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Tokenize.bpeEncodeWith(docs, trained).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === want)
    // merges compress: fewer symbols than characters
    got.values.foreach { case (_, chars, syms) => assert(syms < chars) }
  }
}
