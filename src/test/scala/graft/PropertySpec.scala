package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import graft.core.{KV, MapReduceJob}

/** Property-based differential tests (SURVEY.md §5.3-5): random
  * corpora through the MapReduce ABI must equal a naive
  * Scala-collections model — the mrsequential-oracle idea with
  * generated inputs instead of pg*.txt.
  */
/** Tokenizer lives outside the suite: closures shipped to executors
  * must not capture the (non-serializable) test-class instance.
  */
object PropertySpec extends Serializable {
  def tokens(text: String): Seq[String] =
    text.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)
}

class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val words = Seq("alpha", "beta", "gamma", "delta", "x", "êtres")
  private val seps = Seq(" ", "  ", ", ", "; ", "\n", "-", "3", "42 ")

  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, Gen.oneOf(words))
    ss <- Gen.listOfN(n, Gen.oneOf(seps))
  } yield ws.zip(ss).map { case (w, s) => w + s }.mkString

  private val genCorpus: Gen[List[(String, String)]] = for {
    n <- Gen.choose(1, 6)
    docs <- Gen.listOfN(n, genDoc)
  } yield docs.zipWithIndex.map { case (t, i) => (f"d$i%03d", t) }

  import PropertySpec.tokens

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("MapReduceJob.run wc ≡ naive collections model (random corpora)") {
    check(Prop.forAll(genCorpus) { corpus =>
      val ds = corpus.toDF("key", "value").as[KV]
      val got = MapReduceJob.run(ds,
        mapf = (_, text) => tokens(text).map(w => KV(w, "1")),
        reducef = (_, vs) => vs.length.toString,
        nReduce = 3)
        .collect().map(kv => kv.key -> kv.value).toMap
      val model = corpus.flatMap(d => tokens(d._2))
        .groupBy(identity).map { case (w, os) => w -> os.length.toString }
      got == model
    })
  }

  test("run with combine ≡ run without on random corpora") {
    check(Prop.forAll(genCorpus) { corpus =>
      val ds = corpus.toDF("key", "value").as[KV]
      val mapf = (_: String, text: String) => tokens(text).map(w => KV(w, "1"))
      val sum = (_: String, vs: Seq[String]) => vs.map(_.toLong).sum.toString
      val a = MapReduceJob.run(ds, mapf, reducef = sum, combine = Some(sum))
        .collect().map(kv => kv.key -> kv.value).toMap
      val b = MapReduceJob.run(ds, mapf, reducef = sum)
        .collect().map(kv => kv.key -> kv.value).toMap
      a == b
    })
  }

  test("reduce sees every value exactly once, regardless of partitioning") {
    check(Prop.forAll(genCorpus, Gen.choose(1, 7)) { (corpus, r) =>
      val ds = corpus.toDF("key", "value").as[KV]
      // reducef that is order-insensitive but multiplicity-sensitive:
      // sorted concatenation of (doc,word) markers per word
      val got = MapReduceJob.run(ds,
        mapf = (doc, text) => tokens(text).map(w => KV(w, doc)),
        reducef = (_, vs) => vs.sorted.mkString(","),
        nReduce = r)
        .collect().map(kv => kv.key -> kv.value).toMap
      val model = corpus
        .flatMap { case (doc, text) => tokens(text).map(w => (w, doc)) }
        .groupBy(_._1).map { case (w, ps) => w -> ps.map(_._2).sorted.mkString(",") }
      got == model
    })
  }

  private def chars(cp: Int): String = new String(Character.toChars(cp))

  /** Unicode text built from pieces the tokenizer must agree with the
    * regex on: ASCII letters, digits and punctuation, Latin letters with
    * combining marks, CJK, supplementary-plane letters, digits and
    * symbols (surrogate pairs), lone surrogates (which may pair up with
    * a neighbour), and any BMP char.
    */
  private val genUnicode: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaChar.map(_.toString),
    2 -> Gen.oneOf(" ", "  ", ",", "-", "'", "\n", "\t", "_"),
    2 -> Gen.numChar.map(_.toString),
    2 -> Gen.choose(0x00c0, 0x024f).map(chars),
    2 -> Gen.choose(0x0300, 0x036f).map(chars),
    2 -> Gen.choose(0x4e00, 0x9fff).map(chars),
    2 -> Gen.choose(0x1d400, 0x1d7ff).map(chars),
    1 -> Gen.choose(0x1f600, 0x1f64f).map(chars),
    1 -> Gen.choose(0x20000, 0x2a6df).map(chars),
    2 -> Gen.choose(0xd800, 0xdfff).map(_.toChar.toString),
    1 -> Gen.choose(0x0000, 0xffff).map(_.toChar.toString))).map(_.mkString)

  test("LetterTokens ≡ the non-empty pieces of a [^\\p{L}]+ split (random Unicode)") {
    val re = java.util.regex.Pattern.compile(graft.queries.Parity.TokenRe)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(genUnicode) { s =>
        val want = re.split(s).toSeq.filter(_.nonEmpty)
        val got = graft.functions.LetterTokens(s).toSeq
        val set = graft.functions.LetterTokens.distinct(s)
        ((got == want) && set.size == want.distinct.size && want.forall(set.contains)) :|
          s"input ${s.codePoints().toArray.map(Integer.toHexString).mkString(" ")}"
      })
    assert(res.passed, res.status.toString)
  }

  // --- round-6 algorithmic components -------------------------------

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, for {
      a <- Gen.choose(0L, 11L); b <- Gen.choose(0L, 11L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)

  test("triangle census ≡ brute force on random graphs (ScalaCheck)") {
    def brute(es: Set[(Long, Long)]): Long = {
      val ns = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      (for {
        i <- ns.indices; j <- (i + 1) until ns.length
        if es.contains((ns(i), ns(j)))
        k <- (j + 1) until ns.length
        if es.contains((ns(j), ns(k))) && es.contains((ns(i), ns(k)))
      } yield 1).size.toLong
    }
    check(Prop.forAll(genEdges) { es =>
      es.isEmpty || {
        val got = graft.queries.Cluster
          .triangleCountOf(es.toDF("doc_a", "doc_b")).collect()(0)
        got.getLong(2) == brute(es.toSet) && got.getLong(0) == es.length.toLong
      }
    })
  }

  private val genStream: Gen[List[String]] = for {
    nHot <- Gen.choose(30, 60)
    noise <- Gen.listOfN(40, Gen.oneOf((0 until 25).map("n" + _)))
  } yield scala.util.Random.shuffle(List.fill(nHot)("hot") ++ noise)

  test("Misra-Gries candidates are a superset of true >=T items on random streams") {
    val k = 8
    check(Prop.forAll(genStream) { stream =>
      val t = 25L // bound valid: n <= 100 => err <= 11 < 25
      val agg = new graft.functions.MisraGriesAggregator(k, t)
      // random split + merge: exercise the mergeable path too
      val (s1, s2) = stream.splitAt(stream.length / 2)
      val merged = agg.finish(agg.merge(
        s1.foldLeft(agg.zero)(agg.reduce), s2.foldLeft(agg.zero)(agg.reduce)))
      val truth = stream.groupBy(identity).filter(_._2.size >= t).keySet
      truth.subsetOf(merged.toSet)
    })
  }

  private val genSyms: Gen[List[String]] =
    Gen.listOfN(12, Gen.oneOf("a", "b", "ab", "c"))

  test("applyMerge ≡ sequential greedy merge on random symbol arrays") {
    def ref(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    check(Prop.forAll(genSyms) { syms =>
      val got = Seq(syms).toDF("syms")
        .select(graft.queries.Tokenize.applyMerge(
          org.apache.spark.sql.functions.col("syms"), "a", "b"))
        .collect()(0).getSeq[String](0).toList
      got == ref(syms, "a", "b")
    })
  }

  test("ZValue.interleave ≡ definitional bit loop (ScalaCheck)") {
    def refZ(x: Long, y: Long): Long = {
      var z = 0L; var i = 0
      while (i < 31) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    check(Prop.forAll(Gen.choose(0L, 0x7FFFFFFFL), Gen.choose(0L, 0x7FFFFFFFL)) {
      (x, y) => graft.functions.ZValue.interleave(x, y) == refZ(x, y)
    })
  }
}
