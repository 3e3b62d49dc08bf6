package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, TextOps}

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  test("tokensCol splits on non-letters like Go unicode.IsLetter (wc.go:21-34)") {
    val got = Seq(("héllo, wörld42—foo!", 1)).toDF("text", "id")
      .select(Dedup.tokensCol(col("text"))).first().getSeq[String](0)
    assert(got === Seq("héllo", "wörld", "foo"))
  }

  test("fingerprint: content-identical docs equal; reordered tokens differ") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha   beta...gamma"), // same tokens, junk separators
      (3L, "gamma beta alpha")) // reordered
      .toDF("doc_id", "text")
    val ws = Dedup.tokensCol(col("text"))
    val tokVal = (w: org.apache.spark.sql.Column) =>
      ascii(w) * 31 + ascii(substring(w, -1, 1)) + length(w)
    val fp = aggregate(ws, lit(0L), (acc, w) => (acc * 131 + tokVal(w)) % 1000000007L)
    val fps = df.select(col("doc_id"), fp.as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L), "separator noise must not change fingerprint")
    assert(fps(1L) !== fps(3L), "token order must change fingerprint")
  }

  test("quality/ratio bounds on the real corpus") {
    val rows = TextOps.qualityScore(spark, sfDir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1) // punct_ratio
      assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1) // stop_ratio
      assert(r.getDouble(6) >= 0 && r.getDouble(6) <= 1) // quality
    }
  }

  test("langId predicts a known profile language with deterministic tie-break") {
    val rows = TextOps.langId(spark, sfDir).collect()
    assert(rows.length === 500)
    val langs = Set("en", "es", "de", "fr", "zh")
    rows.foreach { r =>
      assert(langs.contains(r.getString(2)))
      assert(r.getDouble(3) >= 0)
    }
    // deterministic: same input → same prediction across two runs
    val again = TextOps.langId(spark, sfDir).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      again.map(r => (r.getLong(0), r.getString(2))).toSeq)
  }

  test("textStats covers every language partition") {
    val rows = TextOps.textStats(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet === Set("en", "es", "de", "fr", "zh"))
    assert(rows.map(_.getLong(1)).sum === 500)
  }

  test("sample_weighted: deterministic, 5 per lang, inclusion skews with weight") {
    val rows = TextOps.sampleWeighted(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val perLang = rows.groupBy(_._1)
    assert(perLang.values.forall(g => g.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    val again = TextOps.sampleWeighted(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === again.toSeq)
    // A-ES property: E[selected weight] > population mean weight.
    // n_chars spreads ~48..550; the weighted sample must lean heavy.
    val popMean = graft.core.Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.functions.avg("n_chars")).collect()(0).getDouble(0)
    val selMean = rows.map(_._4).sum.toDouble / rows.length
    assert(selMean > popMean,
      s"weighted sample mean $selMean not above population mean $popMean")
  }

  test("sample_reservoir: exact min(k, |stratum|) per source, hash-rank exact") {
    val k = 25
    val rows = TextOps.sampleReservoir(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val strata = graft.core.Tables.documents(spark, sfDir)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    // exact-k contract (capped by stratum size) + the sample IS the
    // k smallest md5 keys, sequentially recomputed
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String =
      md.digest(s"rs:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    strata.foreach { case (src, docs) =>
      val got = rows.filter(_._1 == src).sortBy(_._2).map(_._3).toSeq
      val expect = docs.map(_._2).sortBy(id => (key(id), id)).take(k).toSeq
      assert(got == expect, s"$src reservoir mismatch")
    }
    assert(rows.length == strata.values.map(d => math.min(k, d.length)).sum)
  }

  test("search_bm25: planted rare-term overlap ranks the target doc first") {
    import spark.implicits._
    // query doc 0 shares the rare term "zyzzyva" only with doc 10;
    // doc 11 shares only common filler; docs 12+ are unrelated noise.
    val filler = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (0L, s"zyzzyva quokka $filler"),
      (1L, "unrelated query about nothing shared"),
      (2L, filler), (3L, "aa bb cc"), (4L, "dd ee ff"),
      (10L, s"zyzzyva quokka appears here too with $filler"),
      (11L, s"$filler $filler"),
      (12L, "completely different content body"),
      (13L, "another different body of text"),
      (14L, "yet more distinct material here")).toDF("doc_id", "text")
    val out = TextOps.searchBm25On(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val q0 = out.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.head._2 === 10L, s"expected doc 10 first for query 0, got ${q0.head}")
    // ranks are 1..n with scores non-increasing
    out.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === (1 to sorted.length))
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4))
    }
    // query docs never retrieved (held out of the corpus)
    assert(out.forall(_._2 >= TextOps.SearchQueryDocs))
    val again = TextOps.searchBm25On(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.sorted.toSeq === again.sorted.toSeq)
  }

  test("keywordsTextrank: hub word ranks first on a planted star graph") {
    // hub 'central' co-occurs with 5 distinct spokes (each pair ×5 to
    // clear MinCo); spokes touch only the hub → hub rank dominates
    val spokes = Seq("alpha", "bravo", "carol", "delta", "excel")
    val docs = (0 until 5).flatMap { rep =>
      spokes.zipWithIndex.map { case (w, i) =>
        ((rep * spokes.length + i).toLong, s"central $w")
      }
    }.toDF("doc_id", "text")
    val out = TextOps.keywordsTextrankOn(docs).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(out.map(_._1).toSet === (spokes :+ "central").toSet)
    assert(out.maxBy(_._2)._1 === "central")
    // symmetric spokes get identical ranks; all ranks positive, sum ≈ 1
    val spokeRanks = out.filter(_._1 != "central").map(_._2).distinct
    assert(spokeRanks.length === 1)
    assert(out.forall(_._2 > 0))
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-4)
  }

  test("keywords_textrank registered query: top-20, long words only (sf0.001)") {
    val rows = TextOps.keywordsTextrank(spark, sfDir).collect()
    assert(rows.length === TextOps.TextRankTopK)
    rows.foreach { r =>
      assert(r.getString(0).length >= TextOps.TextRankMinLen)
      assert(r.getDouble(1) > 0)
    }
  }

  test("searchPhrase ≡ naive sliding-window phrase count on planted docs") {
    import spark.implicits._
    // doc 0 is the query ("a b c ..."); docs 5+ are corpus (< SearchQueryDocs
    // held out). Phrase "a b c" occurs twice in doc 10 (incl. overlapping
    // scan start), zero times in doc 11 (adjacency broken), once in doc 12.
    val docs = Seq(
      (0L, "a b c query tail"),
      (10L, "x a b c y a b c"),
      (11L, "a b x c a c b"),
      (12L, "start a b c end")
    ).toDF("doc_id", "text")
    val got = TextOps.searchPhraseOn(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    assert(got === Map((0L, 10L) -> (2L, 1), (0L, 12L) -> (1L, 1)))

    // registered form returns hits on the real corpus
    assert(TextOps.searchPhrase(spark, sfDir).count() > 0)
  }

  test("qualityEnsemble: rank legs are exact per-lang percent ranks; fused mean") {
    val rows = TextOps.qualityEnsemble(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, rq, rn, rd, e) =>
      Seq(rq, rn, rd, e).foreach(v => assert(v >= 0.0 && v <= 1.0))
      // fused score is the (rounded) mean of the rounded legs within
      // the rounding slack
      assert(math.abs(e - (rq + rn + rd) / 3.0) < 2e-4)
    }
    // per lang: ranks span 0..1 (the extremes are hit exactly)
    rows.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).min === 0.0 && rs.map(_._3).max === 1.0)
    }
  }

  test("quality_compress: repetitive text compresses far harder than noise; deterministic") {
    import spark.implicits._
    val rep = "the same line over and over. " * 100
    val noise = new scala.util.Random(42).alphanumeric.take(2900).mkString
    val docs = Seq((1L, rep), (2L, noise)).toDF("doc_id", "text")
    val sized = docs.select(col("doc_id"),
      graft.functions.DeflateRatio.sizeCol(col("text")).as("z"),
      octet_length(col("text")).as("raw"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val ratioRep = sized(1L)._2.toDouble / sized(1L)._1
    val ratioNoise = sized(2L)._2.toDouble / sized(2L)._1
    assert(ratioRep > 10.0, s"repetitive ratio $ratioRep")
    assert(ratioNoise < 2.0, s"noise ratio $ratioNoise")

    // registered query: full coverage, stable across runs
    val a = TextOps.qualityCompress(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val b = TextOps.qualityCompress(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a === b && a.nonEmpty)
    a.foreach { case (_, raw, zip, ratio) =>
      assert(zip > 0 && raw > 0 && ratio > 0.0)
    }
  }
}
