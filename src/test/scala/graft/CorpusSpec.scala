package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import graft.queries.Corpus

/** Corpus-curation operators: the lm_score plan guard (no unbounded
  * broadcast — the one scale-killer class this codebase avoids) and
  * the linear/quadratic quality_repetition twin equality.
  */
class CorpusSpec extends SparkSuite {
  import spark.implicits._

  test("lm_score: the vocab join carries no broadcast hint (unbounded aggregate)") {
    val df = Corpus.lmScore(spark, sfDir)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val tokJoins = joins.filter(_.condition.exists(_.references.exists(_.name == "tok")))
    assert(tokJoins.nonEmpty, "expected the vocab equi-join on tok")
    tokJoins.foreach { j =>
      assert(j.hint === JoinHint.NONE,
        s"vocab side is an unbounded aggregate — AQE must size-pick the strategy, got ${j.hint}")
    }
    // sanity: the query still runs and scores every doc
    assert(df.count() === 500)
  }

  test("qualityRepetitionOn gates planted repetition, incl. a 100k-token doc") {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val r = new scala.util.Random(7) // seeded — deterministic corpus
    val megaToks = Seq.fill(100000)(vocab(r.nextInt(vocab.size)))
    val docs = Seq(
      (1L, "a a a a a b"),                       // top-token-heavy → gated
      (2L, ""),                                  // token-less
      (3L, "one two three four five six seven eight nine ten"), // clean: top frac 0.1 ≤ gate
      (4L, "x y x y x y x y"),                   // duplicate-2-gram-heavy
      (5L, megaToks.mkString(" ")))              // the per-row-scan stress doc
      .toDF("doc_id", "text")
    val byId = Corpus.qualityRepetitionOn(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // the planted repetition patterns actually fire the gates
    assert(byId(1L).last === 0 && byId(4L).last === 0 && byId(3L).last === 1)
    // the mega doc's top-token fraction matches a local count
    val topFrac = megaToks.groupBy(identity).values.map(_.size).max / 100000.0
    assert(byId(5L).head === 100000)
    assert(math.abs(byId(5L)(1).asInstanceOf[Double] - topFrac) < 1e-4, byId(5L))
  }

  test("registered quality_repetition matches the On-form (refactor guard)") {
    val viaRegistry = Corpus.qualityRepetition(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val viaOn = Corpus.qualityRepetitionOn(graft.core.Tables.documents(spark, sfDir))
      .collect().map(_.toSeq).toSet
    assert(viaRegistry === viaOn)
  }

  test("dedup_spans_apply: planted dup span excised from the later doc, keeper intact") {
    // 25-token shared span planted into two otherwise-distinct docs;
    // a third doc has no duplication and must pass through identically
    // letters only — the tokenizer splits on non-letters, so a digit
    // suffix would collapse every span word to the same token
    val span = ('a' to 'y').map(c => s"shared$c").mkString(" ")
    val aTail = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bHead = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val docs = Seq(
      (1L, s"$span $aTail"),   // keeper (min doc_id) — unchanged
      (5L, s"$bHead $span"),   // later doc — span tokens excised
      (9L, "totally unrelated words that never repeat anywhere else today")
    ).toDF("doc_id", "text")
    val got = Corpus.dedupSpansApplyOn(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    // keeper: all 35 tokens kept, text unchanged
    assert(got(1L) === ((35, 35L, s"$span $aTail")))
    // later doc: every window covering span tokens is a dup window →
    // the span's 25 tokens go; the 10-token bHead prefix survives
    // (windows starting in bHead extend into the span and differ from
    // the keeper's windows, so only exact shared windows are removed —
    // those are the windows fully inside the span occurrence)
    // later doc: the dup windows are exactly the 6 20-token windows
    // fully inside the shared span (windows straddling bHead differ
    // from the keeper's), and their covered-position union is the
    // whole 25-token span occurrence (pos 11..35) — so the cleaned doc
    // is precisely the 10-token bHead prefix
    assert(got(5L) === ((35, 10L, bHead)))
    // untouched doc passes through token-identical
    assert(got(9L) === ((9, 9L,
      "totally unrelated words that never repeat anywhere else today")))
  }

  test("dedup_spans_exact: within-doc repeat excised (the case _apply provably misses)") {
    // one doc containing the same 20-token run twice, separated by
    // filler; no other doc shares it — dedup_spans_apply's
    // countDistinct(doc_id) > 1 gate passes this through untouched,
    // the suffix-array semantics excise the second occurrence
    val run = ('a' to 't').map(c => s"rep$c").mkString(" ")       // 20 toks
    val mid = "uno dos tres cuatro cinco seis siete ocho nueve diez" // 10
    val docs = Seq(
      (3L, s"$run $mid $run"),
      (7L, "totally unrelated words that never repeat anywhere else today")
    ).toDF("doc_id", "text")
    // _apply misses it: both docs pass through token-identical
    val viaApply = Corpus.dedupSpansApplyOn(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaApply(3L) == 50L, "_apply keeps the within-doc repeat (by design)")
    val got = Corpus.dedupSpansExactOn(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // exact form: second occurrence (pos 31..50) excised as ONE run;
    // first occurrence + filler survive
    assert(got(3L) === ((50, 30L, 1L, s"$run $mid")))
    assert(got(7L) === ((9, 9L, 0L,
      "totally unrelated words that never repeat anywhere else today")))
  }

  test("dedup_spans_exact: okey packing fails loudly instead of wrapping") {
    // doc_id * 1e9 + p overflows Long for doc_id > ~9.2e9; silent
    // wrap would corrupt owner selection IDENTICALLY in the oracle
    // (same arithmetic), so the hash gate can't catch it — the guard
    // must raise instead
    val run = ('a' to 't').map(c => s"big$c").mkString(" ") // 20 toks
    val docs = Seq((10000000000L, run)).toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      Corpus.dedupSpansExactOn(docs).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("okey packing")),
      s"expected the packing guard, got: $ex")
    // in-range ids still flow
    val ok = Corpus.dedupSpansExactOn(
      Seq((9223372035L, run)).toDF("doc_id", "text")).collect()
    assert(ok.length == 1 && ok.head.getLong(2) == 20L)
  }

  test("dedup_spans_exact: periodic run collapses to its first SpanLen tokens") {
    // 45 repeats of one word: every window identical; owner protection
    // keeps exactly the first 20 tokens, the rest excise as one run
    val docs = Seq((1L, Seq.fill(45)("echo").mkString(" "))).toDF("doc_id", "text")
    val r = Corpus.dedupSpansExactOn(docs).collect().head
    assert((r.getInt(1), r.getLong(2), r.getLong(3)) === ((45, 20L, 1L)))
    assert(r.getString(4) == Seq.fill(20)("echo").mkString(" "))
  }

  test("dedup_spans_exact: cross-doc behavior matches _apply's keeper contract") {
    // same planted corpus as the _apply test — on cross-doc-only
    // duplication the two operators must agree on kept tokens
    val span = ('a' to 'y').map(c => s"shared$c").mkString(" ")
    val aTail = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bHead = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val docs = Seq(
      (1L, s"$span $aTail"),
      (5L, s"$bHead $span"),
      (9L, "totally unrelated words that never repeat anywhere else today")
    ).toDF("doc_id", "text")
    val got = Corpus.dedupSpansExactOn(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) === ((35, 35L, 0L, s"$span $aTail")))
    assert(got(5L) === ((35, 10L, 1L, bHead)))
    assert(got(9L) === ((9, 9L, 0L,
      "totally unrelated words that never repeat anywhere else today")))
  }

  test("quality_ppl_buckets: balanced per-lang terciles ordered head<=middle<=tail") {
    val rows = Corpus.qualityPplBuckets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, bs) =>
      assert(bs.map(_._2).sorted.toSeq == Seq(1, 2, 3), s"$lang buckets")
      // ntile balance: sizes differ by at most 1, earlier >= later
      val sz = bs.sortBy(_._2).map(_._4)
      assert(sz.max - sz.min <= 1 && sz.zip(sz.tail).forall(p => p._1 >= p._2),
        s"$lang sizes $sz")
      // fluency ordering: head has the lowest mean NLL
      val mn = bs.sortBy(_._2).map(_._5)
      assert(mn.zip(mn.tail).forall(p => p._1 <= p._2), s"$lang means $mn")
    }
    assert(rows.map(_._3).toSet == Set("head", "middle", "tail"))
  }

  test("drift_psi: PSI >= 0 for every source; all sources covered") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val nSources = docs.select("source").distinct().count()
    val rows = Corpus.driftPsi(spark, sfDir).collect()
    assert(rows.length === nSources)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0,
      s"${r.getString(0)}: psi=${r.getDouble(2)} < 0"))
  }

  test("drift_psi: a shifted source scores far above identically-distributed ones") {
    import spark.implicits._
    // a and b draw the same length histogram; c sits in disjoint buckets
    val mk = (src: String, lens: Seq[Int]) =>
      lens.zipWithIndex.map { case (len, i) => (src, i.toLong, len.toLong) }
    val lens = Seq.fill(40)(60) ++ Seq.fill(40)(120) ++ Seq.fill(20)(180)
    val shifted = Seq.fill(100)(520)
    // two identically-distributed sources: both PSIs ~0 (only the
    // Laplace smoothing keeps them off exact zero)
    val same = (mk("a", lens) ++ mk("b", lens))
      .toDF("source", "doc_id", "n_chars")
    val psiSame = Corpus.driftPsiOn(same).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(psiSame("a") === psiSame("b"))
    assert(psiSame("a") < 0.05, s"identical-dist psi=${psiSame("a")}")
    // add a wholesale-shifted source: it must dominate, and (because q
    // is the blended corpus-wide mix) it also drags a/b off zero —
    // PSI is per-source-vs-corpus, not per-source-vs-others
    val docs = (mk("a", lens) ++ mk("b", lens) ++ mk("c", shifted))
      .toDF("source", "doc_id", "n_chars")
    val psi = Corpus.driftPsiOn(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(psi("a") === psi("b"))
    // >= 1.0 on the shifted source — "significant drift" on any PSI rubric
    assert(psi("c") > 1.0, s"shifted psi=${psi("c")}")
    assert(psi("c") > psi("a"), s"shifted ${psi("c")} vs in-dist ${psi("a")}")
  }

  test("lm_score_gt ≡ sequential Good-Turing reference on sf0.001") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        "[^\\p{L}]+".r.split(r.getString(1)).filter(_.nonEmpty).toSeq)
      .filter(_._2.nonEmpty)
    val uni = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    val nr = uni.values.groupBy(identity)
      .map { case (r, v) => r -> v.size.toLong }
    val total = uni.values.sum.toDouble
    def cstar(r: Long): Double =
      if (r <= Corpus.GtK && nr.contains(r + 1))
        (r + 1).toDouble * nr(r + 1) / nr(r)
      else r.toDouble
    val ref = docs.map { case (id, ws) =>
      val nll = ws.map(w => -math.log(cstar(uni(w)) / total)).sum / ws.size
      id -> (ws.size.toLong, math.floor(nll * 10000 + 0.5) / 10000.0)
    }.toMap
    val got = Corpus.lmScoreGt(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == ref)
    // at this SF the synthetic 31-word vocab has no rare words — the
    // MLE fallback above the cutoff must carry everything
    assert(uni.values.forall(_ > Corpus.GtK))
  }

  test("lm_score_gt discount branches: adjusted singletons, N_{r+1}-gap and cutoff fallbacks") {
    // planted counts: a=7 (above GtK -> MLE), d,e=2 (N_3 absent -> MLE
    // fallback), b,c,f=1 with N_1=3, N_2=2 -> cstar(1) = 2*2/3 = 4/3
    val docs = Seq((1L, "a a a a a a a b c"), (2L, "d d e e f"))
      .toDF("doc_id", "text")
    val uni = Map("a" -> 7L, "b" -> 1L, "c" -> 1L, "d" -> 2L, "e" -> 2L,
      "f" -> 1L)
    val total = 14.0
    def cstar(r: Long): Double = if (r == 1L) 4.0 / 3 else r.toDouble
    val ref = Map(
      1L -> Seq("a", "a", "a", "a", "a", "a", "a", "b", "c"),
      2L -> Seq("d", "d", "e", "e", "f")
    ).map { case (id, ws) =>
      val nll = ws.map(w => -math.log(cstar(uni(w)) / total)).sum / ws.size
      id -> (ws.size.toLong, math.floor(nll * 10000 + 0.5) / 10000.0)
    }
    val got = Corpus.lmScoreGtOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == ref)
    // the discount genuinely moved the singleton estimate off MLE
    val mle = Map(
      1L -> Seq(7L, 7L, 7L, 7L, 7L, 7L, 7L, 1L, 1L),
      2L -> Seq(2L, 2L, 2L, 2L, 1L)
    ).map { case (id, rs) =>
      val nll = rs.map(r => -math.log(r / total)).sum / rs.size
      id -> math.floor(nll * 10000 + 0.5) / 10000.0
    }
    assert(got(1L)._2 != mle(1L) && got(2L)._2 != mle(2L))
  }

  test("lm_score_bigram ≡ sequential reference; sees word order unigram NLL cannot") {
    // planted: same unigram profile, different bigram orderliness
    val docs = Seq(
      (1L, "x y x y x y x y x y"),   // perfectly predictable bigrams
      (2L, "x x y y x y y x x y"),   // same tokens, scrambled order
      (3L, "a b c d e f g h i j")    // all-distinct token salad
    ).toDF("doc_id", "text")
    val got = Corpus.lmScoreBigramOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // sequential reference with the identical formula + rounding
    val tokss = Map(
      1L -> "x y x y x y x y x y".split(" ").toSeq,
      2L -> "x x y y x y y x x y".split(" ").toSeq,
      3L -> "a b c d e f g h i j".split(" ").toSeq)
    val uni = tokss.values.flatten.groupBy(identity).map { case (t, v) => t -> v.size }
    val n = uni.values.sum.toDouble
    val allBi = tokss.values.flatMap(ws => ws.zip(ws.tail)).toSeq
    val cb = allBi.groupBy(identity).map { case (b, v) => b -> v.size }
    val cc = allBi.groupBy(_._1).map { case (w, v) => w -> v.size }
    val ref = tokss.map { case (id, ws) =>
      val bis = ws.zip(ws.tail)
      val nll = bis.map { case (w1, w2) =>
        -math.log(Corpus.LmLam * cb((w1, w2)).toDouble / cc(w1)
          + Corpus.LmOneMinusLam * uni(w2).toDouble / n)
      }.sum / bis.size
      id -> (bis.size.toLong, math.floor(nll * 10000 + 0.5) / 10000.0)
    }
    assert(got === ref)
    // order sensitivity: predictable < scrambled (same unigram counts —
    // unigram NLL cannot separate these two docs, bigram NLL must)
    assert(got(1L)._2 < got(2L)._2)
    // (note: all-distinct doc 3 scores LOW here — singleton contexts
    // have cb/cc = 1, the known corpus-as-its-own-LM artifact; a held-
    // out LM would penalize it. The reference equality above covers it.)
    assert(got(3L)._1 === 9L)
  }

  test("lm_score_kn ≡ sequential Kneser-Ney reference; continuation beats raw frequency") {
    import spark.implicits._
    // "francisco" is FREQUENT but context-locked (only ever follows
    // "san"); "cat" is rarer but appears after two distinct contexts.
    val docs = Seq(
      (1L, "san francisco san francisco san francisco bay area"),
      (2L, "the cat sat on the mat a cat ran"),
      (3L, "alpha beta gamma delta alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
    val got = graft.queries.Corpus.lmScoreKnOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // sequential reference
    val toks = Map(
      1L -> "san francisco san francisco san francisco bay area",
      2L -> "the cat sat on the mat a cat ran",
      3L -> "alpha beta gamma delta alpha beta gamma epsilon")
      .view.mapValues(_.split(" ").toSeq).toMap
    val allBis = toks.toSeq.sortBy(_._1).flatMap { case (id, ws) =>
      ws.sliding(2).map(p => (id, (p(0), p(1)))).toSeq
    }
    val cb = allBis.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cc = allBis.groupBy(_._2._1).view.mapValues(_.size.toLong).toMap
    val n1f = cb.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1b = cb.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val bt = cb.size.toDouble
    val D = graft.queries.Corpus.KnD
    val ref = toks.map { case (id, ws) =>
      val bis = ws.sliding(2).map(p => (p(0), p(1))).toSeq
      val nll = bis.map { b =>
        -math.log(math.max(cb(b).toDouble - D, 0.0) / cc(b._1)
          + D / cc(b._1) * n1f(b._1) * (n1b(b._2) / bt))
      }
      id -> ((bis.size.toLong,
        math.floor(nll.sum / nll.size * 10000 + 0.5) / 10000.0))
    }
    assert(got === ref)
    // KN's continuation probability: "francisco" (freq 3, one context)
    // must carry LOWER Pcont than "cat" (freq 2, two contexts)
    assert(n1b(("francisco")) < n1b(("cat")))
  }

  test("lm_score_kn3 ≡ sequential trigram Kneser-Ney reference") {
    import spark.implicits._
    val texts = Map(
      1L -> "san francisco bay san francisco bay san francisco bay area",
      2L -> "the cat sat on the mat a cat ran over the mat",
      3L -> "alpha beta gamma delta alpha beta gamma epsilon beta gamma")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = graft.queries.Corpus.lmScoreKn3On(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val toks = texts.view.mapValues(_.split(" ").toSeq).toMap
    val tris = toks.toSeq.flatMap { case (_, ws) =>
      ws.sliding(3).map(t => (t(0), t(1), t(2))).toSeq }
    val bis = toks.toSeq.flatMap { case (_, ws) =>
      ws.sliding(2).map(p => (p(0), p(1))).toSeq }
    val ct = tris.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cc3 = tris.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
    val f3 = ct.keys.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
    val n1mid = ct.keys.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
    val n1mx = ct.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cbT = bis.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val f2 = cbT.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1b = cbT.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val bt = cbT.size.toDouble
    val D = graft.queries.Corpus.KnD
    val ref = toks.map { case (id, ws) =>
      val ts = ws.sliding(3).map(t => (t(0), t(1), t(2))).toSeq
      val nll = ts.map { t =>
        val pcont = math.max(n1mid((t._2, t._3)).toDouble - D, 0.0) / n1mx(t._2) +
          D / n1mx(t._2) * f2(t._2) * (n1b(t._3) / bt)
        -math.log(math.max(ct(t).toDouble - D, 0.0) / cc3((t._1, t._2))
          + D / cc3((t._1, t._2)) * f3((t._1, t._2)) * pcont)
      }
      id -> ((ts.size.toLong,
        math.floor(nll.sum / nll.size * 10000 + 0.5) / 10000.0))
    }
    assert(got === ref)
    // the heavily templated doc 1 is the most predictable at order 3
    assert(got(1L)._2 < got(2L)._2 && got(1L)._2 < got(3L)._2)
  }

  test("boilerplate: planted per-source header detected with share 1.0 and stripped cleanly") {
    val detect = Corpus.boilerplateDetect(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val sources = graft.core.Tables.documents(spark, sfDir)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    // every source's planted header is detected at share 1.0
    val headers = detect.filter(_._2.startsWith("begin standard header for source"))
    assert(headers.map(_._1).toSet === sources)
    headers.foreach { case (_, _, nDocs, nSrc, share) =>
      assert(nDocs === nSrc && share === 1.0)
    }
    detect.foreach { case (_, _, nDocs, _, _) => assert(nDocs >= Corpus.BoilMinDf) }

    val strip = Corpus.boilerplateStrip(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(strip.length === 500)
    strip.foreach { case (_, nSegs, nKept, clean) =>
      assert(nKept < nSegs, "the header segment must always be stripped")
      assert(!clean.contains("standard header for source"))
    }
    // when ONLY the header was boilerplate, the rewrite restores the
    // original document verbatim (single-space-normalized)
    val orig = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").filter(_.nonEmpty).mkString(" ")))
      .toMap
    val exactOnes = strip.filter { case (_, nSegs, nKept, _) => nKept == nSegs - 1 }
    assert(exactOnes.nonEmpty)
    exactOnes.foreach { case (id, _, _, clean) => assert(clean === orig(id)) }
  }

  test("dedup_paragraph drops repeated segments, keeps first occurrence, reassembles") {
    import spark.implicits._
    // 20-word segments: segA repeated verbatim in doc 2; segC unique.
    def seg(w: String) = (1 to graft.queries.Corpus.ParaSegLen).map(i => s"$w$i").mkString(" ")
    val (a, b, c) = (seg("a"), seg("b"), seg("c"))
    val docs = Seq(
      (1L, s"$a $b"),     // both segments first occurrences
      (2L, s"$a $c"),     // segment a is a dup; c survives
      (3L, a)             // entire doc is a dup → clean_text empty
    ).toDF("doc_id", "text")
    val got = graft.queries.Corpus.dedupParagraphOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 2L, s"$a $b")))
    assert(got(2L) === ((2L, 1L, c)))
    assert(got(3L) === ((1L, 0L, "")))
    // a short trailing segment is its own unit, not merged
    val tail = graft.queries.Corpus.dedupParagraphOn(
        Seq((7L, s"$a extra words")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(tail === ((2L, 2L, s"$a extra words")))
  }

  test("lmGenerate: every chain step follows the exact argmax successor") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val tok = (t: String) => t.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
    val bi = docs.flatMap(t => tok(t).sliding(2).collect { case Seq(a, b) => (a, b) })
      .groupBy(identity).view.mapValues(_.length).toMap
    val succ = bi.keys.groupBy(_._1).view.mapValues { ps =>
      ps.map(p => (p._2, bi(p))).toSeq.minBy { case (w2, c) => (-c, w2) }._1
    }.toMap
    val uni = docs.flatMap(tok).groupBy(identity).view.mapValues(_.length).toSeq
    val seeds = uni.sortBy { case (w, c) => (-c, w) }.take(3).map(_._1)
    val expect = seeds.flatMap { s0 =>
      Iterator.iterate(Option(s0))(w => w.flatMap(succ.get))
        .take(Corpus.GenSteps + 1).zipWithIndex
        .collect { case (Some(w), i) => (s0, i, w) }
    }.toSet
    val got = Corpus.lmGenerate(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got === expect && got.nonEmpty)
  }

  test("corpusDigest: any single-doc edit flips exactly its source's digest") {
    val base = Corpus.corpusDigest(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // recompute in Scala from first md5 48 bits — digest is pure content
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def h48(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(
        t.getBytes("UTF-8"))
      md.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val expect = docs.groupBy(_._1).map { case (s, rs) =>
      s -> (rs.length.toLong, rs.map(r => h48(r._2)).reduce(_ ^ _))
    }
    assert(base === expect)
  }
}
