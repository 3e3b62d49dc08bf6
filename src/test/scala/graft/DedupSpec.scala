package graft

import org.apache.spark.sql.functions._
import graft.queries.{Cluster, Dedup}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tomorrow")
  private val distinct1 = "completely different words about spark catalyst optimizer internals"
  private val corpus = Seq(
    (0L, base), (1L, nearDup), (2L, distinct1),
    (3L, base), // exact dup of 0
    (4L, "tiny doc"), (5L, ""))
    .toDF("doc_id", "text")

  test("WordShingles expression matches declarative shingle chain") {
    val native = corpus
      .select(col("doc_id"), expr("word_shingles(text)").as("sh"))
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val declarative = corpus
      .select(col("doc_id"), Dedup.tokensCol(col("text")).as("ws"))
      .select(col("doc_id"), array_sort(DeclarativeTwins.shinglesFromTokens(col("ws"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native === declarative)
    assert(native(5L).isEmpty && native(4L).isEmpty) // <3 words → no shingles
  }

  test("MinHashBuckets expression matches declarative minhash formulation") {
    val sh = corpus.filter(col("doc_id") < 3)
      .select(col("doc_id"), expr("word_shingles(text)").as("sh"))
    val buckets = sh.select(col("doc_id"), expr("minhash_buckets(sh)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // The declarative md5/mod-P formulation shares every constant with
    // the native expression — buckets must be IDENTICAL, not just
    // collision-compatible (this is also what makes the DuckDB oracle
    // chain a bit-for-bit mirror).
    val declarative = sh.select(col("doc_id"), DeclarativeTwins.minhashBuckets(col("sh")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(buckets === declarative)
    assert(buckets(0L).size === Dedup.Bands)
    assert(buckets(0L) !== buckets(2L))
    // near-dup docs share most shingles → at least one band collides
    assert(buckets(0L).zip(buckets(1L)).count { case (a, b) => a == b } >= 1)
  }

  test("minhashPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap((0L, 3L)) === 1.0, "exact dup must have jaccard 1.0")
    assert(asMap.contains((0L, 1L)) && asMap((0L, 1L)) > 0.5, "near dup found")
    assert(!asMap.contains((0L, 2L)) || asMap((0L, 2L)) < 0.2, "unrelated not near-dup")
  }

  test("b-bit minhash: exact dups 48/48 bits; estimator tracks exact jaccard") {
    val rows = Dedup.dedupMinhashBbitOn(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // exact dup: identical signatures → all 48 bits agree, R̂ = 1
    val (m03, est03, jac03) = rows((0L, 3L))
    assert(m03 == Dedup.NumHashes && est03 == 1.0 && jac03 == 1.0)
    // near dup: high agreement; the b=1 estimator sits within the
    // binomial band of the exact jaccard (k = 48 ⇒ sd of R̂ ≈
    // 2·sqrt(p(1−p)/48) ≈ 0.14 at p ≈ 0.9 — allow 3σ)
    val (m01, est01, jac01) = rows((0L, 1L))
    assert(m01 > Dedup.NumHashes / 2, s"near-dup agreement $m01")
    assert(math.abs(est01 - jac01) < 0.45, s"estimate $est01 vs exact $jac01")
    // estimates are clamped to [0, 1]
    rows.values.foreach { case (m, est, _) =>
      assert(m >= 0 && m <= Dedup.NumHashes && est >= 0.0 && est <= 1.0)
    }
  }

  test("minhash candidates agree with exact ngram ground truth on near-dups") {
    val exact = Dedup.ngramPairs(corpus)
      .filter(col("jac") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(corpus)
      .filter(col("jac") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === exact, "minhash must recover all high-jaccard pairs here")
  }

  test("dedupTfidf: exact/reordered copies hit cos 1.0, disjoint docs absent, rare overlap outranks common overlap") {
    // exact copy pair → cosine exactly 1.0 (identical weight vectors)
    val out = Dedup.dedupTfidfOn(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out((0L, 3L)) === 1.0)
    // disjoint-vocabulary doc shares no shingle with anything → no pair
    assert(!out.keySet.exists { case (a, b) => a == 2L || b == 2L })
    // weighting: two pairs with the SAME shared-shingle count, but one
    // shares a corpus-rare phrase (df=2) and the other a phrase planted
    // in many docs (df high → idf near the floor). tf-idf must rank the
    // rare-overlap pair strictly higher; unweighted Jaccard ties them.
    import spark.implicits._
    // filler uniqueness must be LETTERS: the tokenizer splits on
    // non-letter runs, so "unique$i" would collapse to one token and
    // make all fillers exact dups (flooding the top-50 with 1.0 pairs)
    val filler = (0 until 20).map { i =>
      val t = ('a' + i).toChar
      (100L + i, s"common boilerplate phrase here plus u$t v$t w$t")
    }
    val planted = Seq(
      // rare pair: shares 3 shingles, all corpus-rare (df 2)
      (10L, "alpha beta gamma delta epsilon xxa"),
      (11L, "alpha beta gamma delta epsilon yyb"),
      // common pair: also shares 3 shingles, but 2 of them are planted
      // in every filler doc (df 22 → idf near the floor)
      (12L, "common boilerplate phrase here also zza"),
      (13L, "common boilerplate phrase here also qqb")) ++ filler
    val p = Dedup.dedupTfidfOn(planted.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val (nRare, cosRare) = p((10L, 11L))
    val cosCommon = p.get((12L, 13L)).map(_._2).getOrElse(0.0)
    assert(nRare === 3L)
    assert(cosRare > cosCommon,
      s"rare-phrase overlap ($cosRare) must outrank boilerplate overlap ($cosCommon)")
  }

  test("dedupTfidfSimhash: exact dups hamming 0 / cos 1.0; the hamming≤3 pigeonhole guarantee holds on sf0.001") {
    val out = Dedup.dedupTfidfSimhashOn(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(4))).toMap
    // exact copies: identical integer signatures → hamming 0, cos 1.0
    assert(out((0L, 3L)) === ((0, 1.0)))
    // sf0.001: DETERMINISTIC recall contract — every exact-form pair
    // whose signature hamming is ≤ 3 has ≥ 3 clean blocks, so some
    // 3-block key collides and the pair MUST be in the LSH output,
    // with the identical quantized cosine (the Manku pigeonhole; pairs
    // beyond hamming 3 are best-effort by design and not asserted)
    val docs = graft.core.Tables.documents(spark, sfDir)
    val blk = Dedup.tfidfBlocks(Dedup.tfidfPostings(Dedup.tfidfByTerm(docs)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def hamming(a: Long, b: Long): Int =
      blk(a).zip(blk(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val lsh = Dedup.dedupTfidfSimhashOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(4))).toMap
    val ex = Dedup.dedupTfidfOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val guaranteed = ex.filter { case ((a, b), _) => hamming(a, b) <= 3 }
    assert(guaranteed.nonEmpty, "sf0.001 must plant some hamming≤3 pairs")
    guaranteed.foreach { case (k, v) =>
      assert(lsh.get(k).map(_._2).contains(v),
        s"pair $k (hamming ${hamming(k._1, k._2)}): exact cos $v, lsh ${lsh.get(k)}")
    }
    // the output's hamming column must equal the signature recompute
    lsh.foreach { case ((a, b), (h, _)) => assert(h === hamming(a, b)) }
  }

  test("simhash: identical docs hamming 0, near-dups close, unrelated far") {
    val sims = corpus.filter(length(col("text")) > 0)
      .select(col("doc_id"), expr(Dedup.simhashSql("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) === sims(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(0L), sims(1L)) < hamming(sims(0L), sims(2L)))
  }

  test("dedupSimhash: group+expand candidate gen — no join anywhere in the plan") {
    val q = Dedup.dedupSimhash(spark, sfDir)
    val joins = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty,
      "simhash candidates must come from one group-by-(chunk,ckey) expansion; " +
        "the simhash rides in the bucket structs so no verify join is needed")
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getInt(2) <= 12))
  }

  test("dedupSimhash equals the self-join formulation it replaced") {
    // reference: the old chunk self-join, same threshold/order/limit
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(Dedup.simhashSql("text")).as("simhash"))
    val chunks = docs.select(col("doc_id"), col("simhash"),
      posexplode_outer(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc_id", "simhash", "chunk", "ckey")
    val ref = chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ckey") === col("y.ckey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= 12)
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val got = Dedup.dedupSimhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got === ref)
  }

  test("hot-shingle cap: a planted 1000-copy doc cannot flood one task with k²/2 pairs") {
    // 1000 identical docs share every shingle → df 1000 > HotShingleCap
    // → the capped baseline emits NO pairs for them (identical docs are
    // dedup_exact's job); a genuine near-dup pair below the cap keeps
    // its edge with its Jaccard intact.
    val flood = (0 until 1000).map(i => (1000L + i,
      "mass duplicated boilerplate text repeated verbatim across the corpus many many times over"))
    val planted = Seq((1L, base), (2L, nearDup))
    val df = (planted ++ flood).toDF("doc_id", "text")
    val scored = Dedup.ngramScored(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(scored.forall(p => p._1 < 1000L && p._2 < 1000L),
      s"flooded docs must produce no pairs, got ${scored.length} rows")
    assert(scored.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.5),
      "the sub-cap near-dup pair survives")
  }

  test("incrementalNew keeps exactly the batch docs absent from the corpus") {
    val batch = Seq((0L, "alpha doc text"), (5L, "beta doc text"), (10L, "gamma doc text"))
      .toDF("doc_id", "text")
    val corp = Seq((1L, "alpha doc text"), (2L, "zeta doc text"), (3L, "alpha doc text"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(batch, corp)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(5L, 10L)) // "alpha doc text" already in corpus
  }

  test("dedup_incremental ≡ naive NOT-IN on sf0.001") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val corpusTexts = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("text")).distinct()
    val naive = docs.filter(col("doc_id") % 5 === 0)
      .join(corpusTexts, Seq("text"), "left_anti")
      .select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val got = Dedup.dedupIncremental(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(got === naive && got.nonEmpty)
  }

  test("incrementalNearNew drops exact AND near corpus dups, keeps intra-batch dups") {
    // batch: 0 = exact dup of corpus, 5 = near-dup of corpus, 10 = fresh,
    // 15/20 = near-dups of EACH OTHER but not of any corpus doc (must
    // both survive — this operator only answers "new vs corpus")
    val freshA = "completely novel content about adaptive query execution and shuffle partition coalescing strategies"
    val freshB = "another unrelated passage on columnar encodings dictionary compression and run length schemes here"
    val batch = Seq(
      (0L, base), (5L, base.replace("today", "tomorrow")), (10L, freshA),
      (15L, freshB), (20L, freshB.replace("here", "now"))
    ).toDF("doc_id", "text")
    val corp = Seq((1L, base), (2L, distinct1)).toDF("doc_id", "text")
    val kept = Dedup.incrementalNearNew(batch, corp, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(10L, 15L, 20L))
  }

  test("dedup_incremental_minhash ⊆ dedup_incremental and agrees with exact cross-Jaccard on sf0.001") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corp = docs.filter(col("doc_id") % 5 =!= 0)
    val exactNew = Dedup.incrementalNew(batch, corp)
      .collect().map(_.getLong(0)).toSet
    // ground truth: exact Jaccard over ALL cross pairs (cross join is
    // fine at sf0.001), near-dup iff jac >= 0.6
    val bs = batch.select(col("doc_id"), expr("word_shingles(text)").as("sa"))
      .filter(size(col("sa")) > 0)
    val cs = corp.select(col("doc_id").as("cid"), expr("word_shingles(text)").as("sb"))
      .filter(size(col("sb")) > 0)
    val nearIds = bs.crossJoin(cs)
      .select(col("doc_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb"))))).as("jac"))
      .filter(col("jac") >= 0.6)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = exactNew -- nearIds
    val got = Dedup.dedupIncrementalMinhash(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(got === expected && got.nonEmpty)
  }

  test("similarityJoin = exhaustive cross-Jaccard at tau (exact, planted + sf0.001)") {
    def groundTruth(docs: org.apache.spark.sql.DataFrame, tau: Double): Set[(Long, Long)] = {
      val sh = docs.select(col("doc_id"), expr("word_shingles(text)").as("sh"))
        .filter(size(col("sh")) > 0)
      sh.as("x").crossJoin(sh.as("y"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          (size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
            (size(col("x.sh")) + size(col("y.sh")) -
              size(array_intersect(col("x.sh"), col("y.sh"))))).as("jac"))
        .filter(col("jac") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // planted: exact dup, near dup straddling the threshold, shared
    // boilerplate shingle across unrelated docs (hot-token stress)
    val boiler = "all rights reserved copyright notice applies"
    val planted = Seq(
      (1L, base), (2L, base), (3L, nearDup), (4L, distinct1),
      (5L, s"$base $boiler"), (6L, s"$distinct1 $boiler"),
      (7L, "one two three four five six seven eight nine ten"),
      (8L, "one two three four five six seven eight nine eleven"))
      .toDF("doc_id", "text")
    val gotPlanted = Dedup.similarityJoin(planted, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPlanted === groundTruth(planted, 0.5))
    val sf = graft.core.Tables.documents(spark, sfDir).select("doc_id", "text")
    val gotSf = Dedup.dedupSimilarityJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = groundTruth(sf, Dedup.SimJoinTau)
    assert(gotSf === truth && gotSf.nonEmpty)
  }

  test("dedupEval: counts consistent, truth cross-checked, high recall at 0.6 (sf0.001)") {
    val r = Dedup.dedupEval(spark, sfDir).collect()
    assert(r.length === 1)
    val row = r.head
    val (nTruth, nCand, nHit) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nHit <= nTruth && nHit <= nCand)
    // truth count = independent exact recount at the same threshold
    val docs = graft.core.Tables.documents(spark, sfDir)
    val expTruth = Dedup.ngramScored(docs).filter(col("jac") >= 0.6).count()
    assert(nTruth === expTruth && nTruth > 0)
    // the 16×3 band layout has ~1.0 hit probability at jac ≥ 0.6 —
    // the audit must report full recall on this corpus
    assert(row.getDouble(3) === 100.0, s"recall ${row.getDouble(3)}")
    assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 100.0)
  }

  test("containment catches a planted excerpt that Jaccard misses") {
    val small = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    // letters-only filler vocabulary (the tokenizer drops digits)
    val filler = (0 until 120)
      .map(i => ('a' + i % 26).toChar.toString * (3 + i / 26)).mkString(" ")
    val planted = Seq(
      (0L, small),                     // the excerpt
      (1L, s"$small $filler"),         // superset: excerpt fully embedded
      (2L, filler))                    // unrelated large doc
      .toDF("doc_id", "text")
    val full = Dedup.ngramScoredFull(planted)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / least(col("na"), col("nb"))).as("cont"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jac"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3))))
      .toMap
    val (cont, jac) = full((0L, 1L))
    assert(cont === 1.0, s"excerpt containment $cont")
    assert(jac < 0.2, s"jaccard should be low for the size-skewed pair: $jac")
  }

  test("containment sketch: guaranteed-regime planted excerpt + sf0.001 ≡ exact form") {
    // |B| − k < m regime: superset has 38 shingles, sketch k = 32, the
    // 8-shingle excerpt overlaps fully → a shared hash MUST land in
    // both sketches, so the candidate is structural, not probabilistic
    val small = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val filler = (0 until 30)
      .map(i => ('a' + i % 26).toChar.toString * (3 + i / 26)).mkString(" ")
    val planted = Seq((0L, small), (1L, s"$small $filler"), (2L, filler))
      .toDF("doc_id", "text")
    val got = Dedup.containmentSketchPairs(planted).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.contains((0L, 1L)) && got((0L, 1L)) === 1.0)

    // real-corpus: sketch path reproduces the exact top-50 exactly
    val docs = graft.core.Tables.documents(spark, sfDir)
    val exact = Dedup.dedupContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val sketch = Dedup.containmentSketchPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(sketch === exact && sketch.nonEmpty)
  }

  test("dedupExact groups by content hash (registered query, sf0.001)") {
    val df = Dedup.dedupExact(spark, sfDir)
    val n = df.count()
    assert(n > 0)
    assert(df.filter(col("n_copies") < 1).count() === 0)
    assert(df.agg(sum("n_copies")).first().getLong(0) === 500)
  }

  test("decontaminateReport ≡ Scala recompute; consistent with decontaminate") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val w = t.split("[^\\p{L}]+").filter(_.nonEmpty)
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set.empty
    }
    val bench = docs.filter(_._1 < 20).map { case (id, t) => id -> shingles(t) }
    val corpus = docs.filter(_._1 >= 20).map { case (id, t) => id -> shingles(t) }
    val expect = bench.map { case (bid, bs) =>
      val overlaps = corpus.map { case (cid, cs) => cid -> (bs & cs).size }
        .filter(_._2 > 0)
      bid -> (overlaps.length.toLong, overlaps.map(_._2.toLong).sum)
    }.toMap
    val got = Dedup.decontaminateReport(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expect)
    // the corpus docs decontaminate flags are exactly those with a hit here
    val flagged = Dedup.decontaminate(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val reachable = corpus.filter { case (_, cs) =>
      bench.exists { case (_, bs) => (bs & cs).nonEmpty }
    }.map(_._1).toSet
    assert(flagged === reachable)
  }

  test("dedupSavings ≡ Scala recompute; accounting identities hold") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val groups = docs.groupBy(_._1).values.map(g => (g.length, g.map(_._2).sum, g.head._2))
    val r = Dedup.dedupSavings(spark, sfDir).collect().head
    assert(r.getLong(0) === groups.size.toLong)
    assert(r.getLong(1) === docs.length.toLong)
    assert(r.getLong(2) === groups.count(_._1 > 1).toLong)
    assert(r.getLong(3) === groups.map(g => g._1 - 1).sum.toLong)
    assert(r.getLong(4) === docs.map(_._2).sum)
    assert(r.getLong(5) === groups.map(g => (g._1 - 1) * g._3).sum)
    // identity: docs = groups + dup docs
    assert(r.getLong(1) === r.getLong(0) + r.getLong(3))
  }

  test("dedup_bucket_stats invariants: every band hashes every doc once") {
    val nDocs = graft.core.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions
        .expr("size(word_shingles(text)) > 0"))
      .count()
    val got = Dedup.dedupBucketStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length == Dedup.Bands)
    got.foreach { case (band, nBuckets, nd, maxB, nSingle, nPairs) =>
      assert(nd == nDocs, s"band $band docs $nd != $nDocs")
      assert(nBuckets <= nd && maxB >= 1 && nSingle <= nBuckets)
      assert(nPairs >= maxB * (maxB - 1) / 2, s"band $band pair budget")
      assert((maxB == 1) == (nPairs == 0))
    }
  }

  test("ngram_novelty equals first-occurrence set algebra") {
    val sh = Dedup.shingleDocs(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty).toMap
    val first = scala.collection.mutable.Map.empty[String, Long]
    sh.toSeq.sortBy(_._1).foreach { case (id, ss) =>
      ss.foreach(g => if (!first.contains(g) || first(g) > id) first(g) = id)
    }
    val got = Dedup.ngramNovelty(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == sh.size)
    sh.foreach { case (id, ss) =>
      val novel = ss.count(first(_) == id).toLong
      val (n, nv, micro) = got(id)
      assert(n == ss.size && nv == novel, s"doc $id")
      assert(micro == novel * 1000000L / ss.size)
    }
    // the first document is 100% novel by construction
    val firstDoc = sh.keys.min
    assert(got(firstDoc)._3 == 1000000L)
  }

  test("dedup_cross_source matrix equals digest set algebra") {
    val dg = graft.core.Tables.documents(spark, sfDir)
      .select(col("source"),
        org.apache.spark.sql.functions.sha2(col("text"), 256)).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = dg.groupBy(_._1).map { case (s0, g) => s0 -> g.map(_._2).toSet }
    val srcs = sets.keys.toSeq.sorted
    val got = Dedup.dedupCrossSource(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size == srcs.size * (srcs.size - 1) / 2)
    for (a <- srcs; b <- srcs if a < b) {
      val shared = (sets(a) & sets(b)).size.toLong
      val (gs, na, nb, jac) = got((a, b))
      assert(gs == shared, s"($a,$b)")
      assert(na == sets(a).size && nb == sets(b).size)
      assert(jac == shared * 1000000L / (na + nb - shared))
    }
  }

  test("source_overlap_shingles equals shingle set algebra (asymmetric containment)") {
    def toks(t: String): Seq[String] =
      "[^\\p{L}]+".r.split(t).filter(_.nonEmpty).toSeq
    def shingles(t: String): Set[String] = {
      val w = toks(t)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = docs.groupBy(_._1).map { case (s0, g) =>
      s0 -> g.map(d => shingles(d._2)).reduce(_ ++ _)
    }
    val srcs = sets.keys.toSeq.sorted
    val got = Dedup.sourceOverlapShingles(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == srcs.size * (srcs.size - 1))
    for (a <- srcs; b <- srcs if a != b) {
      val shared = (sets(a) & sets(b)).size.toLong
      val (na, gs, cm) = got((a, b))
      assert(na == sets(a).size && gs == shared, s"($a,$b)")
      assert(cm ==
        math.floor(shared.toDouble * 1e6 / sets(a).size + 0.5).toLong)
    }
    // asymmetry is structural: containment(a,b) and (b,a) share the
    // numerator but not the denominator
    val anyPair = (for (a <- srcs; b <- srcs if a != b) yield (a, b)).head
    val (x, y) = anyPair
    assert(got((x, y))._2 == got((y, x))._2)
  }

  /** The join-both-shingle-sides verify `minhashScored` used before it
    * verified candidate documents only: shingle and drop empty docs,
    * take the LSH candidates, fetch each side's set by doc id, score.
    */
  private def joinBothSidesScored(docs: org.apache.spark.sql.DataFrame,
      minJac: Double): org.apache.spark.sql.DataFrame = {
    val sh = docs.select(col("doc_id"), expr("word_shingles(text)").as("sh"))
      .filter(size(col("sh")) > 0)
    val cand = Dedup.minhashCandidateSizes(sh)
      .filter(col("nmin").cast("double") >= lit(minJac) * col("nmax"))
    cand.select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("common"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jac"))
  }

  private def scoredRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Seeded corpus: `groups` planted groups of an 80-word original and
    * two copies with 2 of their words redrawn, `singles` unrelated
    * 40-word docs, and `short` docs of 0-2 words (no shingles).
    */
  private def plantedCorpus(groups: Int, singles: Int, short: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    // letters only: the tokenizer splits on every non-letter
    val vocab = Array.tabulate(3000)(i =>
      Seq(i / 676, i / 26 % 26, i % 26).map(d => ('a' + d).toChar).mkString("w", "", ""))
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val planted = (0 until groups).flatMap { g =>
      val orig = words(80)
      (0 until 3).map { c =>
        val w = orig.clone()
        if (c > 0) (0 until 2).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
        w.mkString(" ")
      }
    }
    val texts = planted ++ (0 until singles).map(_ => words(40).mkString(" ")) ++
      (0 until short).map(i => words(i % 3).mkString(" "))
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("minhashScored on a corpus of mostly sub-3-word docs: empty docs never pair or share a bucket") {
    val groups = 12
    val docs = plantedCorpus(groups = groups, singles = 60, short = 300)
    val withText = docs.filter(size(split(col("text"), " ")) >= 3)
    val longIds = withText.select("doc_id").as[Long].collect().toSet
    assert(longIds.size == groups * 3 + 60)
    // empty shingle sets get no band buckets at all
    val shAll = docs.select(col("doc_id"), expr("word_shingles(text)").as("sh"))
    val emptyBuckets = shAll.filter(size(col("sh")) === 0)
      .select(size(expr("minhash_buckets(sh)"))).as[Int].collect()
    assert(emptyBuckets.length == 300 && emptyBuckets.forall(_ == 0))
    // candidates: the 300 short docs add none (sharing one bucket would
    // add C(300, 2) = 44850 pairs)
    val candAll = Dedup.minhashCandidateSizes(shAll).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val candLong = Dedup.minhashCandidateSizes(shAll.filter(size(col("sh")) > 0))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(candAll === candLong)
    assert(candAll.size < 10 * groups * 3, s"${candAll.size} candidates")
    val scored = scoredRows(Dedup.minhashScored(docs))
    assert(scored.forall { case (a, b, _) => longIds(a) && longIds(b) })
    // every planted pair verifies (2 of 80 words redrawn per copy)
    val edges = scoredRows(Dedup.minhashScored(docs, 0.6).filter(col("jac") >= 0.6))
    val edgePairs = edges.map { case (a, b, _) => (a, b) }
    (0 until groups).foreach { g =>
      val ids = (0 until 3).map(c => (g * 3 + c).toLong)
      for (a <- ids; b <- ids if a < b) assert(edgePairs((a, b)), s"planted pair ($a, $b)")
    }
    assert(edges === scoredRows(joinBothSidesScored(docs, 0.6).filter(col("jac") >= 0.6)))
  }

  test("candidate-only verify ≡ the join-both-sides formulation (sf0.001 + planted)") {
    val sf = graft.core.Tables.documents(spark, sfDir)
    Seq(sf -> "sf0.001", plantedCorpus(groups = 10, singles = 40, short = 20) -> "planted")
      .foreach { case (docs, name) =>
        val shingled = docs.select(col("doc_id"), expr("word_shingles(text)").as("sh"))
        Seq(0.0, 0.6).foreach { minJac =>
          val expected = scoredRows(joinBothSidesScored(docs, minJac))
          assert(expected.nonEmpty, s"$name: no candidates")
          assert(scoredRows(Dedup.minhashScored(docs, minJac)) === expected, s"$name minhashScored($minJac)")
          assert(scoredRows(Dedup.minhashScoredFromShingles(shingled, minJac)) === expected,
            s"$name minhashScoredFromShingles($minJac)")
        }
      }
  }

  /** The message chain of the failure `df` raises when collected. */
  private def failure(df: => org.apache.spark.sql.DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
  }

  /** `word_shingles` of every row, as Scala sets keyed by doc id. */
  private def shingleSets(docs: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] = {
    docs.select(col("doc_id"), expr("word_shingles(text)")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP at 4 decimals. */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("a repeated doc_id fails every shingle-set verify, naming the pair") {
    // doc 1 holds two texts: each verify group that contains doc 1
    // would regroup three sets, and comparing two of them scored the
    // exact copies 2 and 3 as 0.0 — so neither edge formed
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val b = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val docs = Seq((1L, a), (1L, b), (2L, a), (3L, b)).toDF("doc_id", "text")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashScored" -> (() => Dedup.minhashScored(docs)),
      "dedupKeepFrom" -> (() => Cluster.dedupKeepFrom(docs,
        Dedup.minhashScored(docs, 0.6).filter(col("jac") >= 0.6).select("doc_a", "doc_b"))),
      "similarityJoin" -> (() => Dedup.similarityJoin(docs, 0.6)),
      "containmentSketchPairs" -> (() => Dedup.containmentSketchPairs(docs)),
      "dedupMinhashBbitOn" -> (() => Dedup.dedupMinhashBbitOn(docs))
    ).foreach { case (name, df) =>
      val msg = failure(df())
      assert(msg.contains("a doc_id repeats") && "\\(1, [23]\\)".r.findFirstIn(msg).isDefined,
        s"$name: $msg")
    }
  }

  test("exact copies under distinct doc_ids pass every guarded verify at full score") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val b = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    val docs = Seq((1L, a), (2L, a), (3L, b), (4L, b)).toDF("doc_id", "text")
    val copies = Set((1L, 2L), (3L, 4L))
    assert(scoredRows(Dedup.minhashScored(docs)) === copies.map { case (x, y) => (x, y, 1.0) })
    assert(scoredRows(Dedup.similarityJoin(docs, 0.6)) === copies.map { case (x, y) => (x, y, 1.0) })
    val cont = Dedup.containmentSketchPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(cont === copies.map { case (x, y) => (x, y, 1.0, 1.0) })
    val bbit = Dedup.dedupMinhashBbitOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bbit === copies.map { case (x, y) => (x, y, Dedup.NumHashes.toLong) })
    val kept = Cluster.dedupKeepFrom(docs,
      Dedup.minhashScored(docs, 0.6).filter(col("jac") >= 0.6).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(kept.sorted === Seq(1L -> 2L, 3L -> 2L))
  }

  test("a doc_id repeated with identical text also fails the guarded verify") {
    // every set in doc 1's groups is equal, so an unguarded verify
    // scores 1.0 and looks right, while dedupKeepFrom keeps doc 1 twice
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq((1L, a), (1L, a), (2L, a)).toDF("doc_id", "text")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashScored" -> (() => Dedup.minhashScored(docs)),
      "dedupKeepFrom" -> (() => Cluster.dedupKeepFrom(docs,
        Dedup.minhashScored(docs, 0.6).filter(col("jac") >= 0.6).select("doc_a", "doc_b"))),
      "similarityJoin" -> (() => Dedup.similarityJoin(docs, 0.6)),
      "containmentSketchPairs" -> (() => Dedup.containmentSketchPairs(docs)),
      "dedupMinhashBbitOn" -> (() => Dedup.dedupMinhashBbitOn(docs))
    ).foreach { case (name, df) =>
      val msg = failure(df())
      assert(msg.contains("a doc_id repeats") && "\\(1, [12]\\)".r.findFirstIn(msg).isDefined,
        s"$name: $msg")
    }
  }

  test("minhashScoredFromShingles, the pipelines' verify, fails on a repeated doc_id") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val b = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val shingled = Seq((1L, a), (1L, b), (2L, a), (3L, b)).toDF("doc_id", "text")
      .select(col("doc_id"), expr("word_shingles(text)").as("sh"))
    Seq(0.0, 0.6).foreach { minJac =>
      val msg = failure(Dedup.minhashScoredFromShingles(shingled, minJac))
      assert(msg.contains("a doc_id repeats") && "\\(1, [23]\\)".r.findFirstIn(msg).isDefined,
        s"minJac $minJac: $msg")
    }
  }

  test("containment sketch verify: cont = common / least(na, nb) in either id order (Scala set recompute)") {
    // every doc has at most ContainK shingles, so each sketch is the
    // whole set and every overlapping pair is a candidate
    val small = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val filler = "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor"
    val docs = Seq(
      (1L, s"$small $filler"),                            // the superset holds the smaller id
      (2L, small),                                        // cont 1.0 over nb
      (3L, s"$filler whiskey xray"),                      // cont 10/12 over nb
      (4L, "alpha bravo charlie delta echo zulu yankee"), // cont 3/5: under ContainTau
      (5L, "one two three four five six"))
      .toDF("doc_id", "text")
    val sets = shingleSets(docs)
    assert(sets.values.forall(_.size <= Dedup.ContainK))
    val expected = (for {
      (x, sx) <- sets; (y, sy) <- sets if x < y
      common = (sx & sy).size if common > 0
      cont = common.toDouble / math.min(sx.size, sy.size) if cont >= Dedup.ContainTau
    } yield (x, y, round4(cont), round4(common.toDouble / (sx.size + sy.size - common)))).toSet
    val got = Dedup.containmentSketchPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got === expected)
    assert(got.map(t => (t._1, t._2, t._3)) === Set((1L, 2L, 1.0), (1L, 3L, round4(10.0 / 12))))
  }

  test("b-bit verify: bit_matches equals a Scala recompute of the 48 low signature bits") {
    val p = 2147483647L
    def hashOf(x: String): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
      java.lang.Long.parseLong(md5.map(b => f"$b%02x").mkString.take(12), 16) % p
    }
    // the low bit of each of the 48 hash minima, the first hash's bit most significant
    def mask(sh: Set[String]): Long = {
      val hs = sh.toSeq.map(hashOf)
      (0 until Dedup.NumHashes).foldLeft(0L) { (m, i) =>
        val (a, b) = (2L * i + 1, (2654435761L * (i + 1)) % p)
        m * 2 + hs.foldLeft(p)((acc, h) => math.min(acc, (a * h + b) % p)) % 2
      }
    }
    val docs = plantedCorpus(groups = 4, singles = 8, short = 2)
    val sets = shingleSets(docs)
    val rows = Dedup.dedupMinhashBbitOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length >= 12)
    assert(rows.exists(_._3 < Dedup.NumHashes), "no pair disagrees on any bit")
    rows.foreach { case (x, y, m, est, jac) =>
      val (sx, sy) = (sets(x), sets(y))
      val common = (sx & sy).size
      val want = Dedup.NumHashes - java.lang.Long.bitCount(mask(sx) ^ mask(sy))
      assert(m === want, s"($x, $y)")
      assert(est === round4(math.max(0.0, 2.0 * want / Dedup.NumHashes - 1.0)), s"($x, $y)")
      assert(jac === round4(common.toDouble / (sx.size + sy.size - common)), s"($x, $y)")
    }
  }

  test("similarityJoin scores equal rounded Scala-set Jaccard; tau 1.0 keeps exactly the exact copies") {
    val docs = plantedCorpus(groups = 4, singles = 10, short = 3)
      .union(Seq((1000L, base), (1001L, base), (1002L, nearDup)).toDF("doc_id", "text"))
    val sets = shingleSets(docs).filter(_._2.nonEmpty)
    def truth(tau: Double): Set[(Long, Long, Double)] = (for {
      (x, sx) <- sets; (y, sy) <- sets if x < y
      common = (sx & sy).size
      jac = common.toDouble / (sx.size + sy.size - common) if jac >= tau
    } yield (x, y, round4(jac))).toSet
    Seq(0.5, 1.0).foreach { tau =>
      assert(scoredRows(Dedup.similarityJoin(docs, tau)) === truth(tau), s"tau $tau")
    }
    assert(truth(1.0).map(t => (t._1, t._2)).contains((1000L, 1001L)))
    assert(truth(0.5).size > truth(1.0).size)
  }

  test("dedupKeepMinhash's edge plan shingles the corpus scan once and writes one band exchange") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val edges = Dedup.minhashScored(docs, 0.6).filter(col("jac") >= 0.6).select("doc_a", "doc_b")
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def shingles(p: LogicalPlan): Int = p.expressions
      .map(_.collect { case w: graft.functions.WordShingles => w }.size).sum
    val opt = edges.queryExecution.optimizedPlan
    // over the corpus scan: the candidate pass; over the endpoint join:
    // the candidate documents' verify; no filter anywhere shingles
    val overScan = opt.collect { case p @ Project(_, _: LogicalRelation) => shingles(p) }.sum
    val overJoin = opt.collect { case p @ Project(_, _: Join) => shingles(p) }.sum
    assert(overScan == 1 && overJoin == 1 && opt.map(shingles).sum == 2, opt.toString)
    val phys = edges.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(band#".r.findAllIn(phys).size == 1, phys)
  }
}
