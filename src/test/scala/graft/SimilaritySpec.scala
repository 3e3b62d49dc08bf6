package graft

import org.apache.spark.sql.functions._
import graft.queries.Similarity

class SimilaritySpec extends SparkSuite {

  test("annCosine: 5 ranked neighbors per query, cosine in [-1,1]") {
    val rows = Similarity.annCosine(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet === (0L until 8L).toSet)
    byQuery.values.foreach { ns =>
      assert(ns.map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3, 4, 5))
      assert(ns.forall(r => math.abs(r.getDouble(3)) <= 1.0))
      // ranking is by descending cosine
      val sorted = ns.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("searchHybrid ≡ RRF recomputed from the two source rankings") {
    import graft.queries.TextOps
    val qn = TextOps.SearchQueryDocs
    val topK = TextOps.SearchTopK
    def rrfC(rk: Int): Long = math.floor(1e9 / (60 + rk)).toLong

    val lexRk = TextOps.searchBm25(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap

    // semantic top-10 recomputed naively from collected vectors (same
    // left-to-right double summation as the DotProduct expression)
    val em = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    val corpus = em.filter(_._1 >= qn)
    val semRk = em.filter(_._1 < qn).flatMap { case (qid, qv) =>
      corpus.map { case (cid, cv) => (qid, cid, dot(cv, qv) / (nrm(cv) * nrm(qv))) }
        .sortBy { case (_, cid, cos) => (-cos, cid) }
        .take(topK).zipWithIndex
        .map { case ((_, cid, _), i) => ((qid, cid), i + 1) }
    }.toMap

    val expected = (lexRk.keySet ++ semRk.keySet).groupBy(_._1).flatMap {
      case (qid, keys) =>
        keys.toSeq.map { k =>
          val rrf = lexRk.get(k).map(rrfC).getOrElse(0L) +
            semRk.get(k).map(rrfC).getOrElse(0L)
          (k._2, rrf)
        }.sortBy { case (did, rrf) => (-rrf, did) }.take(topK).zipWithIndex
          .map { case ((did, rrf), i) =>
            (qid, did) -> ((i + 1, rrf, lexRk.get((qid, did)), semRk.get((qid, did))))
          }
    }

    val got = Similarity.searchHybrid(spark, sfDir).collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        if (r.isNullAt(5)) None else Some(r.getInt(5))))
    }.toMap

    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("annQuantized: 5 ranked neighbors per query; recall@5 vs exact float bounded below") {
    val rows = Similarity.annQuantized(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4)))
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.keySet === (0L until 8L).toSet)
    byQuery.values.foreach { qr =>
      assert(qr.map(_._3).sorted.toSeq === (1 to 5), "exactly ranks 1..5 per query")
      assert(qr.forall(r => r._4 >= -1.0001 && r._4 <= 1.0001), "cos_q in [-1,1]")
      assert(qr.map(_._5).distinct.size === 1, "recall is per-query constant")
    }
    val recalls = byQuery.values.map(_.head._5).toSeq
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // int8 quantization must preserve most of the exact ranking — the
    // whole point of the compression/recall trade
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 $mean too low — quantization destroyed the ranking")
  }

  test("annLsh returns a subset ranking consistent with exact cosine") {
    val exact = Similarity.annCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.annLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty, "LSH should find same-bucket candidates")
    // every (query, neighbor, cos) from LSH must carry the true cosine:
    // spot-check that LSH's top hit for some query appears in exact top-5
    val hits = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = hits.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.0, s"LSH recall should be positive, got $recall (hits=${hits.size})")
  }

  test("multi-probe LSH: recall ≥ single-probe; probe-9 expansion, no extra tables") {
    val exact = Similarity.annCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.annLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.annLshMultiprobe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rSingle = single.intersect(exact).size.toDouble / exact.size
    val rMulti = multi.intersect(exact).size.toDouble / exact.size
    assert(rMulti >= rSingle,
      s"multi-probe recall $rMulti must not trail single-probe $rSingle")
    assert(multi.nonEmpty)
    // exact-bucket hits are a subset of the probe set by construction:
    // every single-probe TOP-5 that multi-probe misses must have been
    // displaced by a >= cosine candidate, never lost
    val multiByQ = Similarity.annLshMultiprobe(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(3)).min).toMap
    Similarity.annLsh(spark, sfDir).collect().foreach { r =>
      val q = r.getLong(0)
      if (!multi.contains((q, r.getLong(1))))
        assert(multiByQ(q) >= r.getDouble(3),
          s"query $q lost ${r.getLong(1)} to a weaker candidate")
    }
  }

  test("annIvf: 5 neighbors per query, recall ≥ 0.6 vs exact") {
    val exact = Similarity.annCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvf(spark, sfDir).collect()
    assert(ivf.length === 40) // 8 queries × top-5
    val hits = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = hits.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall (probing $hits)")
  }

  test("embeddingLshPairs: planted near-dups ≡ exact top pairs, plan free of BNLJ") {
    import spark.implicits._
    val dim = 64
    // java.util.Random is algorithm-specified → corpus is deterministic
    def gauss(seed: Long): Array[Double] = {
      val r = new java.util.Random(seed)
      Array.fill(dim)(r.nextGaussian())
    }
    // 20 planted near-dup pairs (cos ≈ 0.999) + 40 unrelated vectors
    val rows: Seq[(Long, Seq[Float])] =
      (0 until 20).flatMap { g =>
        val b = gauss(g)
        val t = gauss(g + 5000)
        val tilt = Array.tabulate(dim)(j => b(j) + 0.05 * t(j))
        Seq((2L * g, b.map(_.toFloat).toSeq), (2L * g + 1, tilt.map(_.toFloat).toSeq))
      } ++ (100 until 140).map(i => (i.toLong, gauss(i + 1000L).map(_.toFloat).toSeq))
    val corpus = rows.toDF("vec_id", "embedding")

    val q = Similarity.embeddingLshPairs(corpus)
    assert(!q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be bucketed, not a nested-loop join")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // exact ground truth, driver-side (same double math: float→double)
    val vs = rows.map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = rows.map(_._1)
    val exactTop = (for { a <- ids; b <- ids if a < b } yield (a, b, cos(vs(a), vs(b))))
      .sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    val planted = (0 until 20).map(g => (2L * g, 2L * g + 1)).toSet
    assert(exactTop.map(t => (t._1, t._2)).toSet === planted,
      "sanity: the 20 planted pairs must be the exact top-20")
    // LSH recovers exactly those pairs, with the true verified cosine
    assert(got.take(20).map(t => (t._1, t._2)).toSet === planted)
    got.take(20).foreach { case (a, b, c) =>
      assert(math.abs(c - cos(vs(a), vs(b))) < 1e-6, s"($a,$b): $c")
    }
  }

  test("dedup_embedding_lsh registered query: top pairs on real data, bucketed plan") {
    val q = Similarity.dedupEmbeddingLsh(spark, sfDir)
    assert(!q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("incrementalEmbeddingNew: planted batch near-dups drop, novel + zero-norm survive; LSH ≡ exact") {
    import spark.implicits._
    val dim = 64
    def gauss(seed: Long): Array[Double] = {
      val r = new java.util.Random(seed)
      Array.fill(dim)(r.nextGaussian())
    }
    val corpus = (1 until 41).map(i => (i.toLong, gauss(i).map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding")
    // batch: 10 planted near-dups of corpus vecs 1..10, 5 novel vectors,
    // 1 zero-norm vector (must always survive — cosine undefined)
    val batchRows: Seq[(Long, Seq[Float])] =
      (1 to 10).map { i =>
        val b = gauss(i)
        val t = gauss(i + 9000L)
        (100L + i, Array.tabulate(dim)(j => b(j) + 0.05 * t(j)).map(_.toFloat).toSeq)
      } ++ (1 to 5).map(i => (200L + i, gauss(i + 77000L).map(_.toFloat).toSeq)) ++
        Seq((300L, Seq.fill(dim)(0.0f)))
    val batch = batchRows.toDF("vec_id", "embedding")

    val lsh = Similarity.incrementalEmbeddingNew(batch, corpus,
      tau = 0.8, lshCandidates = true)
    assert(!lsh.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "cross-side candidates must come from the bucket equi-join")
    val got = lsh.collect().map(_.getLong(0)).toSet
    assert(got === ((1 to 5).map(200L + _).toSet + 300L),
      s"planted near-dups must drop, novel+zero-norm survive: $got")
    val exact = Similarity.incrementalEmbeddingNew(batch, corpus,
      tau = 0.8, lshCandidates = false).collect().map(_.getLong(0)).toSet
    assert(got === exact, "LSH path must equal the exact cross on the planted corpus")
  }

  test("semDedup: planted dup groups keep the min vec_id; zero-norm rows kept with null cell") {
    import spark.implicits._
    val dim = 8
    def unit(i: Int): Seq[Double] = Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    // e_i + 0.5·e_j: cos with seed e_i is 0.894 < τ, within-group cos is 1.0
    def mix(i: Int, j: Int): Seq[Double] =
      Seq.tabulate(dim)(k => (if (k == i) 1.0 else 0.0) + (if (k == j) 0.5 else 0.0))
    val rows: Seq[(Long, Seq[Double])] = Seq(
      0L -> unit(0), 1L -> unit(1), 2L -> unit(2), 3L -> unit(3), // distinct seed vectors
      10L -> mix(0, 4), 11L -> mix(0, 4), 12L -> mix(0, 4),       // dup group -> keep 10
      20L -> mix(1, 5), 21L -> mix(1, 5),                         // dup group -> keep 20
      30L -> mix(2, 6), 31L -> mix(3, 7),                         // isolated
      40L -> Seq.fill(dim)(0.0))                                  // zero-norm
    val out = Similarity.semDedupOn(rows.toDF("vec_id", "embedding"), tau = 0.95, nCells = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getInt(1))), r.getInt(2))).toMap
    assert(out.keySet === rows.map(_._1).toSet, "one verdict row per input vector")
    assert(out(40L) === ((None, 1)), "zero-norm: null cell, kept")
    assert(out.filter(_._2._2 == 0).keySet === Set(11L, 12L, 21L),
      "exactly the non-min members of ≥τ groups are dropped")
    // identical vectors must land in the same cell
    assert(out(10L)._1 === out(11L)._1 && out(11L)._1 === out(12L)._1)
    assert(out(20L)._1 === out(21L)._1)
  }

  test("semdedup registered query: one row per vector, kept majority, derived cells") {
    val df = Similarity.semDedup(spark, sfDir)
    val rows = df.collect()
    assert(rows.length === 500)
    val kept = rows.count(_.getInt(2) == 1)
    assert(kept >= 1 && kept <= 500)
    // max pairwise cos in this corpus ≈ 0.51 > τ=0.4 ⇒ some drops expected
    assert(rows.exists(_.getInt(2) == 0), "the diversity-pruning regime drops something")
  }

  test("dedupEmbedding: top-50 pairs, ordered by cosine desc, no self-pairs") {
    val rows = Similarity.dedupEmbedding(spark, sfDir).collect()
    assert(rows.length === 50)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("decontaminateEmbedding flags planted eval-near vectors and nothing else") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // eval vector e0 = e1-axis; corpus: id 10 is a near-copy (cos ~0.995),
    // id 11 moderately close (cos ~0.707), id 12 orthogonal
    val rows: Seq[(Long, Seq[Double])] = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (10L, Seq(0.995, 0.1, 0.0)),
      (11L, Seq(1.0, 1.0, 0.0)),
      (12L, Seq(0.0, 0.0, 1.0)))
    val df = rows.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(DeclarativeTwins.dotLambda(col("v"), col("v"))))
    val eval = df.filter(col("vec_id") === 0L)
    val got = Similarity.decontaminateEmbeddingOn(df, eval, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === Set((10L, 1L, 0L)))
    // looser tau picks up the moderate one too; orthogonal never flags
    val loose = Similarity.decontaminateEmbeddingOn(df, eval, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(loose === Set(10L, 11L))
  }

  test("mmr_rerank ≡ sequential greedy MMR reference; diversity-shifted vs pure top-k") {
    // sequential reference over collected embeddings (bounded at sf0.001)
    val embs = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var da = 0.0; var db = 0.0; var ab = 0.0; var i = 0
      while (i < a.length) { ab += a(i) * b(i); da += a(i) * a(i); db += b(i) * b(i); i += 1 }
      ab / (math.sqrt(da) * math.sqrt(db))
    }
    val ref = (0L until 8L).flatMap { qid =>
      val qv = embs(qid)
      val cand = embs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(v, qv), v) }
        .sortBy { case (id, rel, _) => (-rel, id) }
        .take(Similarity.MmrPool)
      var sel = Vector.empty[(Long, Array[Double])]
      (1 to Similarity.MmrK).map { r =>
        val pick =
          if (r == 1) cand.head
          else cand.filterNot(c => sel.exists(_._1 == c._1))
            .map { case (id, rel, v) =>
              val pen = sel.map(s => cos(v, s._2)).max
              (id, Similarity.MmrLam * rel - Similarity.MmrOneMinusLam * pen, v)
            }
            .sortBy { case (id, mmr, _) => (-mmr, id) }.head
        sel :+= (pick._1, pick._3)
        (qid, r, pick._1)
      }
    }.toSet
    val got = Similarity.mmrRerank(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === ref)
    // MMR must actually diversify: at least one query's selection set
    // differs from its pure relevance top-K
    val topk = (0L until 8L).flatMap { qid =>
      val qv = embs(qid)
      embs.toSeq.filter(_._1 != qid).map { case (id, v) => (id, cos(v, qv)) }
        .sortBy { case (id, rel) => (-rel, id) }
        .take(Similarity.MmrK).map { case (id, _) => (qid, id) }
    }.toSet
    val gotPairs = got.map { case (q, _, n) => (q, n) }
    assert(gotPairs !== topk, "MMR selections identical to pure top-k — no diversity effect")
  }

  test("ann_truncation_curve: full-dim leg is exact; recall sane per leg") {
    val rows = Similarity.annTruncationCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length === Similarity.TruncDims.length * 8)
    assert(rows.forall(t => t._4 >= 0.0 && t._4 <= 1.0 && t._3 == (t._4 * 5).round))
    // the k = 64 leg IS the exact ranking (same vectors, same
    // tie-break) — recall@5 must be exactly 1.0 for every query
    val full = rows.filter(_._1 == 64)
    assert(full.length == 8 && full.forall(_._4 == 1.0),
      s"full-dim leg must reproduce the exact top-5: $full")
    // mean recall over queries is non-decreasing in k on this corpus
    // (more prefix dims can only add signal for untrained embeddings;
    // asserted on the MEAN, where per-query flukes average out)
    val means = Similarity.TruncDims.map { k =>
      val leg = rows.filter(_._1 == k).map(_._4)
      leg.sum / leg.length
    }
    assert(means.zip(means.tail).forall { case (a, b) => a <= b },
      s"mean recall should not decrease with more dims: $means")
  }
}
