package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.Embeddings

/** Distributed INTEGER power iteration vs a sequential BigInt
  * reference implementing the identical algorithm (same quantization,
  * init, L∞ renormalization, deflation order, sign convention) —
  * equality is EXACT, that being the whole point of the integer
  * convention; embed_stats invariants.
  */
class EmbeddingsSpec extends SparkSuite {

  private lazy val mat: Array[Array[Double]] =
    Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  private def pcaTop(df: org.apache.spark.sql.DataFrame, iters: Int) =
    Embeddings.pcaTopDf(spark, Embeddings.pcaComponents(df, k = 1, iters))

  /** Sequential mirror of Embeddings.pcaComponents: exact integer
    * power iteration with L∞-1e6 renormalization and sequential
    * deflation, written independently (plain loops over the collected
    * matrix) so a Spark-side aggregation bug cannot self-verify.
    */
  private def referenceDeflatedQ(m: Array[Array[Double]], k: Int,
      iters: Int): Seq[Array[Long]] = {
    if (m.isEmpty) return Seq.empty
    val dim = m.head.length
    val xq = m.map(_.map(e => math.floor(e * 1e6 + 0.5).toLong))
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    def linf(x: Array[BigInt]): Option[Array[Long]] = {
      val mx = x.map(_.abs).max
      if (mx == 0) None else Some(x.map(v => ((v * 1000000L) / mx).toLong))
    }
    def deflate(x0: Array[Long]): Array[Long] = {
      var cur = x0
      comps.foreach { u =>
        val p = (0 until dim).map(i => BigInt(cur(i)) * u(i)).sum
        val uu = (0 until dim).map(i => BigInt(u(i)) * u(i)).sum
        val d = Array.tabulate(dim)(i => uu * cur(i) - p * u(i))
        linf(d).foreach(n => cur = n)
      }
      cur
    }
    def signFix(x: Array[Long]): Array[Long] =
      if (x.find(_ != 0L).exists(_ < 0L)) x.map(v => -v) else x
    for (c <- 0 until math.min(k, dim)) {
      var v: Array[Long] =
        if (c == 0) Array.fill(dim)(1000000L)
        else signFix(deflate(Array.tabulate(dim)(p => Embeddings.pcaSeed(c, p))))
      for (_ <- 1 to iters) {
        val raw = Array.fill(dim)(BigInt(0))
        xq.foreach { row =>
          var s = 0L; var i = 0
          while (i < dim) { s += row(i) * v(i); i += 1 }
          var j = 0
          while (j < dim) { raw(j) += BigInt(s) * row(j); j += 1 }
        }
        val n0 = linf(raw).getOrElse(v)
        v = signFix(deflate(n0))
      }
      comps += v
    }
    comps.toSeq
  }

  test("pca_top ≡ sequential integer power iteration EXACTLY") {
    val want = referenceDeflatedQ(mat, 1, Embeddings.PcaIters).head
    val got = Embeddings.pcaTop(spark, sfDir).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(got.size === want.length)
    want.zipWithIndex.foreach { case (w, i) =>
      assert(got(i) === w, s"dim $i: got ${got(i)} want $w")
    }
    // L∞-normalized: the max-magnitude entry is exactly ±1e6
    assert(got.values.map(math.abs).max === 1000000L)
  }

  test("pca_topk ≡ sequential deflated integer iteration EXACTLY; pairwise orthogonal") {
    val k = Embeddings.PcaK
    val want = referenceDeflatedQ(mat, k, Embeddings.PcaIters)
    val got = Embeddings.pcaTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
    val dim = mat.head.length
    assert(got.size === k * dim)
    want.zipWithIndex.foreach { case (u, c) =>
      u.zipWithIndex.foreach { case (w, i) =>
        assert(got((c, i)) === w, s"comp $c dim $i: got ${got((c, i))} want $w")
      }
    }
    // near-orthogonal relative to the component norms (exact-integer
    // deflation leaves only renormalization truncation, ≤1e-4 relative)
    val comps = (0 until k).map(c => (0 until dim).map(i => got((c, i))).toArray)
    def dotD(a: Array[Long], b: Array[Long]): Double =
      (0 until dim).map(i => a(i).toDouble * b(i)).sum
    for (a <- 0 until k; b <- 0 until k if a != b) {
      val rel = math.abs(dotD(comps(a), comps(b))) /
        math.sqrt(dotD(comps(a), comps(a)) * dotD(comps(b), comps(b)))
      assert(rel < 1e-4, s"comps $a,$b not orthogonal: $rel")
    }
  }

  test("pca_topk recovers the planted axes of an anisotropic cloud in variance order") {
    import spark.implicits._
    // variance 25 on e1, 4 on e2, 1 on e3, 0 on e4
    val rows = (0 until 240).map { i =>
      Seq(5.0 * ((i % 21) - 10) / 10.0, 2.0 * ((i % 13) - 6) / 6.0,
        1.0 * ((i % 7) - 3) / 3.0, 0.0)
    }
    val comps = Embeddings.pcaTopkDf(spark,
      Embeddings.pcaComponents(rows.toDF("embedding"), k = 3, iters = 30))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
    // L∞-1e6 scale: the dominant axis entry is (near-)±1e6 and every
    // off-axis entry is comparatively tiny
    assert(math.abs(comps((0, 0))) > 990000L, s"comp0 should be e1: $comps")
    assert(math.abs(comps((1, 1))) > 990000L, s"comp1 should be e2: $comps")
    assert(math.abs(comps((2, 2))) > 990000L, s"comp2 should be e3: $comps")
  }

  test("pca_top captures the dominant direction of a planted anisotropic cloud") {
    import spark.implicits._
    // points along e1 with small e2 noise: top PC ≈ e1
    val rows = (0 until 200).map { i =>
      val t = (i % 21).toDouble - 10.0
      Seq(t, 0.05 * ((i % 7).toDouble - 3.0), 0.0, 0.0)
    }
    val df = rows.toDF("embedding")
    val v = pcaTop(df, iters = 20).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(math.abs(v(0)) > 990000L, s"expected e1-dominant, got $v")
    assert(math.abs(v(2)) <= 1L && math.abs(v(3)) <= 1L)
  }

  test("embed_normalize: per-dim mean ~0 / sd ~1; map-only plan (no Exchange)") {
    val df = Embeddings.embedNormalize(spark, sfDir)
    val byDim = df.collect()
      .map(r => r.getLong(1).toInt -> r.getDouble(2))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    val dim = mat.head.length
    assert(byDim.size === dim)
    (0 until dim).foreach { i =>
      val xs = byDim(i)
      assert(xs.length === mat.length)
      val mean = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1))
      assert(math.abs(mean) < 1e-4, s"dim $i mean $mean")
      assert(math.abs(sd - 1.0) < 1e-3, s"dim $i sd $sd")
    }
    // normalization is a pure map (explode + project): never shuffles
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"normalize must be map-only:\n$plan")
  }

  test("pca_top degenerate inputs: empty corpus → empty frame; all-zero corpus → finite vector") {
    import spark.implicits._
    val empty = Seq.empty[Seq[Double]].toDF("embedding")
    assert(pcaTop(empty, iters = 3).collect().isEmpty)
    val zeros = Seq.fill(5)(Seq(0.0, 0.0, 0.0)).toDF("embedding")
    val v = pcaTop(zeros, iters = 3).collect().map(_.getLong(1))
    assert(v.length === 3)
    // zero update keeps the uniform init (integer convention: no NaN
    // is even representable)
    assert(v.forall(_ === 1000000L), s"kept-iterate convention broke: ${v.toSeq}")
  }

  test("embed_quantize: q in [-128,127], per-dim extremes hit the rails, map-only plan") {
    val df = Embeddings.embedQuantize(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(1).toInt, r.getInt(2)))
    assert(rows.length === mat.length * mat.head.length)
    assert(rows.forall { case (_, q) => q >= -128 && q <= 127 })
    val byDim = rows.groupBy(_._1)
    byDim.values.foreach { qs =>
      val vals = qs.map(_._2)
      // a non-constant dimension must span the full rail-to-rail range
      if (vals.distinct.length > 1)
        assert(vals.min === -128 && vals.max === 127, s"rails: ${vals.min}..${vals.max}")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantize must be map-only:\n$plan")
  }

  test("embed_project ≡ driver-side integer projection EXACTLY") {
    val k = 3
    val comps = referenceDeflatedQ(mat, k, Embeddings.PcaIters)
    val emb = Tables.embeddings(spark, sfDir)
    val got = Embeddings.projectDf(emb, Embeddings.pcaComponents(emb, k, Embeddings.PcaIters))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    assert(got.size === mat.length * k)
    // check every vector against the reference integer dot product
    val vecRows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    vecRows.foreach { case (id, v) =>
      val xq = v.map(e => math.floor(e * 1e6 + 0.5).toLong)
      comps.zipWithIndex.foreach { case (u, c) =>
        val want = xq.zip(u).map { case (a, b) => a * b }.sum
        assert(got((id, c)) === want, s"vec $id comp $c")
      }
    }
  }

  test("embed_stats: one row per dimension, l2 mass positive, bounds ordered") {
    val rows = Embeddings.embedStats(spark, sfDir).collect()
    assert(rows.length === mat.head.length)
    rows.foreach { r =>
      assert(r.getLong(1) === mat.length.toLong)
      assert(r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4))
      assert(r.getDouble(5) > 0.0)
    }
  }
}
