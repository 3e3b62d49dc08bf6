package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Embedding-column analytics ([EXT]): the per-dimension health checks
  * and factor extraction an embedding pipeline runs before indexing —
  * dead/degenerate dimension detection (embed_stats) and the dominant
  * direction of the corpus (pca_top, distributed power iteration).
  *
  * Scale design: everything reduces through posexplode → groupBy(dim):
  * the shuffle carries dim-bounded aggregate cells (64 here), never
  * vectors; pca_top's per-round driver action is one dim-length
  * vector — the same bounded-collect contract as Kmeans/IVF.
  */
object Embeddings {

  /** Per-dimension corpus statistics: n, mean, min, max, L2 mass —
    * the report that catches dead dimensions (all-zero), saturated
    * ones (|x| pinned), and scale drift between snapshots. One
    * posexplode + one partial-agg'd shuffle of dim cells.
    */
  def embedStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("pos").as("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg("col"), 6).as("mean"),
        round(min("col"), 6).as("lo"),
        round(max("col"), 6).as("hi"),
        round(sum(col("col") * col("col")), 6).as("l2_mass"))
      .select(col("dim").cast("long").as("dim"), col("n"), col("mean"),
        col("lo"), col("hi"), col("l2_mass"))

  /** Power-iteration rounds for [[pcaTop]]. */
  val PcaIters = 10

  /** Quantization scale of the integer power iteration: embeddings
    * quantize to micro units once, and every iterate is re-normalized
    * to L∞ = [[PcaScale]] (max |component| = 1e6 exactly).
    */
  val PcaScale = 1000000L

  /** Up to `k` principal directions by INTEGER power iteration with
    * deflation — every arithmetic step is exact int128-bounded
    * integer math, so the fixed-iteration result is bit-identical
    * across engines and the DuckDB oracle replays the whole chain
    * (the classifier_train unrolled-CTE convention, applied to PCA):
    *
    *   - x quantizes once: xq = floor(x·1e6 + 0.5) (the only float
    *     op; single correctly-rounded IEEE chain in both engines);
    *   - per round, s = Σ xqᵢ·vᵢ map-side (int64) and the update
    *     w = Σ s·xq accumulates in ONE closure-based treeAggregate
    *     job over the persisted quantized vectors — partial
    *     dim-length BigInt accumulators combine associatively, and
    *     because every operand is an INTEGER the result is exact in
    *     ANY combine order (the property that makes a shuffle-free
    *     partial-agg both correct and bit-stable; a float
    *     treeAggregate here would be order-dependent). No shuffle,
    *     no per-iteration plan/codegen rebuild — the 4·10 rounds
    *     cost 4·10 cheap map jobs. The oracle accumulates the same
    *     sums in HUGEINT; magnitudes stay < 1e38 up to ~1e12 rows
    *     by the rails in the Scaladoc below;
    *   - normalization is L∞, not L2: v' = (w·1e6) div max|w| —
    *     integer division truncating toward zero in Spark, DuckDB
    *     and BigInt alike; no sqrt anywhere;
    *   - deflation against each extracted u (sequentially):
    *     d = (Σu²)·v − (Σv·u)·u, renormalized after every step;
    *   - sign: first nonzero entry made positive, every round.
    *
    * Component 0 starts at the uniform vector (all 1e6); component
    * c > 0 starts from the md5 lattice (md5₄₈("pca:c:pos") mod 2001
    * − 1000) deflated against the extracted components — the repo's
    * md5-seeding convention, exactly reproducible in SQL. Degenerate
    * input: empty corpus → no components; a zero update (all-zero
    * corpus / k past the rank) keeps the previous iterate.
    *
    * Scale shape: the quantized vectors persist once; each round is
    * one map-only aggregate (zero shuffle — partials are dim-length,
    * merged tree-wise) and the driver touches only dim-length
    * integer vectors (BigInt, k·dim work per round).
    */
  def pcaComponents(embeddings: DataFrame, k: Int, iters: Int): Seq[Array[Long]] = {
    val xrdd = embeddings
      .select(transform(col("embedding").cast("array<double>"),
        e => floor(e * lit(1e6) + lit(0.5)).cast("long")).as("x"))
      .rdd.map(_.getSeq[Long](0).toArray)
      .persist()
    // degenerate corpus: no rows → no components, not a .first() crash
    val head = xrdd.take(1)
    if (head.isEmpty) {
      xrdd.unpersist(false)
      return Seq.empty
    }
    val dim = head(0).length
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    // L∞ renormalize to PcaScale; None on the zero vector
    def linf(x: Array[BigInt]): Option[Array[Long]] = {
      val m = x.map(_.abs).max
      if (m == 0) None else Some(x.map(v => ((v * PcaScale) / m).toLong))
    }
    // sequential exact deflation, renormalized after every step; a
    // step that lands exactly in the span keeps its input
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
      var vec: Array[Long] =
        if (c == 0) Array.fill(dim)(PcaScale)
        else signFix(deflate(Array.tabulate(dim)(pos => pcaSeed(c, pos))))
      for (_ <- 1 to iters) {
        val vv = vec // stable closure capture per round
        // exact integer X^T(Xv): per-partition dim-length BigInt
        // accumulators, associatively combined — one map-only job
        val raw = xrdd.treeAggregate(Array.fill(dim)(BigInt(0)))(
          (acc, row) => {
            val n = math.min(dim, row.length)
            var s = 0L
            var i = 0
            while (i < n) { s += row(i) * vv(i); i += 1 }
            val sb = BigInt(s)
            var j = 0
            while (j < n) { acc(j) += sb * row(j); j += 1 }
            acc
          },
          (a, b) => {
            var j = 0
            while (j < dim) { a(j) += b(j); j += 1 }
            a
          })
        val n0 = linf(raw).getOrElse(vec)
        vec = signFix(deflate(n0))
      }
      comps += vec
    }
    xrdd.unpersist(false)
    comps.toSeq
  }

  /** md5₄₈-lattice init entry for component `c`, position `pos` —
    * ∈ [−1000, 1000], mirrored verbatim by the oracle SQL.
    */
  private[graft] def pcaSeed(c: Int, pos: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"pca:$c:$pos".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 12)
    java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
  }

  /** ModelCache'd [[pcaComponents]] at the registry constants (k =
    * [[PcaK]], [[PcaIters]] rounds) — extract once, serve pca_top and
    * embed_project from the same components (the weightsCached
    * convention); `pca_topk` is the family's TRAINER entry (always
    * re-extracts and refreshes this cache via ModelCache.put, so its
    * bench cost stays an honest measure of the extraction). Component
    * 0 of the k=4 run IS the k=1 run's component (deflation is a
    * no-op for the first), so pca_top serves comps.head without its
    * own training pass. The cached value is a plain Seq[Array[Long]]
    * — no frames, nothing for the storage sweep to track.
    */
  private def compsCached(s: SparkSession, d: String): Seq[Array[Long]] =
    graft.core.ModelCache.cached(s, d, "pca_comps") {
      pcaComponents(Tables.embeddings(s, d), PcaK, PcaIters)
    }

  /** (dim, weight_micro) rows of the first component. */
  private[graft] def pcaTopDf(s: SparkSession, comps: Seq[Array[Long]]): DataFrame = {
    import s.implicits._
    comps.headOption.getOrElse(Array.empty[Long])
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toSeq
      .toDF("dim", "weight_micro")
  }

  def pcaTop(s: SparkSession, d: String): DataFrame =
    pcaTopDf(s, compsCached(s, d))

  /** Components for [[pcaTopk]]. */
  val PcaK = 4

  /** Top-k principal directions as (component, dim, weight_micro)
    * scalar rows — EXACT integers under the full DuckDB oracle (the
    * unrolled-CTE chain replays every iteration); additionally ≡ a
    * sequential BigInt reference and pairwise-orthogonal in
    * EmbeddingsSpec.
    */
  private[graft] def pcaTopkDf(s: SparkSession, comps: Seq[Array[Long]]): DataFrame = {
    import s.implicits._
    comps.zipWithIndex.flatMap { case (u, c) =>
      u.zipWithIndex.map { case (w, i) => (c.toLong, i.toLong, w) }
    }.toDF("component", "dim", "weight_micro")
  }

  def pcaTopk(s: SparkSession, d: String): DataFrame =
    pcaTopkDf(s, graft.core.ModelCache.put(s, d, "pca_comps",
      pcaComponents(Tables.embeddings(s, d), PcaK, PcaIters)))

  /** Per-dimension z-normalization — the feature-scaling pass before
    * indexing or clustering. The dim-bounded (mean, sd) table is
    * computed once (posexplode → dim cells, explicit sum/sumsq so both
    * engines run identical arithmetic), collected (2·dim doubles —
    * the bounded-literal pattern of Kmeans/IVF), and folded into the
    * plan as literal arrays, so the normalization itself is a pure map
    * over the corpus: no join, no second shuffle, vectors never move.
    * Zero-variance dimensions normalize to 0 by convention. Output is
    * exploded to scalar (vec_id, dim, z) rows — the registry contract
    * is hash-matchable scalar columns, and at dim=64 the row blow-up
    * is trivial next to the vectors themselves.
    */
  def embedNormalize(s: SparkSession, d: String): DataFrame = {
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val stats = all
      .select(posexplode(col("v")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("col").as("s"),
        sum(col("col") * col("col")).as("ss"))
      .select(col("pos"),
        (col("s") / col("n")).as("mean"),
        // n = 1 would divide by zero (NULL sd) — treat a single-row
        // corpus as zero-variance, same as a constant dimension
        when(col("n") > 1,
          sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)))
          .otherwise(lit(0.0)).as("sd"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val dim = if (stats.isEmpty) 0 else stats.keys.max + 1
    // ragged corpora can leave positions unseen — normalize those to 0
    val meanLit = array((0 until dim).map(i =>
      lit(stats.getOrElse(i, (0.0, 0.0))._1)).toIndexedSeq: _*)
    val sdLit = array((0 until dim).map(i =>
      lit(stats.getOrElse(i, (0.0, 0.0))._2)).toIndexedSeq: _*)
    all.select(col("vec_id"), posexplode(col("v")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        {
          val i = (col("pos") + 1).cast("int")
          val m = element_at(meanLit, i)
          val sd = element_at(sdLit, i)
          when(sd > 0, round((col("col") - m) / sd, 6))
            .otherwise(lit(0.0)).as("z")
        })
  }

  /** Int8 scalar quantization — the compression pass before an ANN
    * index ships to serving (4-8× memory cut at ~1% recall cost). The
    * dim-bounded (lo, hi) table collects once and folds into the plan
    * as literal arrays (the embedNormalize pattern), so quantization
    * is a pure map: q = floor((x-lo)/(hi-lo)·255 + 0.5) - 128 in
    * [-128, 127]. floor(t+0.5) — not round() — so both engines round
    * the same IEEE value identically; constant dimensions quantize to
    * 0. Scalar (vec_id, dim, q) rows per the registry contract.
    */
  /** Per-dimension (lo, hi) quantization rails as plan-time literal
    * arrays (dim-bounded collect — the embedNormalize pattern); None
    * on an empty corpus. Shared by [[embedQuantize]] and the
    * quantized ANN serving path ([[Similarity.annQuantized]]) so the
    * compression pass and the search that consumes it can never train
    * different rails.
    */
  private[queries] def quantRailsOf(all: DataFrame): Option[(Column, Column)] = {
    val stats = all
      .select(posexplode(col("v")))
      .groupBy("pos")
      .agg(min("col").as("lo"), max("col").as("hi"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    if (stats.isEmpty) None
    else {
      val dim = stats.keys.max + 1
      Some((
        array((0 until dim).map(i =>
          lit(stats.getOrElse(i, (0.0, 0.0))._1)).toIndexedSeq: _*),
        array((0 until dim).map(i =>
          lit(stats.getOrElse(i, (0.0, 0.0))._2)).toIndexedSeq: _*)))
    }
  }

  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val rails = quantRailsOf(all)
    if (rails.isEmpty) { // empty corpus: typed empty frame, not array() analysis errors
      val sess = s
      import sess.implicits._
      return Seq.empty[(Long, Long, Int)].toDF("vec_id", "dim", "q")
    }
    val (loLit, hiLit) = rails.get
    all.select(col("vec_id"), posexplode(col("v")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        {
          val i = (col("pos") + 1).cast("int")
          val lo = element_at(loLit, i)
          val hi = element_at(hiLit, i)
          when(hi > lo,
            (floor((col("col") - lo) / (hi - lo) * 255 + 0.5) - 128).cast("int"))
            .otherwise(lit(0)).as("q")
        })
  }

  /** Projection onto the top-k principal directions — the
    * dimensionality-reduction map that feeds 2-D corpus atlases and
    * compact downstream features. Components are [[pcaComponents]]
    * plan-time literals, so the projection is one map-side integer
    * dot product per component: (vec_id, component, score_q) with no
    * shuffle of vectors. score_q = Σ xqᵢ·uᵢ is exact int64 (micro²
    * units: ≤ 64·1e6·1e6 per vector) — hash-exact under the full
    * DuckDB oracle, which retrains the identical integer chain.
    */
  private[graft] def projectDf(embeddings: DataFrame, comps: Seq[Array[Long]]): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    if (comps.isEmpty) // empty corpus
      return Seq.empty[(Long, Long, Long)].toDF("vec_id", "component", "score_q")
    val all = embeddings
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          e => floor(e * lit(1e6) + lit(0.5)).cast("long")).as("x"))
    val scores = array(comps.zipWithIndex.map { case (u, c) =>
      val uLit = array(u.map(lit).toIndexedSeq: _*)
      struct(lit(c.toLong).as("component"),
        aggregate(zip_with(col("x"), uLit, (a, b) => a * b),
          lit(0L), (acc, t) => acc + t).as("score_q"))
    }.toIndexedSeq: _*)
    all.select(col("vec_id"), explode(scores).as("p"))
      .select(col("vec_id"), col("p.component").as("component"),
        col("p.score_q").as("score_q"))
  }

  def embedProject(s: SparkSession, d: String): DataFrame =
    projectDf(Tables.embeddings(s, d), compsCached(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_stats" -> embedStats,
    "embed_normalize" -> embedNormalize,
    "embed_quantize" -> embedQuantize,
    "embed_project" -> embedProject,
    "pca_top" -> pcaTop,
    "pca_topk" -> pcaTopk)

  /** Unrolled-CTE mirror of [[pcaComponents]] (the classifier_train
    * convention): emits the full `dims, xe, …` chain whose final
    * per-component frames are `v_{c}_$iters(i, v)` with i 1-based and
    * v the L∞-1e6 integer iterate — every step HUGEINT-exact, `//`
    * truncating toward zero exactly like Spark's div and BigInt `/`.
    * Returns (chain, finalFrameNames).
    */
  private[queries] def pcaChainSql(k: Int, iters: Int): (String, Seq[String]) = {
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    ctes += s"""dims AS MATERIALIZED (
       |  SELECT unnest(generate_series(1,
       |    (SELECT CAST(max(len(embedding)) AS INTEGER) FROM embeddings))) AS i)"""
      .stripMargin
    ctes += s"""xe AS MATERIALIZED (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS HUGEINT)
       |      AS xv
       |  FROM embeddings, dims WHERE i <= len(embedding))""".stripMargin
    // L∞ renormalize `src` to 1e6, keeping `prev` when the max is 0.
    // The round max rides an OVER () window on the joined frame
    // instead of a separate MATERIALIZED scalar CTE: every chain
    // frame spans exactly `dims` (w groups over xe, which covers each
    // i ≤ max len; d/n join two full frames), so the windowed max
    // equals the old standalone `SELECT max(abs(..)) FROM src` —
    // same HUGEINT value, same `//` truncation — while cutting the
    // ~500-CTE chain's per-materialization overhead (the gate's two
    // slowest oracles, pca_topk/embed_project, are overhead-bound).
    def norm(tag: String, src: String, srcCol: String, prev: String, out: String): Unit = {
      val _ = tag // kept for call-site readability
      ctes += s"""$out AS MATERIALIZED (
         |  SELECT d.i, CASE WHEN max(abs(d.$srcCol)) OVER () > 0
         |    THEN (d.$srcCol * 1000000) // (max(abs(d.$srcCol)) OVER ())
         |    ELSE a.v END AS v
         |  FROM $src d JOIN $prev a USING (i))""".stripMargin
    }
    // sequential deflation of `in0` against final comps 0..c-1, then
    // the first-nonzero-positive sign fix, emitting `out`. The
    // projection dot product sum(a.v·u.v) is an OVER () window on the
    // SAME 1:1 join the subtraction reads (one CTE instead of two);
    // the sign flip inlines its uncorrelated scalar subquery.
    def deflateSign(tag: String, in0: String, c: Int, out: String): Unit = {
      var cur = in0
      (0 until c).foreach { j =>
        val u = s"v_${j}_$iters"
        ctes += s"""d_${tag}_$j AS MATERIALIZED (
           |  SELECT a.i,
           |    (SELECT uu FROM uu_$j) * a.v
           |      - CAST(sum(a.v * u.v) OVER () AS HUGEINT) * u.v AS w
           |  FROM $cur a JOIN $u u USING (i))""".stripMargin
        norm(s"${tag}_$j", s"d_${tag}_$j", "w", cur, s"n_${tag}_$j")
        cur = s"n_${tag}_$j"
      }
      ctes += s"""$out AS MATERIALIZED (
         |  SELECT i, v * (CASE WHEN (SELECT v FROM $cur WHERE v <> 0
         |    ORDER BY i LIMIT 1) < 0 THEN -1 ELSE 1 END) AS v
         |  FROM $cur)""".stripMargin
    }
    (0 until k).foreach { c =>
      if (c == 0)
        ctes += s"v_0_0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM dims)"
      else {
        // md5-lattice init (pcaSeed), deflated against comps 0..c-1
        ctes += s"""h_$c AS MATERIALIZED (
           |  SELECT i, CAST(('0x' || substr(md5('pca:$c:' ||
           |      CAST(i - 1 AS VARCHAR)), 1, 12))::UBIGINT % 2001 AS HUGEINT)
           |    - 1000 AS v
           |  FROM dims)""".stripMargin
        deflateSign(s"i$c", s"h_$c", c, s"v_${c}_0")
      }
      (1 to iters).foreach { t =>
        val prev = s"v_${c}_${t - 1}"
        ctes += s"""s_${c}_$t AS MATERIALIZED (
           |  SELECT xe.vec_id, CAST(sum(xe.xv * v.v) AS HUGEINT) AS s
           |  FROM xe JOIN $prev v USING (i) GROUP BY 1)""".stripMargin
        ctes += s"""w_${c}_$t AS MATERIALIZED (
           |  SELECT xe.i, CAST(sum(s.s * xe.xv) AS HUGEINT) AS w
           |  FROM xe JOIN s_${c}_$t s USING (vec_id) GROUP BY 1)""".stripMargin
        norm(s"w${c}_$t", s"w_${c}_$t", "w", prev, s"nw_${c}_$t")
        deflateSign(s"t${c}_$t", s"nw_${c}_$t", c, s"v_${c}_$t")
      }
      // Σu² of the finished component, reused by every later deflation
      ctes += s"""uu_$c AS MATERIALIZED (
         |  SELECT CAST(sum(v * v) AS HUGEINT) AS uu FROM v_${c}_$iters)"""
        .stripMargin
    }
    (ctes.mkString("WITH ", ",\n", ""),
      (0 until k).map(c => s"v_${c}_$iters"))
  }

  def oracleSql: Map[String, String] = Map(
    "pca_top" -> {
      val (chain, frames) = pcaChainSql(1, PcaIters)
      s"""$chain
         |SELECT CAST(i - 1 AS BIGINT) AS dim, CAST(v AS BIGINT) AS weight_micro
         |FROM ${frames.head}""".stripMargin
    },
    "pca_topk" -> {
      val (chain, frames) = pcaChainSql(PcaK, PcaIters)
      val legs = frames.zipWithIndex.map { case (f, c) =>
        s"""SELECT CAST($c AS BIGINT) AS component, CAST(i - 1 AS BIGINT) AS dim,
           |  CAST(v AS BIGINT) AS weight_micro FROM $f""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$chain\n$legs"
    },
    "embed_project" -> {
      val (chain, frames) = pcaChainSql(PcaK, PcaIters)
      val legs = frames.zipWithIndex.map { case (f, c) =>
        s"""SELECT xe.vec_id, CAST($c AS BIGINT) AS component,
           |  CAST(sum(xe.xv * v.v) AS BIGINT) AS score_q
           |FROM xe JOIN $f v USING (i) GROUP BY 1""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$chain\n$legs"
    },
    "embed_quantize" ->
      """WITH dims AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(embedding)) AS INTEGER) FROM embeddings))) AS i),
        |st AS (
        |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
        |    max(CAST(embedding[i] AS DOUBLE)) AS hi
        |  FROM embeddings, dims WHERE i <= len(embedding) GROUP BY i)
        |SELECT vec_id, CAST(st.i - 1 AS BIGINT) AS dim,
        |  CASE WHEN hi > lo
        |       THEN CAST(floor((CAST(embedding[st.i] AS DOUBLE) - lo)
        |                       / (hi - lo) * 255 + 0.5) - 128 AS INTEGER)
        |       ELSE 0 END AS q
        |FROM embeddings JOIN st ON st.i <= len(embedding)""".stripMargin,
    "embed_normalize" ->
      """WITH dims AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(embedding)) AS INTEGER) FROM embeddings))) AS i),
        |st AS (
        |  SELECT i, count(*) AS n,
        |    sum(CAST(embedding[i] AS DOUBLE)) AS s,
        |    sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS ss
        |  FROM embeddings, dims WHERE i <= len(embedding) GROUP BY i),
        |ms AS (
        |  SELECT i, s / n AS m,
        |    CASE WHEN n > 1 THEN sqrt((ss - s * s / n) / (n - 1))
        |         ELSE 0.0 END AS sd
        |  FROM st)
        |SELECT vec_id, CAST(ms.i - 1 AS BIGINT) AS dim,
        |  CASE WHEN sd > 0
        |       THEN round((CAST(embedding[ms.i] AS DOUBLE) - m) / sd, 6)
        |       ELSE 0.0 END AS z
        |FROM embeddings JOIN ms ON ms.i <= len(embedding)""".stripMargin,
    "embed_stats" ->
      """WITH dims AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(embedding)) AS INTEGER) FROM embeddings))) AS i)
        |SELECT i - 1 AS dim, count(*) AS n,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean,
        |  round(min(CAST(embedding[i] AS DOUBLE)), 6) AS lo,
        |  round(max(CAST(embedding[i] AS DOUBLE)), 6) AS hi,
        |  round(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 6)
        |    AS l2_mass
        |FROM embeddings, dims WHERE i <= len(embedding)
        |GROUP BY 1""".stripMargin)
}
