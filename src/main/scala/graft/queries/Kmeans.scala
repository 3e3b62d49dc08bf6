package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Distributed k-means (Lloyd's algorithm) over the embeddings table
  * ([EXT]) — the clustering primitive under IVF index builds, SemDeDup
  * cells, and corpus-partitioned curriculum sampling.
  *
  * Scale design, per round:
  *  - ASSIGNMENT is a pure map: the k centroids are plan-time literal
  *    arrays (like Similarity's IVF quantizer), so the argmin is
  *    `least` over k (dist, cell) structs inside codegen — no join, no
  *    shuffle of the corpus, and `vec_dot` keeps the inner product
  *    compiled.
  *  - UPDATE is one partial-agg'd shuffle of (cell, dim) cells:
  *    posexplode fans each vector into dim (cell, pos, x) rows whose
  *    map-side partial sums collapse to k·dim groups before the
  *    exchange — the bytes crossing the wire are O(k·dim·partitions),
  *    independent of corpus size.
  *  - The per-round driver action collects exactly k·dim aggregate
  *    rows (8×64 here) to rebuild the literal centroids — the same
  *    bounded-collect contract as the IVF trainer and the CC/PageRank
  *    convergence scalars; the corpus itself is never collected.
  *
  * Determinism: seeds are the first k vectors by vec_id; argmin ties
  * break to the smallest cell id. (Float-sum merge order can perturb
  * centroid means at ~1e-15; an assignment flip would need a vector
  * equidistant to two centroids at that scale, which the spec's
  * fixed corpora are nowhere near.) Equivalence to a sequential
  * reference Lloyd implementation is asserted in KmeansSpec.
  */
object Kmeans {

  val K = 8
  val Iters = 5

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(a, b)

  private def vecs(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** Nearest centroid by squared euclidean distance, as a map-only
    * expression over literal centroids: argmin_c (||c||² − 2·v·c)
    * (the ||v||² term is constant per row). `least` on (d, cell)
    * structs compares lexicographically — min distance, ties to the
    * smallest cell id.
    */
  private def nearestCell(v: Column, cents: Array[Array[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (cv, i) =>
      val c2 = cv.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(v, array(cv.map(lit).toIndexedSeq: _*))).as("d"),
        lit(i).as("cell"))
    }
    // least() needs >= 2 args; a single centroid means cell 0 for all
    if (scored.length == 1) lit(0)
    else least(scored.toIndexedSeq: _*).getField("cell")
  }

  /** Run `iters` Lloyd rounds; returns (vec_id, cell) for every
    * vector. Empty cells keep their previous centroid (deterministic,
    * and standard practice).
    */
  def kmeansAssignOn(embeddings: DataFrame, k: Int = K, iters: Int = Iters): DataFrame = {
    val all = embeddings
      .select(col("vec_id"), col("v"))
      .persist() // feeds every round's assignment + the final output
    // deterministic seeds: the k lowest vec_ids — ordered limit, so
    // sparse/offset id spaces still seed exactly k clusters (bounded
    // k·dim collect via TakeOrdered, no full sort)
    var cents: Array[Array[Double]] = all
      .orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) {
      val sums = all
        .select(nearestCell(col("v"), cents).as("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect() // k·dim rows — the bounded per-round driver action
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      cents = next
    }
    // materialize the final assignment BEFORE dropping the cache the
    // select reads through (an unpersist-then-execute would rescan the
    // source for every downstream action)
    val out = all.select(col("vec_id"), nearestCell(col("v"), cents).as("cell"))
      .stable
    all.unpersist(false)
    out
  }

  /** Registered entry: cluster the embeddings table, emit one row per
    * vector. The training loop is deterministic (first-k seeds, fixed
    * rounds, smallest-cell tie-break), so the whole iteration unrolls
    * into chained DuckDB CTEs — assignment margins are orders of
    * magnitude above the ~1e-15 float-sum merge-order noise, so the
    * discrete (vec_id, cell) output hash-matches across engines.
    * KmeansSpec additionally pins the result to sequential Lloyd.
    */
  def kmeans(s: SparkSession, d: String): DataFrame =
    kmeansAssignOn(vecs(s, d))

  /** Minimum in-cell count for a token to qualify as a topic label. */
  val TopicMinCount = 3L
  /** Labels per cell. */
  val TopicTopN = 3

  /** Cluster labeling ([EXT]): per kmeans cell, the [[TopicTopN]] most
    * DISTINCTIVE tokens of its member documents by lift —
    * (tf within cell) / (tf across all clustered docs) — the
    * "what is this cluster about" census an embedding-space corpus
    * partition ships with. Composes two certified chains: the kmeans
    * assignment (vec_id ≡ doc_id links embeddings to documents) and
    * the corpus tokenizer.
    *
    * Determinism: lift is a ratio of two single divisions over exact
    * integer counts — no float summation anywhere — so ranking
    * (lift DESC, token ASC) is bit-identical across engines.
    * Scale: one token-cardinality (cell, token) count shuffle; the
    * per-cell argmax window runs over qualified (count >=
    * [[TopicMinCount]]) tokens only.
    */
  def clusterTopics(s: SparkSession, d: String): DataFrame = {
    val cells = kmeansAssignOn(vecs(s, d))
    val toks = Tables.documents(s, d)
      .join(cells, col("doc_id") === col("vec_id"))
      .select(col("cell"), explode(Dedup.tokensCol(col("text"))).as("tok"))
    val ct = toks.groupBy("cell", "tok").agg(count(lit(1)).as("c"))
    val cellTot = ct.groupBy("cell").agg(sum("c").as("nc"))
    val tokTot = ct.groupBy("tok").agg(sum("c").as("cg"))
    val tot = ct.agg(sum("c").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("lift").desc, col("tok").asc)
    ct.join(cellTot, "cell").join(tokTot, "tok").crossJoin(broadcast(tot))
      .filter(col("c") >= TopicMinCount)
      .withColumn("lift",
        (col("c").cast("double") / col("nc")) / (col("cg").cast("double") / col("n")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopicTopN)
      .select(col("cell"), col("rank"), col("tok"),
        round(col("lift"), 4).as("lift"), col("c").as("n_in_cell"))
  }

  /** EMBEDDING DRIFT ([EXT]): population-stability-index monitoring in
    * EMBEDDING space — assign every vector to its kmeans cell, split
    * the corpus into two snapshots (vec_id parity — the
    * dedup_incremental convention), and report each cell's share under
    * both snapshots with its Laplace-smoothed PSI term ((p_a − p_b)·
    * ln(p_a/p_b), the [[Corpus.driftPsi]] arithmetic over cells
    * instead of length buckets). The "did the semantic mix of the
    * crawl shift" monitor — length histograms can agree while topics
    * move; cell shares catch that. Σ terms ≥ 0 = the headline PSI.
    *
    * Scale: composes the certified kmeans chain (bounded k·dim driver
    * actions) with a k-cell count shuffle; everything after the
    * assignment runs at cell cardinality.
    */
  def driftEmbedding(s: SparkSession, d: String): DataFrame = {
    val assign = kmeansAssignOn(vecs(s, d))
    val t = assign.select(col("cell"),
      when(col("vec_id") % 2 === 0, "a").otherwise("b").as("snap"))
    val cells = t.select("cell").distinct()
    val snaps = s.createDataFrame(Seq(Tuple1("a"), Tuple1("b"))).toDF("snap")
    val cnt = t.groupBy("cell", "snap").agg(count(lit(1)).as("c"))
    val g = cells.crossJoin(broadcast(snaps))
      .join(cnt, Seq("cell", "snap"), "left")
      .select(col("cell"), col("snap"), coalesce(col("c"), lit(0L)).as("c"))
    val tot = g.groupBy("snap").agg(sum("c").as("n"))
    val kf = cells.agg(count(lit(1)).as("k"))
    val p = g.join(tot, "snap").crossJoin(broadcast(kf))
      .select(col("cell"), col("snap"), col("c"),
        ((col("c") + lit(0.5)) / (col("n") + lit(0.5) * col("k"))).as("p"))
    val pa = p.filter(col("snap") === "a")
      .select(col("cell"), col("c").as("n_a"), col("p").as("pa"))
    val pb = p.filter(col("snap") === "b")
      .select(col("cell").as("cellb"), col("c").as("n_b"), col("p").as("pb"))
    pa.join(pb, col("cell") === col("cellb"))
      .select(col("cell"), col("n_a"), col("n_b"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6).as("psi_term"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans" -> kmeans,
    "drift_embedding" -> driftEmbedding,
    "cluster_topics" -> clusterTopics)

  // assignment CTE against centroid table c$prev: argmin of
  // ||c||² − 2·v·c with ties to the smallest cell — exactly
  // nearestCell's (d, cell) struct-least
  private def assignSql(name: String, prev: Int) =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(c.cv, c.cv)
       |                 - 2 * list_dot_product(e.v, c.cv), c.cell) AS rn
       |    FROM e CROSS JOIN c$prev c)
       |  WHERE rn = 1)""".stripMargin

  /** The full deterministic Lloyd unroll ending in `afinal(vec_id,
    * cell)` — shared by the kmeans oracle and the composed
    * cluster-labeling oracle.
    */
  private def kmeansChainSql: String = {
    // per-round update: per-(cell, dim) mean over members; an empty
    // cell keeps its previous centroid (the left-join coalesce)
    val rounds = (1 to Iters).map { i =>
      s"""${assignSql(s"a$i", i - 1)},
         |m$i AS (
         |  SELECT a.cell, d.i, sum(e.v[d.i]) AS s, count(*) AS n
         |  FROM a$i a JOIN e ON e.vec_id = a.vec_id
         |  CROSS JOIN dims d WHERE d.i <= len(e.v)
         |  GROUP BY a.cell, d.i),
         |c$i AS (
         |  SELECT prev.cell, coalesce(mm.cv, prev.cv) AS cv
         |  FROM c${i - 1} prev LEFT JOIN
         |    (SELECT cell, list(s / n ORDER BY i) AS cv
         |     FROM m$i GROUP BY cell) mm ON mm.cell = prev.cell)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (
       |  SELECT unnest(generate_series(1,
       |    (SELECT CAST(max(len(v)) AS INTEGER) FROM e))) AS i),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $K)),
       |$rounds,
       |${assignSql("afinal", Iters)}""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "kmeans" ->
      s"""WITH $kmeansChainSql
         |SELECT vec_id, cell FROM afinal""".stripMargin,
    "drift_embedding" ->
      s"""WITH $kmeansChainSql,
         |t AS (SELECT cell, CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap
         |      FROM afinal),
         |cells AS (SELECT DISTINCT cell FROM t),
         |grid AS (SELECT cell, snap
         |         FROM cells CROSS JOIN (SELECT unnest(['a', 'b']) AS snap)),
         |cnt AS (SELECT cell, snap, count(*) AS c FROM t GROUP BY 1, 2),
         |g AS (SELECT grid.cell, grid.snap, coalesce(cnt.c, 0) AS c
         |      FROM grid LEFT JOIN cnt USING (cell, snap)),
         |tot AS (SELECT snap, sum(c) AS n FROM g GROUP BY 1),
         |kk AS (SELECT count(*) AS k FROM cells),
         |p AS (SELECT cell, snap, c, (c + 0.5) / (n + 0.5 * k) AS p
         |      FROM g JOIN tot USING (snap) CROSS JOIN kk)
         |SELECT a.cell, CAST(a.c AS BIGINT) AS n_a, CAST(b.c AS BIGINT) AS n_b,
         |  round(a.p, 6) AS p_a, round(b.p, 6) AS p_b,
         |  round((a.p - b.p) * ln(a.p / b.p), 6) AS psi_term
         |FROM p a JOIN p b ON a.cell = b.cell AND a.snap = 'a' AND b.snap = 'b'""".stripMargin,
    "cluster_topics" ->
      s"""WITH $kmeansChainSql,
         |tk AS (SELECT a.cell, unnest(list_filter(
         |         string_split_regex(d.text, '[^\\p{L}]+'), x -> len(x) > 0)) AS tok
         |       FROM documents d JOIN afinal a ON a.vec_id = d.doc_id),
         |ct AS (SELECT cell, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         |cellTot AS (SELECT cell, sum(c) AS nc FROM ct GROUP BY 1),
         |tokTot AS (SELECT tok, sum(c) AS cg FROM ct GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM ct),
         |lifted AS (
         |  SELECT ct.cell, ct.tok, ct.c,
         |    (CAST(ct.c AS DOUBLE) / cellTot.nc) / (CAST(tokTot.cg AS DOUBLE) / tot.n) AS lift
         |  FROM ct JOIN cellTot USING (cell) JOIN tokTot USING (tok) CROSS JOIN tot
         |  WHERE ct.c >= $TopicMinCount)
         |SELECT cell, rank, tok, round(lift, 4) AS lift, c AS n_in_cell FROM (
         |  SELECT cell, tok, c, lift,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY lift DESC, tok) AS INTEGER) AS rank
         |  FROM lifted)
         |WHERE rank <= $TopicTopN""".stripMargin)
}
