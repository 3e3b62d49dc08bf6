package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Similarity search over the `embeddings` table ([EXT]):
  * brute-force cosine top-k as the exact baseline, random-hyperplane
  * LSH bucketing as the scale path, and a pairwise near-dup query.
  *
  * All vector math is `zip_with`/`aggregate` array lambdas over
  * DOUBLE — codegen'd, no UDFs, and bit-identical to the DuckDB
  * oracle's sequential double summation.
  *
  * Scale design: brute-force top-k is O(queries × corpus) — fine for a
  * bounded query set (broadcast the queries, one pass over the corpus,
  * per-partition top-k via window). For corpus×corpus joins use
  * [[annLsh]]: signature bucketing turns the crossJoin into a
  * shuffle-on-bucket join whose cost follows true neighbor density.
  */
object Similarity {

  /** Compiled dot product (graft.functions.DotProduct — true codegen).
    * Its declarative twin lives with the specs (DeclarativeTwins).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(a, b)

  /** vec_id, v (double[]), nrm. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Exact cosine top-5 neighbors for a fixed query set (vec_id < 8).
    * The query side is tiny at every SF → Spark broadcasts it; the
    * corpus is scanned once, ranked per query.
    */
  def annCosine(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rn"), round(col("cos"), 6).as("cos_sim"))
  }

  /** HYBRID RETRIEVAL ([EXT]): reciprocal-rank fusion (RRF, k = 60) of
    * the BM25 lexical ranking ([[TextOps.searchBm25On]]) and the
    * embedding-cosine semantic ranking over the SAME held-out query
    * docs (doc_id < [[TextOps.SearchQueryDocs]]; the embedding of doc
    * i is vec i) — the standard two-tower serving recipe: each system
    * contributes floor(1e9 / (60 + rank)) for its top-10, scores add,
    * and the fused top-10 is returned with both source ranks exposed.
    * RRF needs no score normalization across systems, which is exactly
    * why production search uses it over raw-score mixing.
    *
    * Scale design: both input rankings are top-k·|queries| frames (the
    * corpus-side work is the two index probes the repo already pays —
    * inverted-index postings for BM25, one broadcast-query corpus scan
    * for cosine); the fusion itself is a full-outer join on (query,
    * doc) over those tiny frames plus a per-query window — nothing
    * here grows with the corpus beyond the underlying retrievers.
    *
    * Determinism: RRF contributions are floors of 1e9/(60+rk) — small
    * exact integers — so fused scores are integer sums and the final
    * (rrf DESC, doc_id) order carries no float risk; both source
    * rankings are the already-hash-gated orderings of search_bm25 and
    * ann_cosine.
    */
  def searchHybrid(s: SparkSession, d: String): DataFrame = {
    val qn = TextOps.SearchQueryDocs
    val lex = TextOps.searchBm25(s, d)
      .select(col("query_id"), col("doc_id"), col("rk").as("lex_rk"))
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < qn)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wSem = Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id").asc)
    val sem = all.filter(col("vec_id") >= qn)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
      .withColumn("sem_rk", row_number().over(wSem))
      .filter(col("sem_rk") <= TextOps.SearchTopK)
      .select(col("query_id"), col("doc_id"), col("sem_rk"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(floor(lit(1e9) / (lit(60) + col("lex_rk"))), lit(0L)) +
          coalesce(floor(lit(1e9) / (lit(60) + col("sem_rk"))), lit(0L)))
    val wf = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= TextOps.SearchTopK)
      .select(col("query_id"), col("doc_id"), col("rk"), col("rrf"),
        col("lex_rk"), col("sem_rk"))
  }

  /** Top-5 cosine search over the INT8-QUANTIZED vectors — the serving
    * path [[Embeddings.embedQuantize]]'s compression feeds: score on
    * q = floor((x−lo)/(hi−lo)·255+0.5)−128 (the same rails, via the
    * shared trainer), with per-query recall@5 against the exact float
    * ranking reported alongside. This is the memory/recall trade an
    * ANN index ships: 4-8× smaller vectors, integer dot products.
    *
    * Exactness contract: quantized components are small integers
    * carried in doubles, so every dot product is integer-EXACT in
    * both engines (≤ 128²·dim ≪ 2^53) and the operator sits under the
    * DuckDB hash gate — ties in the coarse quantized cosine break on
    * neighbor_id identically.
    *
    * Scale design: identical envelope to [[annCosine]] (tiny query
    * side broadcast, one corpus scan, per-query top-k window) plus the
    * dim-bounded rails collect; the recall join touches 5·|queries|
    * rows. At serving scale the quantized corpus is the resident set —
    * the float vectors are only read by the recall audit.
    */
  def annQuantized(s: SparkSession, d: String): DataFrame = {
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val rails = Embeddings.quantRailsOf(all)
    if (rails.isEmpty) {
      val sess = s
      import sess.implicits._
      return Seq.empty[(Long, Long, Int, Double, Double)]
        .toDF("query_id", "neighbor_id", "rn", "cos_q", "recall_at5")
    }
    val (loLit, hiLit) = rails.get
    val qvCol = transform(col("v"), (x, idx) => {
      val i = (idx + 1).cast("int")
      val lo = element_at(loLit, i)
      val hi = element_at(hiLit, i)
      when(hi > lo, floor((x - lo) / (hi - lo) * 255 + lit(0.5)) - 128)
        .otherwise(lit(0.0))
    })
    val qall = all.select(col("vec_id"), qvCol.as("qv"))
      .withColumn("nrm", sqrt(dot(col("qv"), col("qv"))))
    val q = qall.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nrm").as("qn"))
    val scored = qall.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        when(col("nrm") > 0 && col("qn") > 0,
          dot(col("qv"), col("qqv")) / (col("nrm") * col("qn")))
          .otherwise(lit(0.0)).as("cosq"))
    val w = Window.partitionBy("query_id").orderBy(col("cosq").desc, col("neighbor_id").asc)
    val top5 = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    val exact5 = annCosine(s, d).select(col("query_id"), col("neighbor_id"))
    val recall = top5.select("query_id", "neighbor_id")
      .join(exact5, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    top5.join(recall, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("cosq"), 6).as("cos_q"),
        (coalesce(col("hits"), lit(0L)).cast("double") / 5).as("recall_at5"))
  }

  /** MMR balance: score = MmrLam·rel − MmrOneMinusLam·max-sim-to-selected.
    * BOTH constants are explicit literals (1−0.7 ≠ 0.3 in IEEE double —
    * computing the complement would desync the oracle).
    */
  val MmrLam = 0.7
  val MmrOneMinusLam = 0.3
  /** Candidate pool per query (top-C by relevance) and selections. */
  val MmrPool = 40
  val MmrK = 10

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98):
    * for each query, fetch the top-[[MmrPool]] candidates by cosine,
    * then greedily select [[MmrK]] maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    * diversity-aware retrieval pass a RAG pipeline runs after ANN.
    *
    * Scale design: the candidate pool is a top-C window per query
    * (one corpus scan, broadcast query side — same envelope as
    * [[annCosine]]); the candidate-pair sim matrix is C²·|queries|
    * rows, BOUNDED by the pool constant, built once and `.stable`d.
    * Both bounded frames then collect once and the K greedy rounds run
    * in-JVM (the same bounded-driver-action contract as Kmeans's k·dim
    * rebuild — scheduling K jobs over constant-size frames would be
    * pure latency). The corpus is scanned exactly once regardless of K.
    *
    * Determinism across engines: relevance and pair sims are raw
    * doubles — DuckDB's list_dot_product sums left-to-right exactly
    * like the native DotProduct loop, so both engines see identical
    * IEEE values (the ann_cosine hash-match already certifies this);
    * the greedy arithmetic is then identical literal-times-identical-
    * double, and ties break on vec_id in both.
    */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("rel"),
        col("v"), col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("vec_id").asc)
    val cand = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MmrPool)
      .select(col("query_id"), col("vec_id"), col("rel"), col("v"), col("nrm"))
      .stable
    val sims = cand.as("a").join(cand.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"), col("a.vec_id").as("cand_id"),
        col("b.vec_id").as("sel_id"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .stable
    // The greedy selection runs over POOL-BOUNDED state — |queries| ·
    // MmrPool rel rows and |queries| · MmrPool² sim rows, constants
    // independent of corpus size — so both frames collect ONCE (the
    // same bounded-driver-action contract as Kmeans's k·dim rebuild)
    // and the K rounds are in-JVM argmax scans instead of K scheduled
    // jobs over tiny frames. The distributed work (corpus scan, top-C
    // window, sim matrix) is unchanged.
    val relRows = cand.select("query_id", "vec_id", "rel").collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
    val simRows = sims.collect()
      .map(row => ((row.getLong(0), row.getLong(1), row.getLong(2)), row.getDouble(3)))
      .toMap
    cand.unpersist(false)
    sims.unpersist(false)
    val selected = relRows.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      val pool = rows.map { case (_, id, rel) => (id, rel) }
        .sortBy { case (id, rel) => (-rel, id) }
      var sel = Vector.empty[Long]
      // bound ranks by the pool: a heavily-filtered query with fewer
      // than MmrK candidates emits a shorter ranking instead of
      // minBy-ing an empty remainder (the SQL oracle's per-round CTEs
      // likewise emit no row once the remainder is empty)
      (1 to math.min(MmrK, pool.size)).map { r =>
        val pick =
          if (r == 1) pool.head._1
          else pool.filterNot(c => sel.contains(c._1)).map { case (id, rel) =>
            val pen = sel.map(sid => simRows((qid, id, sid))).max
            (id, MmrLam * rel - MmrOneMinusLam * pen)
          }.minBy { case (id, mmr) => (-mmr, id) }._1
        sel :+= pick
        (qid, r, pick)
      }
    }
    selected.toDF("query_id", "rank", "neighbor_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  // 4 LSH tables × 8 random hyperplanes (deterministic pseudo-random
  // components; fixed at plan build). 8 bits/table → 256 buckets/table.
  // PUBLIC: HyperplaneSigs.annCol, GraftExtensions and the oracle SQL
  // derive from these — one definition so a retune cannot leave the
  // session-extension functions or the DuckDB mirrors on stale planes
  val AnnSeedBase = 0
  val NumTables = 4
  val PlanesPerTable = 8

  /** Approximate top-5 via multi-table hyperplane LSH: queries and
    * corpus hash into (table, signature) buckets; only same-bucket
    * pairs are scored. Recall is spec-checked against [[annCosine]] in
    * SimilaritySpec; not SQL-oracle-able (plan-time hyperplanes).
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val buckets = all.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(graft.functions.HyperplaneSigs.annCol(col("v"))))
      .toDF("vec_id", "v", "nrm", "table_id", "sig")
    val q = buckets.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("table_id"), col("sig"))
    val cand = buckets.as("c")
      .join(broadcast(q).as("qq"),
        col("c.table_id") === col("qq.table_id") && col("c.sig") === col("qq.sig") &&
          col("c.vec_id") =!= col("qq.query_id"))
      .select(col("qq.query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.v").as("v"), col("c.nrm").as("nrm"), col("qq.qv"), col("qq.qn"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rn"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Multi-probe LSH (Lv et al., VLDB'07): each query probes its exact
    * bucket PLUS the [[PlanesPerTable]] Hamming-1 sig flips per table —
    * the recall of many more tables at the memory cost of 4 (the
    * corpus is hashed and stored ONCE; only the tiny query side fans
    * out ×9). A Hamming-1 flip is exactly "one hyperplane voted
    * wrong", the dominant near-miss mode for near-threshold
    * neighbors. Candidate volume grows by the probe count bound, not
    * corpus size; everything else (bucket equi-join, exact verify,
    * top-5) is [[annLsh]] verbatim — and the whole probe expansion is
    * literal integer XOR, so the oracle extends the ann_lsh SQL with
    * one unnest of the 9 masks.
    */
  def annLshMultiprobe(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val buckets = all.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(graft.functions.HyperplaneSigs.annCol(col("v"))))
      .toDF("vec_id", "v", "nrm", "table_id", "sig")
    val masks = 0 +: (0 until PlanesPerTable).map(1 << _)
    val probes = buckets.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("table_id"),
        explode(array(masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("sig"))
    val cand = buckets.as("c")
      .join(broadcast(probes).as("qq"),
        col("c.table_id") === col("qq.table_id") && col("c.sig") === col("qq.sig") &&
          col("c.vec_id") =!= col("qq.query_id"))
      .select(col("qq.query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.v").as("v"), col("c.nrm").as("nrm"), col("qq.qv"), col("qq.qn"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rn"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Embedding-space decontamination: flag corpus vectors semantically
    * too close to any held-out eval vector — the semantic complement
    * of the n-gram `decontaminate` (paraphrased eval leakage has no
    * shingle overlap but lives at high cosine). Same plan law as the
    * n-gram form: the eval side broadcasts (eval sets are small by
    * construction), the corpus is scanned map-side once and never
    * shuffles beyond the flagged tail. Emits one row per CONTAMINATED
    * vector (eval-hit count, max cos, min hit id) — the review list a
    * curation pipeline acts on.
    *
    * Production thresholds for paraphrase contamination sit at
    * cos ≳ 0.9; the synthetic corpus is a near-orthogonal cloud (max
    * pairwise cos ≈ 0.51), so the registered entry uses 0.4 to
    * exercise a non-empty tail. Planted-contamination semantics are
    * spec-checked in SimilaritySpec via the On-form.
    */
  val DecontamCos = 0.4

  def decontaminateEmbeddingOn(corpus: DataFrame, eval: DataFrame,
      tau: Double = DecontamCos): DataFrame = {
    val ev = eval.select(col("vec_id").as("eval_id"), col("v").as("ev"),
      col("nrm").as("en"))
    corpus.join(broadcast(ev), col("vec_id") =!= col("eval_id"))
      .select(col("vec_id"), col("eval_id"),
        (dot(col("v"), col("ev")) / (col("nrm") * col("en"))).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_evals_hit"),
        round(max("cos"), 6).as("max_cos"),
        min("eval_id").as("first_eval_hit"))
  }

  def decontaminateEmbedding(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    decontaminateEmbeddingOn(all, all.filter(col("vec_id") < 8))
  }

  // IVF parameters: 16 coarse cells, queries probe the 2 nearest.
  private[queries] val NCells = 16
  private[graft] val NProbe = 2

  /** Coarse quantizer: deterministic seeds (vec_id < NCells) refined by
    * one Lloyd iteration over a BOUNDED deterministic training set
    * (vec_id < TrainCap — never rand(); retries must see the same
    * rows). Training runs DRIVER-SIDE on the collected sample: the
    * sample is O(TrainCap·Dim) ≈ 1 MB regardless of corpus size (the
    * vec_id predicate is pushed to the parquet scan), and offline
    * quantizer training is the standard IVF design — it removes four
    * shuffle stages (expand×cells, max_by regroup, per-dim mean,
    * re-collect) from every query run. Rows sorted by vec_id so the
    * summation order, and hence the centroids, are deterministic.
    * Returns per cell (centroid vector, centroid norm).
    */
  private val TrainCap = 2048

  private[queries] def trainCentroids(all: DataFrame,
      nCells: Int = NCells): Array[(Array[Double], Double)] = {
    val sample = all.filter(col("vec_id") < TrainCap)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val seeds = sample.filter(_._1 < nCells)
    def dotArr(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val dim = sample.head._2.length
    val sums = Array.fill(seeds.length, dim)(0.0)
    val counts = new Array[Long](seeds.length)
    sample.foreach { case (_, v, n) =>
      // argmax cosine; ties break to the smallest cell_id (first seed).
      var best = 0; var bestCos = Double.NegativeInfinity
      var c = 0
      while (c < seeds.length) {
        val cs = dotArr(v, seeds(c)._2) / (n * seeds(c)._3)
        if (cs > bestCos) { bestCos = cs; best = c }
        c += 1
      }
      var j = 0
      while (j < dim) { sums(best)(j) += v(j); j += 1 }
      counts(best) += 1
    }
    Array.tabulate(seeds.length) { c =>
      // every cell holds at least its own seed, so counts(c) >= 1
      val cv = sums(c).map(_ / counts(c))
      (cv, math.sqrt(dotArr(cv, cv)))
    }
  }

  /** Nearest-centroid cell id as a PURE MAP expression: the centroid
    * table is tiny (O(cells)) and fixed at plan build, so it folds into
    * literal arrays and assignment needs no join and no shuffle —
    * `greatest` over per-cell (cos, -cell_id) structs, ties to the
    * smallest cell_id (same order `max_by(struct(cos, -cell_id))` used).
    */
  private[queries] def bestCellCol(v: Column, nrm: Column,
      cents: Array[(Array[Double], Double)]): Column = {
    val scored = cents.zipWithIndex.map { case ((cv, cn), i) =>
      struct((dot(v, array(cv.map(lit).toIndexedSeq: _*)) / (nrm * lit(cn))).as("ccos"),
        lit(-i).as("neg_cell"))
    }
    -greatest(scored.toIndexedSeq: _*).getField("neg_cell")
  }

  /** The NProbe nearest cell ids, map-only like [[bestCellCol]]:
    * array_sort on (-cos, cell_id) structs, slice NProbe.
    */
  private[queries] def probeCellsCol(v: Column, nrm: Column,
      cents: Array[(Array[Double], Double)]): Column =
    probeCellsColK(v, nrm, cents, NProbe)

  /** The k nearest cell ids (cosine to the literal centroids,
    * ties → smallest cell), nearest first — [[probeCellsCol]] with the
    * probe depth as a parameter (the nprobe recall curve sweeps it).
    */
  private[graft] def probeCellsColK(v: Column, nrm: Column,
      cents: Array[(Array[Double], Double)], k: Int): Column = {
    val scored = cents.zipWithIndex.map { case ((cv, cn), i) =>
      struct((-(dot(v, array(cv.map(lit).toIndexedSeq: _*)) / (nrm * lit(cn)))).as("negcos"),
        lit(i).as("cell_id"))
    }
    transform(slice(array_sort(array(scored.toIndexedSeq: _*)), 1, k), x => x.getField("cell_id"))
  }

  /** IVF (inverted-file) ANN — the cluster-then-probe scale path:
    * corpus vectors are bucketed by nearest coarse centroid (the
    * inverted lists); each query scores only the NProbe nearest cells'
    * lists — a (NProbe/NCells) fraction of the corpus instead of all
    * of it. Plan shape: centroid assignment is map-only (literal
    * centroids — no join, no shuffle over the corpus), the probe table
    * is O(queries·NProbe) and broadcast, so the only shuffle is the
    * per-query top-k window over the scored candidate fraction. Recall
    * spec-checked against [[annCosine]]; rows-only for the driver
    * (plan-time trained centroids aren't SQL-expressible).
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val cents = trainCentroids(all)
    val assigned = all.withColumn("cell_id", bestCellCol(col("v"), col("nrm"), cents))
    val probes = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probeCellsCol(col("v"), col("nrm"), cents)).as("cell_id"))
    val wTop = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rn"), round(col("cos"), 6).as("cos_sim"))
  }

  // Dedup-LSH parameters: recall is tuned for NEAR-DUP pairs (cos ≳
  // 0.95 — what embedding dedup hunts), not arbitrary similarity:
  // 12 bits/table keeps random-pair collisions ≈ (1-θ/π)^12 ≈ 0.5% at
  // cos 0.45 while 6 tables push near-dup recall > 0.999. At a bigger
  // corpus, raise bits ≈ log2(n / wanted-bucket-size): bucket count
  // scales with the corpus, candidate count stays ∝ true near-dups.
  // Plane seeds start past the ANN tables' 0..31 so the families are
  // independent.
  val DedupSeedBase = 1000
  val DedupTables = 6
  val DedupBits = 12

  /** Scale form of [[dedupEmbedding]]: hyperplane-LSH bucket candidates
    * + exact cosine verify — the minhashPairs shape for vectors. Corpus
    * hashes into (table, signature) buckets; in-bucket pairs expand via
    * array lambdas (no self-join on the signature subtree), then the
    * two vec-fetch joins hash-partition the same subplan by vec_id so
    * Catalyst reuses one exchange. No BroadcastNestedLoopJoin anywhere
    * (plan guard-tested); cost ∝ corpus + near-dup candidates, never
    * n². Near-dup recall spec-checked on planted corpora against the
    * exact form; rows-only for the driver (plan-time hyperplanes).
    */
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame =
    embeddingLshPairs(Tables.embeddings(s, d))

  /** Core pipeline over any (vec_id, embedding) DataFrame (spec tests
    * feed planted near-dup corpora here). Top-50 verified pairs.
    */
  def embeddingLshPairs(embeddings: DataFrame): DataFrame = {
    val all = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    // posexplode_outer: keeps InferFiltersFromGenerate from pushing a
    // filter that re-evaluates the signature expression (the sig
    // array is never null/empty).
    val buckets = all
      .select(col("vec_id"),
        posexplode_outer(graft.functions.HyperplaneSigs.dedupCol(col("v"))))
      .toDF("vec_id", "table_id", "sig")
    val cand = buckets
      .groupBy("table_id", "sig")
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(least(a, b).as("vec_a"), greatest(a, b).as("vec_b")))))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      .distinct()
    cand
      .join(all.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(all.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(50)
  }

  /** Embedding near-dup pairs: top-50 cosine pairs over a bounded slice
    * (vec_id < 2000 — keeps the exact pairwise form bounded at any SF;
    * it is the ORACLE BASELINE for [[dedupEmbeddingLsh]], the unbounded
    * scale path).
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).filter(col("vec_id") < 2000)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(50)
  }

  /** Cosine threshold for incremental embedding ingest. The synthetic
    * corpus tops out near cos 0.51 pairwise, so 0.45 exercises real
    * drops at the oracle gate while staying in the near-dup regime on
    * planted spec corpora.
    */
  val IncrEmbedTau = 0.45

  /** Incremental embedding ingest, exact form: batch vectors
    * (vec_id % 5 == 0) survive unless some corpus vector sits at
    * cosine >= tau. Bounded to vec_id < 2000 like [[dedupEmbedding]] —
    * the pairwise cross is the ORACLE BASELINE for
    * [[dedupIncrementalEmbeddingLsh]], the unbounded scale path.
    */
  def dedupIncrementalEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 2000)
    incrementalEmbeddingNew(
      batch = e.filter(col("vec_id") % 5 === 0),
      corpus = e.filter(col("vec_id") % 5 =!= 0), IncrEmbedTau, lshCandidates = false)
  }

  /** Scale form: the embedding face of Dedup.dedupIncrementalMinhash.
    * Candidates come from a cross-side equi-join of the two sides'
    * (table, signature) hyperplane-LSH bucket tables — co-partitioned
    * shuffle, linear in rows; batch fan-out per bucket is
    * |batch∩bucket| × |corpus∩bucket| with the batch factor tiny by
    * construction in incremental ingest. Exact cosine verify collapses
    * candidates to true near-dups. Rows-only for the driver
    * (plan-time hyperplanes); ≡-exact on planted corpora in
    * SimilaritySpec.
    */
  def dedupIncrementalEmbeddingLsh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    incrementalEmbeddingNew(
      batch = e.filter(col("vec_id") % 5 === 0),
      corpus = e.filter(col("vec_id") % 5 =!= 0), IncrEmbedTau, lshCandidates = true)
  }

  /** Core of both incremental forms over any (vec_id, embedding)
    * sides: batch vec_ids with NO corpus vector at cosine >= tau.
    * Zero-norm batch vectors (cosine undefined) always survive —
    * the kept=1 convention of [[semDedupOn]]. `lshCandidates` picks
    * the candidate producer: hyperplane-LSH bucket equi-join (scale
    * path) or the full cross (exact baseline; caller bounds the sides).
    */
  def incrementalEmbeddingNew(batch: DataFrame, corpus: DataFrame,
      tau: Double, lshCandidates: Boolean): DataFrame = {
    def prep(df: DataFrame, idc: String, vc: String, nc: String): DataFrame = df
      .select(col("vec_id").as(idc), col("embedding").cast("array<double>").as(vc))
      .withColumn(nc, sqrt(dot(col(vc), col(vc))))
      .filter(col(nc) > 0)
    val b = prep(batch, "vec_id", "vb", "nb")
    val c = prep(corpus, "cid", "vc", "nc")
    val pairs =
      if (!lshCandidates) b.join(c, col("vec_id").isNotNull)
      else {
        def bandsOf(df: DataFrame, idc: String, vc: String): DataFrame = df
          .select(col(idc),
            posexplode_outer(graft.functions.HyperplaneSigs.dedupCol(col(vc))))
          .toDF(idc, "table_id", "sig")
        bandsOf(b, "vec_id", "vb").join(bandsOf(c, "cid", "vc"), Seq("table_id", "sig"))
          .select("vec_id", "cid").distinct()
          .join(b, "vec_id").join(c, "cid")
      }
    val dropped = pairs
      .filter(dot(col("vb"), col("vc")) / (col("nb") * col("nc")) >= tau)
      .select("vec_id").distinct()
    batch.select("vec_id").join(dropped, Seq("vec_id"), "left_anti")
  }

  // SemDeDup cosine gate: the corpus has no true duplicate vectors
  // (max pairwise cos ≈ 0.51), so the gate sits in the
  // diversity-pruning regime — the paper (Abbas et al. 2023) likewise
  // tunes ε to a kept-data budget, not to exact-dup similarity.
  private val SemTau = 0.4

  /** SemDeDup (Abbas et al. 2023): semantic dedup via k-means — assign
    * every vector to its nearest coarse centroid, compare pairs ONLY
    * within a cluster, and drop any vector with a higher-similarity
    * (cos ≥ τ) neighbor of smaller vec_id; the minimum of each
    * within-cluster dup group survives. One row per vector:
    * (vec_id, cell_id, kept).
    *
    * Scale shape: centroid assignment is the IVF map-only expression
    * (literal centroids — no join, no corpus shuffle); within-cell
    * pairs expand via the two-stage posexplode (per-row memory O(k));
    * the verify joins hash-partition one subplan by vec_id (exchange
    * reuse). Cluster count is the knob (the paper uses ~10k-100k
    * clusters): `nCells` is a parameter of [[semDedupOn]], and the
    * default derives from the corpus size (n / 64-vector target cells,
    * clamped to [16, TrainCap/4]) so cell population — and the Σk²
    * pair cost — stays bounded as the corpus grows. Zero-norm vectors
    * (cosine undefined) are emitted with a NULL cell_id and kept=1.
    * Centroids are plan-time trained (not SQL-expressible) → rows-only
    * for the driver; semantics spec-checked on planted corpora in
    * SimilaritySpec.
    */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupOn(Tables.embeddings(s, d), SemTau)

  /** Core pipeline over any (vec_id, embedding) DataFrame. One row per
    * input vector: (vec_id, cell_id, kept) — zero-norm vectors get
    * (vec_id, NULL, 1). `nCells` <= 0 derives the cell count from the
    * corpus size (one cheap count job — at 100 TB pass it explicitly).
    */
  def semDedupOn(embeddings: DataFrame, tau: Double, nCells: Int = 0): DataFrame = {
    val all = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val cells =
      if (nCells > 0) nCells
      else math.max(NCells, math.min(TrainCap / 4,
        math.ceil(embeddings.count() / 64.0).toInt))
    val cents = trainCentroids(all, cells)
    val assigned = all.withColumn("cell_id", bestCellCol(col("v"), col("nrm"), cents))
    // Each vector sits in exactly one cell, so in-cell pairs are unique
    // (no distinct needed, unlike multi-table LSH bucketing).
    val cand = assigned
      .groupBy("cell_id")
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => struct(least(col("a"), b).as("vec_a"), greatest(col("a"), b).as("vec_b")))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
    val dropped = cand
      .join(all.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(all.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
      .select(col("vec_b").as("vec_id"))
      .distinct()
    // Zero-norm vectors (cosine undefined — excluded from clustering)
    // still get a verdict row: NULL cell, kept=1, preserving the
    // one-row-per-input-vector contract.
    val zeros = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(not(coalesce(col("nrm") > 0, lit(false))))
      .select(col("vec_id"), lit(null).cast("int").as("cell_id"), lit(1).as("kept"))
    assigned
      .join(dropped.withColumn("is_dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        col("is_dup").isNull.cast("int").as("kept"))
      .unionByName(zeros)
  }

  /** Prefix lengths evaluated by [[annTruncationCurve]]. */
  val TruncDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka-style TRUNCATION CURVE (Kusupati et al. 2022): recall@5
    * of cosine search over only the first k dims (k ∈ [[TruncDims]])
    * vs the full-dimension exact ranking — the storage/quality dial a
    * large vector store tunes (half the dims = half the bytes scanned;
    * MRL-trained embeddings keep most recall at small k, and this
    * measures exactly how much THIS corpus keeps). Emits one row per
    * (k, query): hit count and recall@5.
    *
    * Scale shape: each leg is the ann_cosine plan over a NARROWER
    * projection (the slice happens before the broadcast join, so leg k
    * moves k/64 of the float volume); the curve is |dims|·|queries|
    * rows. Exactness: same certified dot/norm chain per leg, discrete
    * hit counts — full hash gate.
    */
  def annTruncationCurve(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).stable
    val exact5 = {
      val q = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("query_id", "neighbor_id")
    }.stable
    val legs = TruncDims.map { k =>
      val base = all.select(col("vec_id"), slice(col("v"), 1, k).as("vk"))
        .withColumn("nk", sqrt(dot(col("vk"), col("vk"))))
      val q = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("vk").as("qk"), col("nk").as("qn"))
      val scored = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("vk"), col("qk")) / (col("nk") * col("qn"))).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      val hits = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("query_id", "neighbor_id")
        .join(exact5, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      q.select("query_id").join(hits, Seq("query_id"), "left")
        .select(lit(k).as("dim_k"), col("query_id"),
          coalesce(col("hits"), lit(0L)).as("n_hits"),
          (coalesce(col("hits"), lit(0L)) / lit(5.0)).as("recall_at5"))
    }
    legs.reduce(_ unionAll _)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_cosine" -> annCosine,
    "ann_truncation_curve" -> annTruncationCurve,
    "search_hybrid" -> searchHybrid,
    "ann_quantized" -> annQuantized,
    "mmr_rerank" -> mmrRerank,
    "decontaminate_embedding" -> decontaminateEmbedding,
    "ann_lsh" -> annLsh,
    "ann_lsh_multiprobe" -> annLshMultiprobe,
    "ann_ivf" -> annIvf,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
    "dedup_incremental_embedding" -> dedupIncrementalEmbedding,
    "dedup_incremental_embedding_lsh" -> dedupIncrementalEmbeddingLsh,
    "semdedup" -> semDedup)

  def oracleSql: Map[String, String] = Map(
    "search_hybrid" ->
      ("WITH " + TextOps.searchBm25SqlCtes + ",\n" +
        s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           |                              CAST(embedding AS DOUBLE[]))) AS nrm
           |      FROM embeddings),
           |semall AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           |    CAST(row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
           |               c.vec_id) AS INTEGER) AS sem_rk
           |  FROM e c JOIN e q
           |    ON q.vec_id < ${TextOps.SearchQueryDocs}
           |   AND c.vec_id >= ${TextOps.SearchQueryDocs}),
           |sem AS (SELECT query_id, doc_id, sem_rk FROM semall
           |        WHERE sem_rk <= ${TextOps.SearchTopK}),
           |f AS (
           |  SELECT query_id, doc_id, l.rk AS lex_rk, s.sem_rk,
           |    CAST(coalesce(floor(1000000000.0 / (60 + l.rk)), 0) +
           |         coalesce(floor(1000000000.0 / (60 + s.sem_rk)), 0) AS BIGINT) AS rrf
           |  FROM lex l FULL OUTER JOIN sem s USING (query_id, doc_id))
           |SELECT query_id, doc_id, rk, rrf, lex_rk, sem_rk FROM (
           |  SELECT query_id, doc_id,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY rrf DESC, doc_id) AS INTEGER) AS rk,
           |    rrf, lex_rk, sem_rk
           |  FROM f)
           |WHERE rk <= ${TextOps.SearchTopK}""".stripMargin),
    "decontaminate_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |hits AS (
        |  SELECT c.vec_id, q.vec_id AS eval_id,
        |    list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cos
        |  FROM e c JOIN e q ON q.vec_id < 8 AND c.vec_id <> q.vec_id
        |  WHERE list_dot_product(c.v, q.v) / (c.nrm * q.nrm) >= 0.4)
        |SELECT vec_id, count(*) AS n_evals_hit,
        |  round(max(cos), 6) AS max_cos,
        |  min(eval_id) AS first_eval_hit
        |FROM hits GROUP BY vec_id""".stripMargin,
    "ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |dims AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(v)) AS INTEGER) FROM e))) AS i),
        |sample AS (SELECT * FROM e WHERE vec_id < 2048),
        |seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
        |         v, nrm
        |  FROM sample WHERE vec_id < 16),
        |sassign AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT sa.vec_id, sa.v, sd.cell,
        |      row_number() OVER (PARTITION BY sa.vec_id
        |        ORDER BY list_dot_product(sa.v, sd.v) / (sa.nrm * sd.nrm) DESC,
        |                 sd.cell) AS rn
        |    FROM sample sa CROSS JOIN seeds sd)
        |  WHERE rn = 1),
        |centn AS (
        |  SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM (
        |    SELECT cell, list(s / n ORDER BY i) AS cv FROM (
        |      SELECT sa.cell, d.i, sum(sa.v[d.i]) AS s, count(*) AS n
        |      FROM sassign sa CROSS JOIN dims d WHERE d.i <= len(sa.v)
        |      GROUP BY sa.cell, d.i)
        |    GROUP BY cell)),
        |assigned AS (
        |  SELECT vec_id, cell AS cell_id FROM (
        |    SELECT e.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
        |                 c.cell) AS rn
        |    FROM e CROSS JOIN centn c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell_id FROM (
        |    SELECT e.vec_id, c.cell AS cell_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
        |                 c.cell) AS rn
        |    FROM e CROSS JOIN centn c WHERE e.vec_id < 8)
        |  WHERE rn <= 2)
        |SELECT query_id, neighbor_id, rn, cos_sim FROM (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_dot_product(en.v, eq.v) / (en.nrm * eq.nrm) DESC,
        |               a.vec_id) AS INTEGER) AS rn,
        |    round(list_dot_product(en.v, eq.v) / (en.nrm * eq.nrm), 6) AS cos_sim
        |  FROM probes p
        |  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
        |  JOIN e en ON en.vec_id = a.vec_id
        |  JOIN e eq ON eq.vec_id = p.query_id)
        |WHERE rn <= 5""".stripMargin,
    "semdedup" ->
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM raw),
        |f AS (SELECT * FROM e WHERE nrm > 0),
        |nc AS (SELECT GREATEST(16, LEAST(512,
        |         CAST(ceil(count(*) / 64.0) AS INTEGER))) AS k FROM embeddings),
        |dims AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(v)) AS INTEGER) FROM f))) AS i),
        |sample AS (SELECT * FROM f WHERE vec_id < 2048),
        |seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
        |         v, nrm
        |  FROM sample CROSS JOIN nc WHERE vec_id < nc.k),
        |sassign AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT sa.vec_id, sa.v, sd.cell,
        |      row_number() OVER (PARTITION BY sa.vec_id
        |        ORDER BY list_dot_product(sa.v, sd.v) / (sa.nrm * sd.nrm) DESC,
        |                 sd.cell) AS rn
        |    FROM sample sa CROSS JOIN seeds sd)
        |  WHERE rn = 1),
        |centn AS (
        |  SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM (
        |    SELECT cell, list(s / n ORDER BY i) AS cv FROM (
        |      SELECT sa.cell, d.i, sum(sa.v[d.i]) AS s, count(*) AS n
        |      FROM sassign sa CROSS JOIN dims d WHERE d.i <= len(sa.v)
        |      GROUP BY sa.cell, d.i)
        |    GROUP BY cell)),
        |assigned AS (
        |  SELECT vec_id, cell AS cell_id FROM (
        |    SELECT f.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY f.vec_id
        |        ORDER BY list_dot_product(f.v, c.cv) / (f.nrm * c.cn) DESC,
        |                 c.cell) AS rn
        |    FROM f CROSS JOIN centn c)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM assigned a JOIN assigned b
        |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
        |dropped AS (
        |  SELECT DISTINCT cand.vec_b AS vec_id
        |  FROM cand JOIN f fa ON fa.vec_id = cand.vec_a
        |            JOIN f fb ON fb.vec_id = cand.vec_b
        |  WHERE list_dot_product(fa.v, fb.v) / (fa.nrm * fb.nrm) >= ${SemTau})
        |SELECT a.vec_id, a.cell_id,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
        |UNION ALL
        |SELECT vec_id, CAST(NULL AS INTEGER) AS cell_id, 1 AS kept
        |FROM e WHERE NOT coalesce(nrm > 0, FALSE)""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |f AS (SELECT * FROM e WHERE nrm > 0),
        |planes AS (SELECT ts.t AS t, ps.p AS p,
        |             list_transform(generate_series(0, 63),
        |               j -> sin(CAST((${DedupSeedBase} + ts.t * ${DedupBits} + ps.p) * 64 + j + 1 AS DOUBLE))) AS pl
        |           FROM generate_series(0, ${DedupTables - 1}) ts(t), generate_series(0, ${DedupBits - 1}) ps(p)),
        |sigs AS (SELECT f.vec_id, planes.t AS table_id,
        |           sum(CASE WHEN list_dot_product(f.v, planes.pl) > 0
        |                    THEN 1 << planes.p ELSE 0 END) AS sig
        |         FROM f CROSS JOIN planes GROUP BY f.vec_id, planes.t),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |         FROM sigs a JOIN sigs b
        |           ON a.table_id = b.table_id AND a.sig = b.sig
        |          AND a.vec_id < b.vec_id),
        |scored AS (SELECT cand.vec_a, cand.vec_b,
        |             round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) AS cos_sim
        |           FROM cand JOIN f ea ON ea.vec_id = cand.vec_a
        |                     JOIN f eb ON eb.vec_id = cand.vec_b)
        |SELECT vec_a, vec_b, cos_sim FROM scored
        |ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 50""".stripMargin,
    "dedup_incremental_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |bb AS (SELECT * FROM e WHERE vec_id % 5 = 0 AND nrm > 0),
        |cc AS (SELECT * FROM e WHERE vec_id % 5 <> 0 AND nrm > 0),
        |planes AS (SELECT ts.t AS t, ps.p AS p,
        |             list_transform(generate_series(0, 63),
        |               j -> sin(CAST((${DedupSeedBase} + ts.t * ${DedupBits} + ps.p) * 64 + j + 1 AS DOUBLE))) AS pl
        |           FROM generate_series(0, ${DedupTables - 1}) ts(t), generate_series(0, ${DedupBits - 1}) ps(p)),
        |bsig AS (SELECT bb.vec_id, planes.t AS table_id,
        |           sum(CASE WHEN list_dot_product(bb.v, planes.pl) > 0
        |                    THEN 1 << planes.p ELSE 0 END) AS sig
        |         FROM bb CROSS JOIN planes GROUP BY bb.vec_id, planes.t),
        |csig AS (SELECT cc.vec_id AS cid, planes.t AS table_id,
        |           sum(CASE WHEN list_dot_product(cc.v, planes.pl) > 0
        |                    THEN 1 << planes.p ELSE 0 END) AS sig
        |         FROM cc CROSS JOIN planes GROUP BY cc.vec_id, planes.t),
        |cand AS (SELECT DISTINCT b.vec_id, c.cid
        |         FROM bsig b JOIN csig c
        |           ON b.table_id = c.table_id AND b.sig = c.sig),
        |dropped AS (SELECT DISTINCT cand.vec_id
        |            FROM cand JOIN bb ON bb.vec_id = cand.vec_id
        |                      JOIN cc ON cc.vec_id = cand.cid
        |            WHERE list_dot_product(bb.v, cc.v) / (bb.nrm * cc.nrm)
        |                    >= ${IncrEmbedTau})
        |SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0
        |  AND vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    "ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |planes AS (SELECT ts.t AS t, ps.p AS p,
        |             list_transform(generate_series(0, 63),
        |               j -> sin(CAST((${AnnSeedBase} + ts.t * ${PlanesPerTable} + ps.p) * 64 + j + 1 AS DOUBLE))) AS pl
        |           FROM generate_series(0, ${NumTables - 1}) ts(t), generate_series(0, ${PlanesPerTable - 1}) ps(p)),
        |sigs AS (SELECT e.vec_id, planes.t AS table_id,
        |           sum(CASE WHEN list_dot_product(e.v, planes.pl) > 0
        |                    THEN 1 << planes.p ELSE 0 END) AS sig
        |         FROM e CROSS JOIN planes GROUP BY e.vec_id, planes.t),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |         FROM sigs q JOIN sigs c
        |           ON q.vec_id < 8 AND c.table_id = q.table_id AND c.sig = q.sig
        |          AND c.vec_id <> q.vec_id),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |             list_dot_product(ec.v, eq.v) / (ec.nrm * eq.nrm) AS cos
        |           FROM cand JOIN e ec ON ec.vec_id = cand.neighbor_id
        |                     JOIN e eq ON eq.vec_id = cand.query_id)
        |SELECT query_id, neighbor_id, rn, cos_sim FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn,
        |    round(cos, 6) AS cos_sim
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin,
    "ann_lsh_multiprobe" -> {
      val maskList = (0 +: (0 until PlanesPerTable).map(1 << _)).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |planes AS (SELECT ts.t AS t, ps.p AS p,
        |             list_transform(generate_series(0, 63),
        |               j -> sin(CAST((${AnnSeedBase} + ts.t * ${PlanesPerTable} + ps.p) * 64 + j + 1 AS DOUBLE))) AS pl
        |           FROM generate_series(0, ${NumTables - 1}) ts(t), generate_series(0, ${PlanesPerTable - 1}) ps(p)),
        |sigs AS (SELECT e.vec_id, planes.t AS table_id,
        |           CAST(sum(CASE WHEN list_dot_product(e.v, planes.pl) > 0
        |                    THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS sig
        |         FROM e CROSS JOIN planes GROUP BY e.vec_id, planes.t),
        |qpr AS (SELECT vec_id, table_id, xor(sig, CAST(m AS BIGINT)) AS sig
        |        FROM sigs CROSS JOIN (SELECT unnest($maskList) AS m)
        |        WHERE vec_id < 8),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |         FROM qpr q JOIN sigs c
        |           ON c.table_id = q.table_id AND c.sig = q.sig
        |          AND c.vec_id <> q.vec_id),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |             list_dot_product(ec.v, eq.v) / (ec.nrm * eq.nrm) AS cos
        |           FROM cand JOIN e ec ON ec.vec_id = cand.neighbor_id
        |                     JOIN e eq ON eq.vec_id = cand.query_id)
        |SELECT query_id, neighbor_id, rn, cos_sim FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rn,
        |    round(cos, 6) AS cos_sim
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin
    },
    // quantized serving path: rails trained in SQL exactly like the
    // embed_quantize oracle, integer-exact dot products in doubles,
    // recall@5 vs the exact float ranking joined per query
    "ann_quantized" ->
      """WITH dims AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(embedding)) AS INTEGER) FROM embeddings))) AS i),
        |st AS (
        |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
        |    max(CAST(embedding[i] AS DOUBLE)) AS hi
        |  FROM embeddings, dims WHERE i <= len(embedding) GROUP BY i),
        |qrows AS (
        |  SELECT vec_id, st.i,
        |    CASE WHEN hi > lo
        |         THEN floor((CAST(embedding[st.i] AS DOUBLE) - lo)
        |                    / (hi - lo) * 255 + 0.5) - 128
        |         ELSE 0.0 END AS q
        |  FROM embeddings JOIN st ON st.i <= len(embedding)),
        |qvt AS (SELECT vec_id, list(q ORDER BY i) AS qv FROM qrows GROUP BY vec_id),
        |e AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM qvt),
        |sc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN c.nrm > 0 AND q.nrm > 0
        |         THEN list_dot_product(c.qv, q.qv) / (c.nrm * q.nrm)
        |         ELSE 0.0 END AS cosq
        |  FROM e c JOIN e q ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |t5 AS (
        |  SELECT query_id, neighbor_id, rn, cosq FROM (
        |    SELECT query_id, neighbor_id, cosq,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosq DESC, neighbor_id) AS INTEGER) AS rn
        |    FROM sc) WHERE rn <= 5),
        |ef AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[]))) AS nrm
        |       FROM embeddings),
        |x5 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
        |                 c.vec_id) AS rn
        |    FROM ef c JOIN ef q ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |rc AS (SELECT t5.query_id, count(*) AS hits
        |       FROM t5 JOIN x5 USING (query_id, neighbor_id)
        |       GROUP BY t5.query_id)
        |SELECT t5.query_id, t5.neighbor_id, t5.rn, round(t5.cosq, 6) AS cos_q,
        |  CAST(coalesce(rc.hits, 0) AS DOUBLE) / 5 AS recall_at5
        |FROM t5 LEFT JOIN rc ON rc.query_id = t5.query_id""".stripMargin,
    "ann_truncation_curve" -> {
      val legs = TruncDims.map { k =>
        s"""t$k AS (SELECT vec_id, v[1:$k] AS vk,
           |          sqrt(list_dot_product(v[1:$k], v[1:$k])) AS nk FROM e),
           |top$k AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY list_dot_product(c.vk, q.vk) / (c.nk * q.nk) DESC,
           |                 c.vec_id) AS rn
           |    FROM t$k c JOIN t$k q ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
           |  WHERE rn <= 5),
           |h$k AS (
           |  SELECT t.query_id, count(*) AS hits
           |  FROM top$k t JOIN ex ON ex.query_id = t.query_id
           |            AND ex.neighbor_id = t.neighbor_id
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val union = TruncDims.map { k =>
        s"""SELECT CAST($k AS INTEGER) AS dim_k, q.vec_id AS query_id,
           |  CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits,
           |  coalesce(h.hits, 0) / 5.0 AS recall_at5
           |FROM e q LEFT JOIN h$k h ON h.query_id = q.vec_id
           |WHERE q.vec_id < 8""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |en AS (SELECT vec_id, v,
         |         sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
         |                 c.vec_id) AS rn
         |    FROM en c JOIN en q ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
         |  WHERE rn <= 5),
         |$legs
         |$union""".stripMargin
    },
    "ann_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings)
        |SELECT query_id, neighbor_id, rn, cos_sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
        |               c.vec_id) AS INTEGER) AS rn,
        |    round(list_dot_product(c.v, q.v) / (c.nrm * q.nrm), 6) AS cos_sim
        |  FROM e c JOIN e q ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 5""".stripMargin,
    "mmr_rerank" -> {
      // K greedy selections unrolled as chained CTEs. Arithmetic
      // mirrors mmrRerank term by term: raw-double rel/sims
      // (list_dot_product ≡ the native DotProduct loop — certified by
      // the ann_cosine hash match), explicit 0.7/0.3 literals, vec_id
      // tie-break. sel_i MATERIALIZED: referenced by the anti-join,
      // the penalty join, and sel_{i+1}.
      val rounds = (2 to MmrK).map { i =>
        s"""pick$i AS (
           |  SELECT query_id, vec_id, $i AS rank FROM (
           |    SELECT c.query_id, c.vec_id,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY $MmrLam * c.rel - $MmrOneMinusLam * p.pen DESC,
           |                 c.vec_id) AS rk
           |    FROM cand c
           |    JOIN (SELECT s.query_id, s.cand_id, max(s.sim) AS pen
           |          FROM sims s JOIN sel${i - 1} t
           |            ON t.query_id = s.query_id AND t.vec_id = s.sel_id
           |          GROUP BY s.query_id, s.cand_id) p
           |      ON p.query_id = c.query_id AND p.cand_id = c.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
           |                      WHERE x.query_id = c.query_id
           |                        AND x.vec_id = c.vec_id))
           |  WHERE rk = 1),
           |sel$i AS MATERIALIZED (
           |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[]))) AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v, nrm FROM e WHERE vec_id < 8),
         |cand AS MATERIALIZED (
         |  SELECT query_id, vec_id, rel, v, nrm FROM (
         |    SELECT q.query_id, c.vec_id,
         |      list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS rel,
         |      c.v, c.nrm,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
         |                 c.vec_id) AS rn
         |    FROM e c JOIN q ON c.vec_id <> q.query_id)
         |  WHERE rn <= $MmrPool),
         |sims AS MATERIALIZED (
         |  SELECT a.query_id, a.vec_id AS cand_id, b.vec_id AS sel_id,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
         |sel1 AS MATERIALIZED (
         |  SELECT query_id, vec_id, 1 AS rank FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rel DESC, vec_id) AS rk
         |    FROM cand) WHERE rk = 1),
         |$rounds
         |SELECT query_id, CAST(rank AS INTEGER) AS rank,
         |       vec_id AS neighbor_id
         |FROM sel$MmrK""".stripMargin
    },
    "dedup_incremental_embedding" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings WHERE vec_id < 2000),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM e b JOIN e c
        |    ON b.vec_id % 5 = 0 AND c.vec_id % 5 <> 0
        |   AND b.nrm > 0 AND c.nrm > 0
        |   AND list_dot_product(b.v, c.v) / (b.nrm * c.nrm) >= ${IncrEmbedTau})
        |SELECT vec_id FROM embeddings
        |WHERE vec_id < 2000 AND vec_id % 5 = 0
        |  AND vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings WHERE vec_id < 2000)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 50""".stripMargin)
}
