package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Product-quantization ANN ([EXT]) — the codebook-compressed serving
  * path (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011). The 64-dim unit vector is split into
  * [[SubM]] = 4 subspaces of [[SubDim]] = 16 dims; each subspace gets
  * its own [[Ks]] = 16-centroid codebook (Lloyd on a deterministic
  * sample), so a vector compresses to 4 codes = 4 bytes — 64× smaller
  * than the float64 original. Search is asymmetric distance
  * computation (ADC): the query stays float, each subspace contributes
  * dot(q_m, codebook_m[code_m]) via a per-query 4×16 lookup table, and
  * the corpus scan does 4 table lookups + 3 adds per vector instead of
  * 64 multiply-adds over 512 bytes.
  *
  * Scale design: training collects one [[PqTrainCap]]-vector sample
  * (bounded O(cap·dim) driver state — the IVF trainer's contract);
  * codebooks and the per-query LUTs are plan-time literals, so
  * ENCODING is a pure map (argmin over 16 literal centroids per
  * subspace, inside codegen — no join, no shuffle) and SCORING is one
  * corpus scan with a broadcast 8-row query side + per-query top-k
  * window. At serving scale the 4-byte codes are the resident set; the
  * float vectors are only read by the recall audit. Compose with the
  * IVF cell routing (ann_ivf) for the classic IVF-PQ index.
  *
  * Determinism: seeds are the first Ks sample subvectors, fixed
  * rounds, argmin ties to the smallest cell id — the same contract as
  * [[Kmeans]], so the whole trainer unrolls into DuckDB CTEs and the
  * discrete codes + rounded ADC scores hash-match across engines
  * (assignment/ranking margins sit orders of magnitude above the
  * ~1e-15 float-sum merge-order noise).
  */
object Pq {

  /** Subspace count × subspace width = the 64-dim embedding layout. */
  val SubM = 4
  val SubDim = 16
  /** Centroids per subspace codebook (4-bit codes). */
  val Ks = 16
  /** Lloyd rounds per subspace. */
  val PqIters = 3
  /** Training sample: vectors with vec_id < cap (deterministic — never
    * rand(); retries must see the same codebook).
    */
  val PqTrainCap = 512
  /** Query set (vec_id < QueryCap) and result depth, shared with the
    * other ANN entries so recall is comparable across index types.
    */
  val QueryCap = 8
  val TopK = 5

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(a, b)

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** argmin_c ||c||² − 2·x·c with ties to the smallest cell — the
    * exact formula the SQL twin ranks by (the ||x||² term is constant
    * per row).
    */
  private def nearestSeq(cents: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0
    var bestD = dotArr(cents(0), cents(0)) - 2.0 * dotArr(x, cents(0))
    var c = 1
    while (c < cents.length) {
      val dd = dotArr(cents(c), cents(c)) - 2.0 * dotArr(x, cents(c))
      if (dd < bestD) { best = c; bestD = dd }
      c += 1
    }
    best
  }

  /** Per-subspace Lloyd over the collected sample (rows in vec_id
    * order). Empty cells keep their previous centroid.
    */
  private def trainCodebooks(sample: Array[Array[Double]]): Array[Array[Array[Double]]] =
    Array.tabulate(SubM) { m =>
      val sub = sample.map(v => v.slice(m * SubDim, (m + 1) * SubDim))
      var cents = sub.take(Ks).map(_.clone())
      for (_ <- 1 to PqIters) {
        val sums = Array.fill(Ks, SubDim)(0.0)
        val cnts = Array.fill(Ks)(0L)
        sub.foreach { x =>
          val c = nearestSeq(cents, x)
          cnts(c) += 1
          var i = 0; while (i < SubDim) { sums(c)(i) += x(i); i += 1 }
        }
        cents = Array.tabulate(Ks) { c =>
          if (cnts(c) == 0) cents(c)
          else Array.tabulate(SubDim)(i => sums(c)(i) / cnts(c))
        }
      }
      cents
    }

  /** Nearest-codebook-entry expression over literal centroids —
    * Kmeans.nearestCell's struct-least, per subspace.
    */
  private def codeCol(sub: Column, cents: Array[Array[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (cv, i) =>
      val c2 = cv.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(sub, array(cv.map(lit).toIndexedSeq: _*))).as("d"),
        lit(i).as("cell"))
    }
    least(scored.toIndexedSeq: _*).getField("cell")
  }

  private def subCol(u: Column, m: Int): Column =
    slice(u, m * SubDim + 1, SubDim)

  /** PQ top-k over any (vec_id, v: array<double>) frame; exact5 is the
    * float-exact ranking to audit recall against (query_id,
    * neighbor_id rows).
    */
  def annPqOn(emb: DataFrame, exact5: DataFrame): DataFrame = {
    // unit vectors: ADC inner product ≡ cosine ranking
    val unit = emb
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("u", when(col("nrm") > 0,
        transform(col("v"), x => x / col("nrm"))).otherwise(col("v")))
      .select("vec_id", "u")
    val sample = unit.filter(col("vec_id") < PqTrainCap)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray) // bounded cap·dim driver state
    val books = trainCodebooks(sample)
    // encode: one map over the corpus — SubM argmins over literal books
    val codes = unit.select(
      col("vec_id") +: (0 until SubM).map(m =>
        codeCol(subCol(col("u"), m), books(m)).as(s"cd$m")): _*)
    // per-query LUTs: dot(q_m, book_m[c]) for every cell, as literal-
    // centroid expressions over the broadcast query rows
    val q = unit.filter(col("vec_id") < QueryCap)
      .select(col("vec_id").as("query_id") +: (0 until SubM).map(m =>
        array((0 until Ks).map(c =>
          dot(subCol(col("u"), m), array(books(m)(c).map(lit).toIndexedSeq: _*))): _*)
          .as(s"lut$m")): _*)
    val score = (0 until SubM).map(m =>
      element_at(col(s"lut$m"), col(s"cd$m") + 1)).reduceLeft(_ + _)
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), score.as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= TopK)
    val recall = top.select("query_id", "neighbor_id")
      .join(exact5, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    top.join(recall, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("score"), 6).as("score_pq"),
        (coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall_at5"))
  }

  def annPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    annPqOn(emb, Similarity.annCosine(s, d).select("query_id", "neighbor_id"))
  }

  /** IVF-PQ — the composed billion-scale serving index (FAISS's
    * default layout, Jégou et al. §IV): the coarse IVF quantizer
    * routes each query to its [[Similarity.NProbe]] nearest cells and
    * ADC scoring runs only over the PQ codes of those cells' inverted
    * lists — cost per query is (NProbe/NCells) of the corpus × 4 table
    * lookups per vector, over a resident set of 4-byte codes.
    *
    * This variant encodes the raw unit vector, not the IVF residual
    * (residual encoding needs per-cell LUTs — NProbe× the LUT work for
    * moderate recall gain; the non-residual form is the standard
    * memory-optimal baseline and keeps the codebook shared across
    * cells). Routing reuses the exact ann_ivf coarse quantizer
    * (plan-time literal centroids — map-only assignment), codes reuse
    * the ann_pq codebooks, so the composition adds ZERO new shuffles:
    * one broadcast of the O(queries·NProbe) probe table and the
    * per-query top-k window, same as ann_ivf.
    *
    * Determinism: both trainers are the already-oracle-certified
    * deterministic chains; scoring is LUT lookups on literal
    * codebooks — the whole composition unrolls in SQL.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val (scored, _) = ivfPqScoredOf(s, d)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= TopK)
    val exact5 = Similarity.annCosine(s, d).select("query_id", "neighbor_id")
    val recall = top.select("query_id", "neighbor_id")
      .join(exact5, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    top.join(recall, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("score"), 6).as("score_pq"),
        (coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall_at5"))
  }

  /** The shared IVF-PQ ADC machinery: returns the (query_id,
    * neighbor_id, score) ADC frame over probed cells, plus the raw
    * (vec_id, v, nrm) frame for exact-math consumers.
    */
  private def ivfPqScoredOf(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfPqScoredOn(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))

  /** [[ivfPqScoredOf]] over any (vec_id, v) frame (the ScaleCurve
    * tool feeds replicated corpora).
    */
  private[graft] def ivfPqScoredOn(emb: DataFrame): (DataFrame, DataFrame) = {
    val raw = emb
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = Similarity.trainCentroids(raw)
    val unit = raw
      .withColumn("u", when(col("nrm") > 0,
        transform(col("v"), x => x / col("nrm"))).otherwise(col("v")))
    val sample = unit.filter(col("vec_id") < PqTrainCap)
      .orderBy("vec_id").select("vec_id", "u").collect()
      .map(_.getSeq[Double](1).toArray)
    val books = trainCodebooks(sample)
    // inverted lists: (cell_id, codes) per vector — one map, no joins
    val assigned = unit.select(
      col("vec_id") +:
        Similarity.bestCellCol(col("v"), col("nrm"), cents).as("cell_id") +:
        (0 until SubM).map(m =>
          codeCol(subCol(col("u"), m), books(m)).as(s"cd$m")): _*)
    // probe table: queries × NProbe cells, with per-query LUTs
    val probes = unit.filter(col("vec_id") < QueryCap)
      .select(
        col("vec_id").as("query_id") +:
          explode(Similarity.probeCellsCol(col("v"), col("nrm"), cents)).as("cell_id") +:
          (0 until SubM).map(m =>
            array((0 until Ks).map(c =>
              dot(subCol(col("u"), m), array(books(m)(c).map(lit).toIndexedSeq: _*))): _*)
              .as(s"lut$m")): _*)
    val score = (0 until SubM).map(m =>
      element_at(col(s"lut$m"), col(s"cd$m") + 1)).reduceLeft(_ + _)
    val scored = assigned.join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), score.as("score"))
    (scored, raw)
  }

  /** Candidates re-ranked exactly per query before the final top-k. */
  val Cand = 50

  /** IVF-PQ with RESIDUAL encoding — the FAISS-default form the
    * non-residual [[annIvfPq]] documents as its trade-off: each vector
    * encodes u − ĉ(cell) (its offset from the assigned cell's UNIT
    * centroid) instead of u itself, so the codebooks spend their 16
    * centroids per subspace on the small within-cell residuals rather
    * than the coarse direction the cell already captured. On
    * naturally clustered embeddings this is the recall-better layout
    * (Jégou et al. §IV); on near-uniform synthetic vectors the two
    * are within tie-break noise (measured on the bench table) — what
    * is data-INDEPENDENT is the capacity claim: in-cluster ADC scores
    * genuinely differentiate where flat codes collapse (PqSpec).
    *
    * Under the inner-product/cosine metric the classic "per-cell LUT"
    * cost disappears: dot(q, ĉ + r̂) = dot(q, ĉ) + dot(q, r̂), so
    * scoring is ONE per-(query, probed-cell) scalar base (map-only,
    * literal centroids) plus the SAME per-query 4×16 LUTs as flat PQ —
    * just built against the residual codebooks. Plan shape is
    * identical to [[annIvfPq]]: zero new shuffles, broadcast probe
    * table, per-query top-k window.
    *
    * Determinism: residuals are exact element-wise differences of
    * certified chains (unit vectors, SQL-recomputed centroids), the
    * residual trainer is the same fixed-round Lloyd, and the score is
    * one fixed-order IEEE sum — full hash gate.
    */
  def annIvfPqResidual(s: SparkSession, d: String): DataFrame =
    annIvfPqResidualOn(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      Similarity.annCosine(s, d).select("query_id", "neighbor_id"))

  /** Core of [[annIvfPqResidual]] over any (vec_id, v) frame with a
    * caller-supplied exact top-k (spec tests feed planted corpora). */
  def annIvfPqResidualOn(emb: DataFrame, exact5: DataFrame): DataFrame = {
    val raw = emb
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = Similarity.trainCentroids(raw)
    // unit centroids as driver literals: ĉ = cv / ‖cv‖ (same doubles
    // as the oracle's cv[i]/cn division)
    val unitCents = cents.map { case (cv, cn) => cv.map(_ / cn) }
    def centOf(cell: Column): Column =
      unitCents.indices.foldLeft(lit(null).cast("array<double>")) { (acc, i) =>
        when(cell === i, array(unitCents(i).map(lit).toIndexedSeq: _*))
          .otherwise(acc)
      }
    val unit = raw
      .withColumn("u", when(col("nrm") > 0,
        transform(col("v"), x => x / col("nrm"))).otherwise(col("v")))
      .withColumn("cell_id",
        Similarity.bestCellCol(col("v"), col("nrm"), cents))
    val res = unit.withColumn("r",
      zip_with(col("u"), centOf(col("cell_id")), (x, y) => x - y))
    val sample = res.filter(col("vec_id") < PqTrainCap)
      .orderBy("vec_id").select("vec_id", "r").collect()
      .map(_.getSeq[Double](1).toArray)
    val books = trainCodebooks(sample)
    val assigned = res.select(
      col("vec_id") +: col("cell_id") +:
        (0 until SubM).map(m =>
          codeCol(subCol(col("r"), m), books(m)).as(s"cd$m")): _*)
    val probes0 = unit.filter(col("vec_id") < QueryCap)
      .select(col("vec_id").as("query_id"), col("u"),
        explode(Similarity.probeCellsCol(col("v"), col("nrm"), cents))
          .as("cell_id"))
    val probes = probes0.select(
      col("query_id") +: col("cell_id") +:
        dot(col("u"), centOf(col("cell_id"))).as("base") +:
        (0 until SubM).map(m =>
          array((0 until Ks).map(c =>
            dot(subCol(col("u"), m), array(books(m)(c).map(lit).toIndexedSeq: _*))): _*)
            .as(s"lut$m")): _*)
    val score = (col("base") +: (0 until SubM).map(m =>
      element_at(col(s"lut$m"), col(s"cd$m") + 1))).reduceLeft(_ + _)
    val scored = assigned.join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), score.as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= TopK)
    val recall = top.select("query_id", "neighbor_id")
      .join(exact5, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    top.join(recall, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("score"), 6).as("score_pq"),
        (coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall_at5"))
  }

  /** IVF-PQ with EXACT RE-RANK — the production serving shape (FAISS
    * `IndexRefineFlat` / the standard two-stage retrieval): ADC keeps
    * a generous top-[[Cand]] candidate set per query (cheap — 4 LUT
    * lookups per corpus code), then the final top-[[TopK]] is decided
    * by exact float cosine over just those Cand vectors. Quantization
    * error then only matters if it pushes a true neighbor below rank
    * Cand, not rank TopK — recall@k is ≥ the ADC-only path's by
    * construction whenever the exact neighbors survive the candidate
    * cut (asserted against [[annIvfPq]] in PqSpec).
    *
    * Scale: stage 1 is exactly [[annIvfPq]]'s plan (broadcast probe
    * table, per-query window). Stage 2 touches Cand·|queries| rows —
    * two id-keyed joins to fetch raw vectors, never a corpus-wide
    * float pass. At a billion vectors the refine stage reads ~50
    * full vectors per query from the id-keyed store while ADC scans
    * only resident 4-byte codes — the memory layout that makes IVF-PQ
    * the default billion-scale index.
    *
    * Determinism: candidate cut and final rank both order by
    * (score desc, id asc) on identical float chains (certified LUT
    * sums; the ann_cosine dot/norm chain) — full hash gate.
    */
  def annIvfPqRerank(s: SparkSession, d: String): DataFrame = {
    val (scored, raw) = ivfPqScoredOf(s, d)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val cand = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Cand)
      .select("query_id", "neighbor_id")
    // exact cosine over candidates only: fetch both raw vectors by id
    val rr = cand
      .join(raw.select(col("vec_id").as("neighbor_id"), col("v").as("vn"),
        col("nrm").as("nn")), "neighbor_id")
      .join(raw.select(col("vec_id").as("query_id"), col("v").as("vq"),
        col("nrm").as("nq")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("vn"), col("vq")) / (col("nn") * col("nq"))).as("cosv"))
    val w2 = Window.partitionBy("query_id").orderBy(col("cosv").desc, col("neighbor_id").asc)
    val top = rr.withColumn("rn", row_number().over(w2)).filter(col("rn") <= TopK)
    val exact5 = Similarity.annCosine(s, d).select("query_id", "neighbor_id")
    val recall = top.select("query_id", "neighbor_id")
      .join(exact5, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    top.join(recall, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("cosv"), 6).as("score_exact"),
        (coalesce(col("hits"), lit(0L)).cast("double") / TopK).as("recall_at5"))
  }

  /** Probe depths swept by [[annNprobeCurve]]. */
  val MaxProbe = 4

  /** IVF ROUTING recall curve — the nprobe sibling of
    * ann_truncation_curve (embedding width) and lsh_scurve (band
    * calibration): sweep nprobe = 1..[[MaxProbe]], score each probed
    * candidate with EXACT cosine so the curve isolates cell-routing
    * loss from PQ quantization loss, and emit per setting the scanned
    * candidate volume (the cost axis — ≈ nprobe/NCells of the corpus)
    * and recall@[[TopK]] against the exact neighbors. The dashboard a
    * serving team reads to pick the probe depth: cost grows linearly
    * in nprobe while recall saturates.
    *
    * Scale: one literal-centroid map pass assigns the corpus; the
    * probe table is queries × MaxProbe broadcast rows; candidates are
    * id-keyed joins over the probed fraction; the nprobe fan-out is a
    * 4-row broadcast. Integer hit counts → the recall ratio is exact
    * in both engines (full hash gate).
    */
  def annNprobeCurve(s: SparkSession, d: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val raw = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = Similarity.trainCentroids(raw)
    val assigned = raw.withColumn("cell_id",
      Similarity.bestCellCol(col("v"), col("nrm"), cents))
    val probes = raw.filter(col("vec_id") < QueryCap)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        posexplode(Similarity.probeCellsColK(col("v"), col("nrm"), cents,
          MaxProbe)))
      .withColumnRenamed("pos", "pr0")
      .withColumnRenamed("col", "cell_id")
    val cand = assigned.join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("pr0") + 1).as("pr"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosv"))
    val ks = (1 to MaxProbe).toDF("nprobe")
    val withK = cand.join(broadcast(ks), col("pr") <= col("nprobe"))
    val w = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cosv").desc, col("neighbor_id").asc)
    val top = withK.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
    val exact = Similarity.annCosine(s, d).select("query_id", "neighbor_id")
    val hits = top.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("hits"))
    withK.groupBy("nprobe").agg(count(lit(1)).as("cand_rows"))
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe").cast("long").as("nprobe"), col("cand_rows"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double")
          / (TopK * QueryCap), 4).as("recall_at5"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq" -> annPq,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivfpq_rerank" -> annIvfPqRerank,
    "ann_ivfpq_residual" -> annIvfPqResidual,
    "ann_nprobe_curve" -> annNprobeCurve)

  // ---- shared DuckDB oracle fragments ----

  private def lo(m: Int) = m * SubDim + 1
  private def hi(m: Int) = (m + 1) * SubDim

  private def pqAssignSql(name: String, src: String, prev: String) =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT t.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY list_dot_product(c.cv, c.cv)
       |                 - 2 * list_dot_product(t.x, c.cv), c.cell) AS rn
       |    FROM $src t CROSS JOIN $prev c)
       |  WHERE rn = 1)""".stripMargin

  // per-subspace trainer: seeds = first Ks sample subvectors; each
  // round assigns by ||c||²−2xc (ties to smallest cell) and recomputes
  // means, empty cells keeping their centroid — the Kmeans oracle's
  // unroll, once per subspace. `p` prefixes every generated CTE name
  // and the samp/corp sources, so the residual oracle can run a second
  // independent trainer chain ("r" prefix) in the same statement.
  private def pqSubChain(m: Int, p: String = ""): String = {
    val rounds = (1 to PqIters).map { r =>
      s"""${pqAssignSql(s"${p}a${m}_$r", s"${p}s$m", s"${p}c${m}_${r - 1}")},
         |${p}m${m}_$r AS (
         |  SELECT a.cell, d.i, sum(t.x[d.i]) AS sv, count(*) AS n
         |  FROM ${p}a${m}_$r a JOIN ${p}s$m t ON t.vec_id = a.vec_id
         |  CROSS JOIN sdims d GROUP BY a.cell, d.i),
         |${p}c${m}_$r AS (
         |  SELECT prev.cell, coalesce(mm.cv, prev.cv) AS cv
         |  FROM ${p}c${m}_${r - 1} prev LEFT JOIN
         |    (SELECT cell, list(sv / n ORDER BY i) AS cv
         |     FROM ${p}m${m}_$r GROUP BY cell) mm ON mm.cell = prev.cell)""".stripMargin
    }.mkString(",\n")
    s"""${p}s$m AS (SELECT vec_id, u[${lo(m)}:${hi(m)}] AS x FROM ${p}samp),
       |${p}c${m}_0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         x AS cv
       |  FROM (SELECT vec_id, x FROM ${p}s$m ORDER BY vec_id LIMIT $Ks)),
       |$rounds,
       |${pqAssignSql(s"${p}enc$m", s"${p}corp$m", s"${p}c${m}_$PqIters")}""".stripMargin
  }

  /** e (raw + norm), u (unit), samp, the 4 codebook chains, the codes
    * table, and q (unit queries) — everything shared by the flat-PQ
    * and IVF-PQ oracles.
    */
  private def pqPrefixSql: String = {
    val corpSlices = (0 until SubM).map(m =>
      s"corp$m AS (SELECT vec_id, u[${lo(m)}:${hi(m)}] AS x FROM u)").mkString(",\n")
    val subChains = (0 until SubM).map(m => pqSubChain(m)).mkString(",\n")
    val codeJoin = (0 until SubM).map(m =>
      s"JOIN enc$m e$m ON e$m.vec_id = u.vec_id").mkString(" ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                   CAST(embedding AS DOUBLE[]))) AS nrm
       |           FROM embeddings),
       |u AS (SELECT vec_id,
       |        CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm)
       |             ELSE v END AS u
       |      FROM e),
       |samp AS (SELECT vec_id, u FROM u WHERE vec_id < $PqTrainCap),
       |sdims AS (SELECT unnest(generate_series(1, $SubDim)) AS i),
       |$corpSlices,
       |$subChains,
       |codes AS (SELECT u.vec_id, ${(0 until SubM).map(m => s"e$m.cell AS cd$m").mkString(", ")}
       |          FROM u $codeJoin),
       |q AS (SELECT vec_id, u FROM u WHERE vec_id < $QueryCap)""".stripMargin
  }

  private def pqLutJoin: String = pqLutJoin("")

  private def pqLutJoin(p: String): String = (0 until SubM).map(m =>
    s"JOIN ${p}c${m}_$PqIters k$m ON k$m.cell = c.cd$m").mkString(" ")

  private def pqScoreExpr = (0 until SubM).map(m =>
    s"list_dot_product(q.u[${lo(m)}:${hi(m)}], k$m.cv)").mkString("\n     + ")

  /** top-k ranking of `sc`, exact float top-k, recall join, final
    * select — shared tail of both PQ oracles.
    */
  private def pqTailSql: String =
    s"""top AS (
       |  SELECT query_id, neighbor_id, rn, round(score, 6) AS score_pq FROM (
       |    SELECT query_id, neighbor_id, score,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, neighbor_id) AS INTEGER) AS rn
       |    FROM sc)
       |  WHERE rn <= $TopK),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT eq.vec_id AS query_id, ec.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY eq.vec_id
       |        ORDER BY list_dot_product(ec.v, eq.v) / (ec.nrm * eq.nrm) DESC,
       |                 ec.vec_id) AS rn
       |    FROM e ec JOIN e eq ON eq.vec_id < $QueryCap AND ec.vec_id <> eq.vec_id)
       |  WHERE rn <= $TopK),
       |rec AS (
       |  SELECT t.query_id, count(*) AS hits
       |  FROM top t JOIN ex ON ex.query_id = t.query_id
       |            AND ex.neighbor_id = t.neighbor_id
       |  GROUP BY 1)
       |SELECT t.query_id, t.neighbor_id, t.rn, t.score_pq,
       |  CAST(coalesce(rec.hits, 0) AS DOUBLE) / $TopK AS recall_at5
       |FROM top t LEFT JOIN rec USING (query_id)""".stripMargin

  /** The ann_ivf coarse-quantizer chain verbatim (seeds = first
    * NCells, one Lloyd refinement over the vec_id < 2048 sample,
    * cosine assignment with ties to the smallest cell) plus the
    * NProbe probe table — reads the shared `e`.
    */
  private def ivfCellsSql: String =
    s"""dims AS (
       |  SELECT unnest(generate_series(1,
       |    (SELECT CAST(max(len(v)) AS INTEGER) FROM e))) AS i),
       |sample AS (SELECT * FROM e WHERE vec_id < 2048),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         v, nrm
       |  FROM sample WHERE vec_id < ${Similarity.NCells}),
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
       |  WHERE rn = 1)""".stripMargin

  private def ivfChainSql: String =
    s"""$ivfCellsSql,
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT e.vec_id, c.cell AS cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
       |                 c.cell) AS rn
       |    FROM e CROSS JOIN centn c WHERE e.vec_id < $QueryCap)
       |  WHERE rn <= ${Similarity.NProbe})""".stripMargin

  /** Residual chains: unit centroids, residual vectors (aliased `u` so
    * [[pqSubChain]]'s slice algebra applies unchanged under the "r"
    * prefix), the residual sample/corpus slices, trainers, and codes.
    * Reads `u` from the shared prefix and `assigned`/`centn` from
    * [[ivfChainSql]]. DuckDB list lambdas take a 1-BASED index.
    */
  private def resPrefixSql: String = {
    val corpSlices = (0 until SubM).map(m =>
      s"rcorp$m AS (SELECT vec_id, u[${lo(m)}:${hi(m)}] AS x FROM rux)").mkString(",\n")
    val subChains = (0 until SubM).map(m => pqSubChain(m, "r")).mkString(",\n")
    val codeJoin = (0 until SubM).map(m =>
      s"JOIN renc$m e$m ON e$m.vec_id = rux.vec_id").mkString(" ")
    s"""rcent AS (SELECT cell, list_transform(cv, x -> x / cn) AS ucv
       |          FROM centn),
       |rux AS (
       |  SELECT u.vec_id,
       |    list_transform(u.u, (x, i) -> x - rc.ucv[i]) AS u
       |  FROM u JOIN assigned a USING (vec_id)
       |  JOIN rcent rc ON rc.cell = a.cell_id),
       |rsamp AS (SELECT vec_id, u FROM rux WHERE vec_id < $PqTrainCap),
       |$corpSlices,
       |$subChains,
       |rcodes AS (SELECT rux.vec_id, ${(0 until SubM).map(m => s"e$m.cell AS cd$m").mkString(", ")}
       |           FROM rux $codeJoin)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "ann_nprobe_curve" -> {
      val eSql =
        """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
          |                                   CAST(embedding AS DOUBLE[]))) AS nrm
          |           FROM embeddings)""".stripMargin
      val tail =
        s"""probes4 AS (
           |  SELECT vec_id AS query_id, cell_id, rn AS pr FROM (
           |    SELECT e.vec_id, c.cell AS cell_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
           |                 c.cell) AS rn
           |    FROM e CROSS JOIN centn c WHERE e.vec_id < $QueryCap)
           |  WHERE rn <= $MaxProbe),
           |ks AS (SELECT unnest(generate_series(1, $MaxProbe)) AS nprobe),
           |cand AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id, p.pr,
           |    list_dot_product(ec.v, eq.v) / (ec.nrm * eq.nrm) AS cosv
           |  FROM probes4 p
           |  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
           |  JOIN e ec ON ec.vec_id = a.vec_id
           |  JOIN e eq ON eq.vec_id = p.query_id),
           |wk AS (SELECT c.*, k.nprobe FROM cand c JOIN ks k ON c.pr <= k.nprobe),
           |top AS (
           |  SELECT nprobe, query_id, neighbor_id FROM (
           |    SELECT nprobe, query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY nprobe, query_id
           |        ORDER BY cosv DESC, neighbor_id) AS rn
           |    FROM wk) WHERE rn <= $TopK),
           |ex AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT eq.vec_id AS query_id, ec.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY eq.vec_id
           |        ORDER BY list_dot_product(ec.v, eq.v) / (ec.nrm * eq.nrm) DESC,
           |                 ec.vec_id) AS rn
           |    FROM e ec JOIN e eq ON eq.vec_id < $QueryCap AND ec.vec_id <> eq.vec_id)
           |  WHERE rn <= $TopK),
           |hits AS (
           |  SELECT t.nprobe, count(*) AS hits
           |  FROM top t JOIN ex ON ex.query_id = t.query_id
           |            AND ex.neighbor_id = t.neighbor_id
           |  GROUP BY 1),
           |cost AS (SELECT nprobe, count(*) AS cand_rows FROM wk GROUP BY 1)
           |SELECT CAST(c.nprobe AS BIGINT) AS nprobe,
           |  CAST(c.cand_rows AS BIGINT) AS cand_rows,
           |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / ${TopK * QueryCap}, 4)
           |    AS recall_at5
           |FROM cost c LEFT JOIN hits h USING (nprobe)""".stripMargin
      "WITH " + eSql + ",\n" + ivfCellsSql + ",\n" + tail
    },
    "ann_ivfpq_residual" ->
      s"""WITH $pqPrefixSql,
         |$ivfChainSql,
         |$resPrefixSql,
         |sc AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.u, rc.ucv)
         |     + $pqScoreExpr AS score
         |  FROM probes p
         |  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
         |  JOIN rcodes c ON c.vec_id = a.vec_id
         |  JOIN q ON q.vec_id = p.query_id
         |  JOIN rcent rc ON rc.cell = p.cell_id
         |  ${pqLutJoin("r")}),
         |$pqTailSql""".stripMargin,
    "ann_pq" ->
      s"""WITH $pqPrefixSql,
         |sc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $pqScoreExpr AS score
         |  FROM codes c CROSS JOIN q $pqLutJoin
         |  WHERE c.vec_id <> q.vec_id),
         |$pqTailSql""".stripMargin,
    "ann_ivfpq" ->
      s"""WITH $pqPrefixSql,
         |$ivfChainSql,
         |sc AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    $pqScoreExpr AS score
         |  FROM probes p
         |  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
         |  JOIN codes c ON c.vec_id = a.vec_id
         |  JOIN q ON q.vec_id = p.query_id
         |  $pqLutJoin),
         |$pqTailSql""".stripMargin,
    // same ADC chain, generous top-Cand cut, exact cosine re-rank
    "ann_ivfpq_rerank" ->
      s"""WITH $pqPrefixSql,
         |$ivfChainSql,
         |sc AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    $pqScoreExpr AS score
         |  FROM probes p
         |  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
         |  JOIN codes c ON c.vec_id = a.vec_id
         |  JOIN q ON q.vec_id = p.query_id
         |  $pqLutJoin),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rn
         |    FROM sc)
         |  WHERE rn <= $Cand),
         |rr AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |    list_dot_product(en.v, eq.v) / (en.nrm * eq.nrm) AS cosv
         |  FROM cand cd
         |  JOIN e en ON en.vec_id = cd.neighbor_id
         |  JOIN e eq ON eq.vec_id = cd.query_id),
         |top AS (
         |  SELECT query_id, neighbor_id, rn, round(cosv, 6) AS score_exact FROM (
         |    SELECT query_id, neighbor_id, cosv,
         |      CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosv DESC, neighbor_id) AS INTEGER) AS rn
         |    FROM rr)
         |  WHERE rn <= $TopK),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT eq.vec_id AS query_id, ec.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY eq.vec_id
         |        ORDER BY list_dot_product(ec.v, eq.v) / (ec.nrm * eq.nrm) DESC,
         |                 ec.vec_id) AS rn
         |    FROM e ec JOIN e eq ON eq.vec_id < $QueryCap AND ec.vec_id <> eq.vec_id)
         |  WHERE rn <= $TopK),
         |rec AS (
         |  SELECT t.query_id, count(*) AS hits
         |  FROM top t JOIN ex ON ex.query_id = t.query_id
         |            AND ex.neighbor_id = t.neighbor_id
         |  GROUP BY 1)
         |SELECT t.query_id, t.neighbor_id, t.rn, t.score_exact,
         |  CAST(coalesce(rec.hits, 0) AS DOUBLE) / $TopK AS recall_at5
         |FROM top t LEFT JOIN rec USING (query_id)""".stripMargin)
}
