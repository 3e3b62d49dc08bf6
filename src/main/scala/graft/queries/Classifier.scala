package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Trained text classifier over hashed bag-of-words features ([EXT]) —
  * the fastText-style model-based filter every production curation
  * pipeline runs alongside the heuristic gates: featurize → full-batch
  * logistic regression by gradient descent → score the corpus. The
  * demo target DISTILLS the heuristic stopword-density quality gate
  * (the same stopword list the pipeline's quality stage uses) into the
  * hashed model — exactly how real quality classifiers are
  * bootstrapped from seed heuristics (CCNet / GPT-3 / LLaMA style);
  * swapping the label column swaps in any other binary signal.
  * Trained accuracy ≈ 0.97 at every SF, with a non-degenerate
  * confusion matrix (the classifier genuinely learns which hashed
  * dims carry the stopword mass).
  *
  * Scale design:
  *  - FEATURIZE is one token-level shuffle (doc, dim) partial-agg'd to
  *    ≤ Dims narrow rows per doc, then a per-doc map rebuild — the same
  *    cost envelope as the tf-idf / vocab operators, run ONCE and
  *    `.stable`d; the corpus text never shuffles.
  *  - Each GD ITERATION is one SHUFFLE-FREE job over the cached
  *    primitive vectors (weights broadcast per round): every partition
  *    emits a Dims+1-double partial gradient and the driver folds the
  *    partials in partition order — bytes crossing the wire are
  *    O(Dims·partitions), independent of corpus size (the map-side
  *    combine of the reference's reduce, see [[trainWeights]]).
  *  - The per-iteration driver action receives exactly Dims+1 doubles
  *    per partition (the same bounded-collect contract as [[Kmeans]]'s
  *    k·dim centroid rebuild); the corpus is never collected.
  *
  * Determinism across engines: weights start at zero, iterate a fixed
  * number of rounds with a deterministic per-round step (Lr0/√t —
  * IEEE sqrt is correctly rounded, so both engines compute the same
  * double), and are ROUNDED to 1e-6 after every update
  * (`floor(w·1e6 + 0.5)/1e6` in both engines) — float-sum merge-order
  * noise (~1e-15 relative) is far below the rounding granularity, so
  * the rounding resynchronizes the two trajectories each round and the
  * whole training loop unrolls into chained DuckDB CTEs under the
  * driver's hash gate. ClassifierSpec additionally pins the result to
  * a sequential in-JVM reference implementation.
  *
  * Reference scope: mapreduce-go's apps are fixed map/reduce functions
  * (main/mrapps, wc.go / indexer.go); a trained model is beyond its
  * surface, hence [EXT] — but the training loop is exactly the
  * reference's iterate-a-job shape (each GD round = one map+reduce).
  */
object Classifier {

  /** Hashed feature dimensions (md5 % Dims, the shard-key convention).
    * Feature Dims (one past the hashed range) is the bias/intercept.
    * 64 keeps the oracle CTE chain readable; the Spark side is
    * Dims-agnostic — at 100 TB you'd run 2^18+.
    */
  val Dims = 64

  /** Full-batch GD rounds. Fixed (no convergence test) so the loop
    * unrolls deterministically in both engines.
    */
  val Iters = 24

  /** Base learning rate; round t steps by Lr0/√t (deterministic decay
    * damps full-batch oscillation — picked by sweep, acc 0.97+ at
    * sf0.001/0.01/0.1).
    */
  val Lr0 = 2.0

  /** Label: stopword density ≥ SwTau — the heuristic gate being
    * distilled. Same list as TextOps.Stopwords / the pipeline quality
    * stage.
    */
  val SwTau = 0.11
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(a, b)

  /** Round to 1e-6, half-up — MUST match the oracle's
    * `floor(x*1e6 + 0.5)/1e6` bit-for-bit (same formula, same doubles).
    */
  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Feature id of a token: 24 md5 bits mod Dims (the mdUniform /
    * shard-key convention — deterministic in any engine with md5).
    */
  private[graft] def dimOf(tok: Column): Column =
    pmod(conv(substring(md5(tok), 1, 6), 16, 10).cast("long"), lit(Dims)).cast("int")

  /** (doc_id, y, x: dense Dims+1-vector) for every doc with ≥1 letter
    * token: x(d) = tf(d)·Dims for hashed dims (scaled so feature mass
    * is O(1), comparable to the bias), x(Dims) = 1 (bias). Built once
    * per query and `.stable`d — every GD round and the final scoring
    * pass re-read the materialized vectors, not the text.
    */
  private[graft] def featurize(s: SparkSession, d: String): DataFrame =
    featurizeOn(Tables.documents(s, d))

  /** [[featurize]] over any frame with (doc_id, text) — the form the
    * composed pipeline's model gate reuses (Pipeline.modelKeptIds).
    */
  private[queries] def featurizeOn(docs: DataFrame): DataFrame = {
    // The label ingredients travel WITH the token stream: each token
    // carries a stopword flag, and the cell agg recovers n = Σc (every
    // token lands in exactly one dim) and nsw = Σcsw per doc — so the
    // whole featurize is ONE tokenize pass and ONE token-level shuffle.
    // (A per-doc y column computed above the explode is a trap: project
    // collapse inlines the tokenizer + stopword filter into the
    // post-Generate projection, re-running both PER TOKEN ROW —
    // measured 6× the whole featurize cost at sf0.1.)
    docs
      .select(col("doc_id"), explode(Dedup.tokensCol(col("text"))).as("tok"))
      .groupBy(col("doc_id"), dimOf(col("tok")).as("dim"))
      .agg(count(lit(1)).cast("double").as("c"),
        count(when(col("tok").isInCollection(Stopwords), 1)).cast("double").as("csw"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("dim"), col("c")))).as("m"),
        sum(col("c")).as("n"), sum(col("csw")).as("nsw"))
      .select(col("doc_id"),
        (col("nsw") / col("n") >= SwTau).cast("double").as("y"),
        concat(
          transform(sequence(lit(0), lit(Dims - 1)),
            dm => coalesce(element_at(col("m"), dm), lit(0.0)) / col("n") * lit(Dims.toDouble)),
          array(lit(1.0))).as("x"))
      .stable
  }

  /** The training loop: Iters rounds of mean-gradient descent from
    * w = 0 with step Lr0/√t. Returns the final (rounded) weights.
    *
    * Execution shape: the featurized frame is converted ONCE to a
    * cached RDD of primitive (y, x[]) pairs; each GD round is then a
    * single SHUFFLE-FREE job — `aggregate` computes the per-partition
    * partial gradient (the map-side combine of the reference's reduce)
    * and the driver folds the ≤ parts partials in PARTITION-INDEX
    * ORDER, so the float-merge order is fully deterministic run-to-run
    * (stronger than the previous groupBy-sum form, whose exchange
    * merge order was arbitrary; both are absorbed by the 1e-6
    * per-round rounding in any case). Per-round cost is one task wave
    * over the cached vectors plus a Dims+1-double array per partition
    * to the driver — no analysis/codegen, no exchange, no
    * per-round plan. At bench scale this took the 24-round loop from
    * ~7 s (two-stage DataFrame rounds) to well under 1 s.
    *
    * Scale design: partials are O(Dims) per partition regardless of
    * corpus size (the same bounded-merge contract as the sketch
    * aggregators); the weight vector broadcasts per round. Rounds are
    * latency-bound, so the cached vectors are packed into >=2k-row
    * tasks (never ABOVE the frame's own partition count — at cluster
    * scale the narrow coalesce is a no-op and rounds stay fully
    * parallel).
    */
  private[graft] def trainWeights(vec: DataFrame): Array[Double] = {
    val dims = Dims + 1
    val base = vec.select(col("y"), col("x")).rdd.map { r =>
      (r.getDouble(0), r.getSeq[Double](1).toArray)
    }
    val sc = vec.sparkSession.sparkContext
    val nRaw = vec.count() // one bounded scalar action (vec is .stable'd)
    val parts = math.max(1, math.min(base.getNumPartitions,
      math.ceil(nRaw / 2000.0).toInt))
    val data = (if (parts < base.getNumPartitions) base.coalesce(parts) else base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = nRaw.toDouble
    var w = Array.fill(dims)(0.0)
    try {
      for (t <- 1 to Iters) {
        val bw = sc.broadcast(w)
        // runJob (not RDD.aggregate, which merges in task-COMPLETION
        // order) returns the partials indexed by partition; the fold
        // below runs in partition order.
        val partials = sc.runJob(data,
          (it: Iterator[(Double, Array[Double])]) => {
            val acc = new Array[Double](dims)
            val wv = bw.value
            while (it.hasNext) {
              val (y, x) = it.next()
              var m = 0.0
              var i = 0
              while (i < dims) { m += x(i) * wv(i); i += 1 }
              val r = 1.0 / (1.0 + math.exp(-m)) - y
              i = 0
              while (i < dims) { acc(i) += r * x(i); i += 1 }
            }
            acc
          })
        val grad = partials.reduce { (a, b) =>
          var i = 0
          while (i < dims) { a(i) += b(i); i += 1 }
          a
        }
        bw.destroy()
        val lr = Lr0 / math.sqrt(t.toDouble)
        val next = new Array[Double](dims)
        var i = 0
        while (i < dims) {
          next(i) = round6(w(i) - lr * grad(i) / nDocs)
          i += 1
        }
        w = next
      }
    } finally data.unpersist(false)
    w
  }

  /** Registered entry: train and emit the Dims+1 (dim, w) weight rows
    * (dim = Dims is the bias) — the model artifact a downstream
    * scoring job broadcasts.
    */
  /** Train-once/serve-many ([[graft.core.ModelCache]], the Mf
    * convention): the Dims+1 weight vector is session-cached per dir,
    * so the four serve entries (predict, gate, calibration, bias)
    * reuse one GD run; `classifier_train` always retrains and
    * refreshes (honest trainer cost). The vector is a driver array —
    * no executor state retained — and GD is integer-deterministic, so
    * a hit is bit-identical to a fresh run.
    */
  private val WConstants = s"dims=$Dims,iters=$Iters,lr0=$Lr0,tau=$SwTau"

  private def wFrames(s: SparkSession)(w: Array[Double]): Seq[DataFrame] = {
    import s.implicits._
    Seq(w.zipWithIndex.map { case (wv, i) => (i, wv) }.toSeq.toDF("dim", "w"))
  }

  private def wOfFrames(fs: Seq[DataFrame]): Array[Double] =
    fs.head.collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)

  private def weightsCached(s: SparkSession, d: String,
      vec: => DataFrame): Array[Double] =
    graft.core.ModelStore.cachedDurable(s, d, "classifier_w",
      WConstants, 1)(trainWeights(vec))(wFrames(s))(wOfFrames)

  def classifierTrain(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = graft.core.ModelStore.putDurable(s, d, "classifier_w",
      WConstants, trainWeights(vec))(wFrames(s))
    vec.unpersist(false)
    import s.implicits._
    w.zipWithIndex.map { case (wv, i) => (i, wv) }.toSeq.toDF("dim", "w")
  }

  /** Registered entry: train, then score the corpus with the trained
    * weights (literal array ⇒ map-only scoring pass) and emit the
    * (label, pred) confusion census — the evaluation artifact of the
    * distilled filter. Prediction uses the FAMILY-WIDE quantized
    * convention (floor(margin·1e6 + 0.5) > 0 — the same threshold
    * classifier_kappa's rater B and label_noise_report apply, so the
    * three artifacts describe one disagreement set); margins after
    * training sit O(0.1) from the boundary, so quantization moves no
    * real doc and the discrete counts stay stable under the hash gate.
    */
  def classifierPredict(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val out = vec
      .select(col("y").cast("int").as("label"),
        (floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)) > 0).cast("int")
          .as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n_docs"))
      .stable
    vec.unpersist(false)
    out
  }

  /** Batch-path twin of the streaming model gate
    * ([[graft.streaming.StreamingOps.modelGateStream]]): margin-score
    * every doc with the trained weights and route accept/reject at
    * margin >= 0 — the registry entry that puts the WHOLE
    * train→score→gate chain under one DuckDB hash gate; the streaming
    * form reproduces the identical scores row-for-row
    * (StreamingSpec).
    */
  def modelGate(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val out = vec
      .select(col("doc_id"),
        (floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)) / lit(1e6)).as("score"))
      .withColumn("accept", (col("score") >= 0).cast("int"))
      .stable
    vec.unpersist(false)
    out
  }

  /** Calibration report over the trained model's margins: docs ranked
    * into margin deciles (ntile over the 1e-6-quantized score, doc_id
    * tie-break), each decile reporting its size, mean margin, and
    * ACTUAL positive rate — the reliability-curve artifact that tells
    * you whether higher scores really mean higher label probability.
    * Margins stay quantized int64 micros through the sums (exact
    * integer aggregates; no exp/sigmoid — cross-engine libm exp is
    * not bit-stable), so every emitted number derives from exact
    * integers.
    */
  def classifierCalibration(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val scored = vec.select(col("doc_id"), col("y"),
      floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)).cast("long").as("score_q"))
    // ntile over a total order WITHOUT the single-partition window:
    // range-partitioned global row number + the closed-form NTILE
    // bucket from (rn, N) — hash-identical to ntile(10).over(orderBy)
    // in both engines, parallel at any corpus size (ScalableRank).
    val nF = scored.agg(count(lit(1)).as("n_total"))
    val out = graft.core.ScalableRank
      .rowNumber(scored, "rn", col("score_q").asc, col("doc_id").asc)
      .crossJoin(broadcast(nF)) // 1-row total attachment
      .withColumn("decile",
        graft.core.ScalableRank.ntileExpr("rn", "n_total", 10).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        (floor(sum("score_q") / count(lit(1)).cast("double") / 100 + 0.5) / 1e4)
          .as("mean_margin"),
        (floor(sum("y") * lit(10000.0) / count(lit(1)) + 0.5) / 1e4)
          .as("pos_rate"))
      .stable
    vec.unpersist(false)
    out
  }

  /** Exact ROC-AUC of the trained gate via the Mann-Whitney U
    * statistic — AUC = P(score⁺ > score⁻) + ½P(tie), the
    * threshold-free companion to [[classifierCalibration]]'s
    * reliability curve. Tie handling is the textbook average rank,
    * kept INTEGER throughout: for a doc in a tie group of size c with
    * min rank r, 2·avg_rank = 2r + c − 1 exactly — rank() (min rank
    * over the score order) plus count() (per-score partition), no
    * float rank sums anywhere. AUC_micro then derives from three
    * exact integers: Σ₊2·avg_rank, P, N.
    *
    * Scale note: ranks come from a per-score-cell running count
    * (ScalableRank.prefixSum), not a rank window — the global sort is
    * range-partitioned and the shuffled frame is \|distinct score
    * cells\|, so the statistic stays parallel on corpus-sized inputs.
    */
  def classifierAuc(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val scored = vec.select(col("doc_id"), col("y"),
      floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)).cast("long").as("score_q"))
    // Tie-averaged ranks without a corpus-wide rank window: collapse
    // to per-score cells (c docs, pos positives at score s), then a
    // range-partitioned running count gives cum_c = #docs ≤ s, so
    //   r_min = cum_c − c + 1  and  2·avg_rank = 2·cum_c − c + 1
    // — every positive at s contributes that ar2 (ScalableRank; no
    // single-partition stage, and the shuffle carries |distinct
    // scores| cells, not docs).
    val perScore = scored.groupBy("score_q")
      .agg(count(lit(1)).as("c"), sum(col("y").cast("long")).as("pos"))
    val cum = graft.core.ScalableRank
      .prefixSum(perScore, "c", "cum_c", col("score_q").asc)
    val out = cum.agg(
        sum("pos").as("n_pos"),
        (sum("c") - sum("pos")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum_c") - col("c") + lit(1L)))
          .as("sum_ar2"))
      .select(col("n_pos"), col("n_neg"),
        // one-class corpora (n_pos or n_neg = 0) have no ranking to
        // score — report 0 like kappa's degenerate arm, instead of a
        // divide-by-zero (ANSI) / cross-engine NaN split
        when(col("n_pos") > 0 && col("n_neg") > 0,
          floor((col("sum_ar2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
            / (lit(2.0) * col("n_pos") * col("n_neg")) * 1e6 + lit(0.5))
            .cast("long"))
          .otherwise(lit(0L)).as("auc_micro"))
      .stable
    vec.unpersist(false)
    out
  }

  /** Fairness/bias audit of the trained gate: per ingest source, the
    * model's accept rate (margin ≥ 0) against the corpus-wide rate —
    * the demographic-parity disparity table a data-governance review
    * asks for before a quality filter ships (a filter that silently
    * drops one source's docs at 3× the global rate is a bias bug even
    * when every individual decision looks fine). Rates derive from
    * exact integer counts; disparity is the signed 4dp difference.
    */
  def classifierBiasReport(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val scored = vec.select(col("doc_id"),
      (floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)) >= 0).cast("long")
        .as("accept"))
    val bySource = scored
      .join(graft.core.Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("accept").as("n_accept"))
    val overall = bySource.agg(sum("n_docs").as("tot"), sum("n_accept").as("tot_acc"))
    val out = bySource.crossJoin(broadcast(overall))
      .select(col("source"), col("n_docs"), col("n_accept"),
        (floor(col("n_accept") * lit(10000.0) / col("n_docs") + 0.5) / 1e4)
          .as("accept_rate"),
        (floor((col("n_accept").cast("double") / col("n_docs") -
          col("tot_acc").cast("double") / col("tot")) * 10000 + 0.5) / 1e4)
          .as("rate_disparity"))
      .stable
    vec.unpersist(false)
    out
  }

  /** Cohen's κ between the two quality raters every curation stack
    * runs side by side — the cheap HEURISTIC gate (the stopword-density
    * label y, rater A) and the TRAINED model gate (margin > 0, rater
    * B): chance-corrected agreement κ = (p_o − p_e)/(1 − p_e) over the
    * 2×2 confusion matrix, the statistic that answers "did the
    * distilled model actually learn the heuristic, or does raw
    * accuracy just reflect the base rate?" (a gate that accepts 95%
    * of docs agrees 90%+ with ANY other permissive gate — κ strips
    * that chance floor out). Kept exact: the four cells are integer,
    * and the marginal products a1·b1 + a0·b0 (and n²) are carried in
    * DECIMAL(38,0) — the corr_matrix convention — because int64
    * products overflow once the corpus passes ~3e9 docs; κ's
    * numerator n·(n11+n00) − pe and denominator n² − pe stay exact at
    * any corpus size, with ONE double division micro-quantized at the
    * end — merge-order free, and bit-identical across engines.
    * Rater B's prediction is the family-wide quantized convention
    * (floor(margin·1e6 + 0.5) > 0), so κ's cells, classifier_predict,
    * and label_noise_report all describe the SAME disagreement set.
    *
    * Scale shape: one featurize pass (shared via the session model
    * cache) + a single global 5-integer aggregate; nothing about the
    * corpus reaches the driver but the final row.
    */
  def classifierKappa(s: SparkSession, d: String): DataFrame = {
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val cells = vec
      .select(col("y").cast("long").as("a"),
        (floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)) > 0).cast("long")
          .as("b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    val nD = col("n").cast("decimal(38,0)")
    val a1 = (col("n11") + col("n10")).cast("decimal(38,0)")
    val b1 = (col("n11") + col("n01")).cast("decimal(38,0)")
    val pe = a1 * b1 + (nD - a1) * (nD - b1)
    val out = cells
      .select(col("n").as("n_docs"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        floor((col("n11") + col("n00")).cast("double") / col("n") * 1e6
          + lit(0.5)).cast("long").as("po_micro"),
        floor(pe.cast("double") / (nD * nD).cast("double") * 1e6 + lit(0.5))
          .cast("long").as("pe_micro"),
        // pe == n² iff both raters are fully one-sided the same way
        // (a1 = b1 ∈ {0, n}) — κ is 0/0 there; report 0 (no
        // chance-corrected signal) instead of a cross-engine NaN split
        when((nD * nD - pe) > lit(0).cast("decimal(38,0)"),
          floor((nD * (col("n11") + col("n00")).cast("decimal(38,0)") - pe)
            .cast("double")
            / (nD * nD - pe).cast("double") * 1e6 + lit(0.5)).cast("long"))
          .otherwise(lit(0L)).as("kappa_micro"))
      .stable
    vec.unpersist(false)
    out
  }

  /** Suspect-list size of [[labelNoiseReport]]. */
  val NoiseTopK = 20

  /** Confident-learning-style label-noise triage (the core signal of
    * Northcutt et al. 2021, reduced to the ranked list a curation
    * review actually eyeballs): the [[NoiseTopK]] docs where the
    * trained gate DISAGREES with its own training label at the
    * LARGEST margin. In a distillation setting these are precisely
    * the docs whose cheap heuristic label is most suspect — the model
    * has seen the whole corpus and is confidently contradicting the
    * rule it was taught. Margins are the 1e-6-quantized chain scores
    * (prediction = score_q > 0, self-consistent with the emitted
    * column); ranking is (|margin| desc, doc_id asc) — integer-exact
    * and total, so the list is stable across engines and retries.
    *
    * Scale shape: one featurize pass (model-cache shared), a map-only
    * scoring pass, and a TakeOrderedAndProject top-k over the
    * disagreement subset — the rank window runs on the
    * [[NoiseTopK]]-row leaderboard only, and the id-keyed source join
    * fetches [[NoiseTopK]] rows.
    */
  def labelNoiseReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vec = featurize(s, d)
    val w = weightsCached(s, d, vec)
    val wl = array(w.map(lit).toIndexedSeq: _*)
    val scored = vec.select(col("doc_id"), col("y").cast("int").as("label"),
      floor(dot(col("x"), wl) * lit(1e6) + lit(0.5)).cast("long")
        .as("margin_micro"))
    // orderBy+limit compiles to TakeOrderedAndProject (per-partition
    // top-k + driver merge of K×P rows); the row_number window then
    // runs only on the NoiseTopK-row leaderboard, never on the full
    // disagreement set (the Graphs.scala hits_scores idiom).
    val out = scored
      .filter((col("margin_micro") > 0) =!= (col("label") === 1))
      .orderBy(abs(col("margin_micro")).desc, col("doc_id").asc)
      .limit(NoiseTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("margin_micro")).desc, col("doc_id").asc)))
      .join(graft.core.Tables.documents(s, d).select("doc_id", "source"),
        "doc_id")
      .select(col("rk"), col("doc_id"), col("source"), col("label"),
        col("margin_micro"))
      .stable
    vec.unpersist(false)
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "label_noise_report" -> labelNoiseReport,
    "classifier_kappa" -> classifierKappa,
    "classifier_auc" -> classifierAuc,
    "classifier_bias_report" -> classifierBiasReport,
    "classifier_calibration" -> classifierCalibration,
    "classifier_train" -> classifierTrain,
    "classifier_predict" -> classifierPredict,
    "model_gate_stream" -> modelGate)

  private val tokSqlDuck =
    "list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0)"
  private val swSqlDuck =
    "list_contains(['the','a','of','and','to','in','is','it'], x)"

  /** CTE name of the final trained weights in [[chainSqlOn]]. */
  private[queries] def finalWeightsCte: String = s"w$Iters"

  // Shared featurize + unrolled-GD CTE chain — ONE definition embedded
  // by both oracles so the train and predict gates cannot drift.
  private def chainSql: String = chainSqlOn("documents")

  /** The chain against an arbitrary (doc_id, …, text) relation — the
    * composed pipeline embeds it over its own corpus CTE.
    */
  private[queries] def chainSqlOn(rel: String): String = {
    val rounds = (1 to Iters).map { i =>
      // w{i-1} is referenced twice (margin + update) — without
      // MATERIALIZED DuckDB inlines the chain and scan count doubles
      // per round (the documented exponential-CTE trap)
      s"""m$i AS (SELECT d.doc_id, sum(d.x * w.w) AS m
         |  FROM dd d JOIN w${i - 1} w USING (dim) GROUP BY d.doc_id),
         |g$i AS (SELECT d.dim, sum((1/(1 + exp(-m.m)) - d.y) * d.x) AS g
         |  FROM dd d JOIN m$i m USING (doc_id) GROUP BY d.dim),
         |w$i AS MATERIALIZED (SELECT w.dim,
         |    floor((w.w - $Lr0 / sqrt($i.0) * coalesce(g.g, 0.0) / (SELECT nn FROM n0)) * 1e6 + 0.5) / 1e6 AS w
         |  FROM w${i - 1} w LEFT JOIN g$i g USING (dim))""".stripMargin
    }.mkString(",\n")
    s"""f0 AS (SELECT doc_id, $tokSqlDuck AS ws FROM $rel),
       |f1 AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS n,
       |         CASE WHEN CAST(len(list_filter(ws, x -> $swSqlDuck)) AS DOUBLE)
       |                   / CAST(len(ws) AS DOUBLE) >= $SwTau
       |              THEN 1.0 ELSE 0.0 END AS y,
       |         ws
       |       FROM f0 WHERE len(ws) > 0),
       |dd AS MATERIALIZED (
       |  SELECT doc_id, y,
       |    CAST(('0x' || substr(md5(tok), 1, 6))::UBIGINT % $Dims AS INTEGER) AS dim,
       |    CAST(count(*) AS DOUBLE) / n * $Dims.0 AS x
       |  FROM (SELECT doc_id, y, n, unnest(ws) AS tok FROM f1)
       |  GROUP BY doc_id, y, n, dim
       |  UNION ALL
       |  SELECT doc_id, y, $Dims AS dim, 1.0 AS x FROM f1),
       |n0 AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nn FROM f1),
       |w0 AS MATERIALIZED (
       |  SELECT CAST(unnest(generate_series(0, $Dims)) AS INTEGER) AS dim,
       |         0.0 AS w),
       |$rounds""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "label_noise_report" ->
      s"""WITH
         |$chainSql,
         |sc AS (SELECT d.doc_id, CAST(d.y AS INTEGER) AS label,
         |         CAST(floor(sum(d.x * w.w) * 1e6 + 0.5) AS BIGINT)
         |           AS margin_micro
         |       FROM dd d JOIN $finalWeightsCte w USING (dim)
         |       GROUP BY d.doc_id, d.y),
         |dis AS (
         |  SELECT doc_id, label, margin_micro,
         |    CAST(row_number() OVER (ORDER BY abs(margin_micro) DESC,
         |      doc_id ASC) AS INTEGER) AS rk
         |  FROM sc
         |  WHERE (margin_micro > 0) <> (label = 1))
         |SELECT rk, dis.doc_id, doc.source, label, margin_micro
         |FROM dis JOIN documents doc ON dis.doc_id = doc.doc_id
         |WHERE rk <= $NoiseTopK""".stripMargin,
    "classifier_kappa" ->
      s"""WITH
         |$chainSql,
         |sc AS (SELECT d.doc_id, CAST(d.y AS BIGINT) AS a,
         |         CASE WHEN CAST(floor(sum(d.x * w.w) * 1e6 + 0.5) AS BIGINT)
         |           > 0 THEN 1 ELSE 0 END AS b
         |       FROM dd d JOIN $finalWeightsCte w USING (dim)
         |       GROUP BY d.doc_id, d.y),
         |cells AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a * b) AS BIGINT) AS n11,
         |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
         |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
         |  FROM sc),
         |wide AS (
         |  SELECT n, n11, n10, n01, n00,
         |    CAST(n AS HUGEINT) AS nd,
         |    CAST(n11 + n10 AS HUGEINT) * CAST(n11 + n01 AS HUGEINT)
         |      + CAST(n - n11 - n10 AS HUGEINT)
         |        * CAST(n - n11 - n01 AS HUGEINT) AS pe
         |  FROM cells)
         |SELECT n AS n_docs, n11, n10, n01, n00,
         |  CAST(floor(CAST(n11 + n00 AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT)
         |    AS po_micro,
         |  CAST(floor(CAST(pe AS DOUBLE) / CAST(nd * nd AS DOUBLE) * 1e6 + 0.5)
         |    AS BIGINT) AS pe_micro,
         |  CASE WHEN nd * nd - pe > 0
         |    THEN CAST(floor(
         |        CAST(nd * CAST(n11 + n00 AS HUGEINT) - pe AS DOUBLE)
         |      / CAST(nd * nd - pe AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         |    ELSE 0 END AS kappa_micro
         |FROM wide""".stripMargin,
    "classifier_auc" ->
      s"""WITH
         |$chainSql,
         |sc AS (SELECT d.doc_id, d.y,
         |         CAST(floor(sum(d.x * w.w) * 1e6 + 0.5) AS BIGINT) AS score_q
         |       FROM dd d JOIN $finalWeightsCte w USING (dim)
         |       GROUP BY d.doc_id, d.y),
         |ranked AS (
         |  SELECT y,
         |    2 * CAST(rank() OVER (ORDER BY score_q ASC) AS BIGINT)
         |      + CAST(count(*) OVER (PARTITION BY score_q) AS BIGINT) - 1 AS ar2
         |  FROM sc),
         |m AS (
         |  SELECT CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
         |    CAST(count(*) - sum(CAST(y AS BIGINT)) AS BIGINT) AS n_neg,
         |    CAST(sum(CASE WHEN y = 1 THEN ar2 ELSE 0 END) AS BIGINT) AS sum_ar2
         |  FROM ranked)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |    THEN CAST(floor(CAST(sum_ar2 - n_pos * (n_pos + 1) AS DOUBLE)
         |      / (2.0 * n_pos * n_neg) * 1e6 + 0.5) AS BIGINT)
         |    ELSE 0 END AS auc_micro
         |FROM m""".stripMargin,
    "classifier_bias_report" ->
      s"""WITH
         |$chainSql,
         |sc AS (SELECT d.doc_id,
         |         CASE WHEN CAST(floor(sum(d.x * w.w) * 1e6 + 0.5) AS BIGINT)
         |           >= 0 THEN 1 ELSE 0 END AS accept
         |       FROM dd d JOIN $finalWeightsCte w USING (dim)
         |       GROUP BY d.doc_id),
         |bys AS (
         |  SELECT doc.source, count(*) AS n_docs,
         |    CAST(sum(sc.accept) AS BIGINT) AS n_accept
         |  FROM sc JOIN documents doc USING (doc_id)
         |  GROUP BY doc.source),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot,
         |               CAST(sum(n_accept) AS BIGINT) AS tot_acc FROM bys)
         |SELECT source, n_docs, n_accept,
         |  floor(n_accept * 10000.0 / n_docs + 0.5) / 1e4 AS accept_rate,
         |  floor((CAST(n_accept AS DOUBLE) / n_docs
         |    - CAST(tot_acc AS DOUBLE) / tot) * 10000 + 0.5) / 1e4
         |    AS rate_disparity
         |FROM bys, tot""".stripMargin,
    "classifier_calibration" ->
      s"""WITH
         |$chainSql,
         |sc AS (SELECT d.doc_id, d.y,
         |         CAST(floor(sum(d.x * w.w) * 1e6 + 0.5) AS BIGINT) AS score_q
         |       FROM dd d JOIN $finalWeightsCte w USING (dim)
         |       GROUP BY d.doc_id, d.y),
         |deciled AS (
         |  SELECT *, CAST(ntile(10) OVER (ORDER BY score_q, doc_id) AS INTEGER)
         |    AS decile
         |  FROM sc)
         |SELECT decile, count(*) AS n_docs,
         |  floor(sum(score_q) / CAST(count(*) AS DOUBLE) / 100 + 0.5) / 1e4
         |    AS mean_margin,
         |  floor(sum(y) * 10000.0 / count(*) + 0.5) / 1e4 AS pos_rate
         |FROM deciled GROUP BY decile""".stripMargin,
    "classifier_train" ->
      s"""WITH
         |$chainSql
         |SELECT dim, CAST(w AS DOUBLE) AS w FROM w$Iters""".stripMargin,
    "classifier_predict" ->
      s"""WITH
         |$chainSql,
         |sc AS (SELECT d.doc_id, d.y,
         |         CAST(floor(sum(d.x * w.w) * 1e6 + 0.5) AS BIGINT) AS m
         |       FROM dd d JOIN w$Iters w USING (dim)
         |       GROUP BY d.doc_id, d.y)
         |SELECT CAST(y AS INTEGER) AS label,
         |       CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS INTEGER) AS pred,
         |       count(*) AS n_docs
         |FROM sc GROUP BY y, pred""".stripMargin,
    "model_gate_stream" ->
      s"""WITH
         |$chainSql,
         |smod AS (SELECT d.doc_id, floor(sum(d.x * w.w) * 1e6 + 0.5) / 1e6 AS score
         |         FROM dd d JOIN $finalWeightsCte w USING (dim)
         |         GROUP BY d.doc_id)
         |SELECT doc_id, score,
         |  CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS INTEGER) AS accept
         |FROM smod""".stripMargin)
}
