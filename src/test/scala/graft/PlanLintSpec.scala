package graft

import org.apache.spark.sql.functions._

/** Registry-wide physical-plan lint — the scale contract, enforced
  * mechanically: every registered query's plan is built at sf0.001 and
  * scanned for the anti-patterns that kill a 100 TB run. A new
  * operator that sneaks in an accidental cartesian product or an
  * unbroadcast nested-loop join fails CI here, not on the cluster.
  */
class PlanLintSpec extends SparkSuite {

  /** Queries whose plans legitimately contain a broadcast
    * nested-loop join: non-equi joins BY DESIGN with one side
    * broadcast-tiny (ANN query-set × corpus scoring, 1-row literal
    * stats frames attached corpus-wide, deliberate small×small
    * cross joins, probe-set expansions). Each is bounded: the
    * broadcast side is O(queries)/O(1), never a second fact table.
    */
  private val nonEquiOk: Set[String] = Set(
    // ANN family: 8-row query side broadcast against the corpus scan
    // (search_hybrid composes that scoring with the BM25 stats frame)
    "ann_cosine", "ann_quantized", "ann_pq", "ann_lsh", "ann_lsh_multiprobe",
    "ann_ivf", "mmr_rerank", "semdedup", "search_hybrid",
    // truncation curve: four ann_cosine-shaped legs, each an 8-row
    // broadcast query side over a narrower projection
    "ann_truncation_curve",
    // nprobe curve: candidates fan out over a 4-row broadcast probe-
    // depth frame (pr <= nprobe) + the 8-query exact-recall audit
    "ann_nprobe_curve",
    // deliberate cross/cartesian demos and 1-row scalar attachments
    "join_cross", "join_lateral", "text_stats", "corpus_stats",
    "drift_psi", "snapshot_diff", "source_mix", "mix_temperature",
    "histogram_bucket", "date_spine", "vocab_coverage",
    // incremental dedup: tiny batch side vs corpus, non-equi verify
    "dedup_embedding", "dedup_incremental_embedding",
    "decontaminate_embedding",
    // tf-idf weighted dedup: the 1-row corpus-count frame broadcast
    // onto the capped term groups (idf needs N; O(1) side by design —
    // the simhash twin shares the chain but its .stable cut hides the
    // BNLJ from this lint, and dedup_keep_tfidf reads the edges through
    // the cluster table's RDD leaf, so only dedup_tfidf surfaces it)
    "dedup_tfidf",
    // stats/threshold scalar frames (1 row) joined without keys
    "bm25_terms", "search_bm25", "tfidf_terms", "quality_filter",
    "cap_source_tokens", "mix_epochs", "curriculum_order", "shuffle_order",
    "sample_split", "stratified_sample", "sample_weighted",
    "quantile_sketch", "heavy_hitters", "heavy_hitters_mg",
    "pagerank", "triangle_count", "triangle_count_minhash",
    "pipeline_curate", "pipeline_curate_minhash", "pipeline_curate_model",
    "pipeline_curate_model_minhash", "pipeline_pretrain",
    "pipeline_pretrain_minhash", "pipeline_pretrain_model",
    "pipeline_pretrain_model_minhash", "pipeline_pretrain_dsir",
    "pipeline_pretrain_dsir_minhash",
    "lm_score", "lm_score_bigram", "lm_score_kn3", "lm_score_gt",
    "unigram_train",
    "unigram_encode",
    "classifier_train", "classifier_predict", "pca_top", "pca_topk",
    // classifier_auc inherits the trainer chain's 1-row n0 frame; the
    // JS matrix's only non-equi node is the |sources|² pair frame
    // (dimension × dimension, corpus-size-free)
    "classifier_auc", "source_divergence_js", "lm_cross_ppl",
    // kappa inherits the trainer chain's 1-row frames (same class as
    // classifier_predict); the agreement agg itself is one global row
    "classifier_kappa",
    // t-closeness / dp-quantile: |bands|-row (attribute domain)
    // zero-fill + 1-row totals frame, both broadcast
    "privacy_tcloseness", "privacy_dp_quantile",
    // rank eval / PRF expansion: the search_bm25 1-row stats frame +
    // the O(queries) term broadcast (PRF's anti-join side included)
    "search_rank_eval", "search_expand_prf",
    "embed_project", "embed_quantize", "events_retention", "recursive_cte",
    "dedup_ngram", "dedup_spans", "dedup_spans_apply", "join_similarity",
    // KMV audience overlap: the pairwise join is over k-capped sketch
    // rows (bottom-k signatures), never raw user sets
    "audience_overlap", "audience_overlap_exact",
    // 1-row broadcast bucket-count aggregate (nb = |parts| div
    // TargetCands) attached to the user and part sides — the
    // scale-invariant fan-out knob; the candidate join itself is equi
    "sample_negatives",
    // 1-row scalar frames (funnel step totals, PMI / bigram-type /
    // token-grand totals, PSI cell-count/snap-literal frames)
    "events_funnel", "pmi_bigrams", "lm_score_kn", "cluster_topics",
    "drift_embedding",
    // IVF-PQ: probe table is O(queries·NProbe) broadcast; the non-equi
    // node is the exact-recall audit's broadcast query side. The
    // rerank form inherits exactly that audit (its own refine stage is
    // id-keyed equi joins over Cand·|queries| rows)
    "ann_ivfpq", "ann_ivfpq_rerank", "ann_ivfpq_residual",
    // lm_score's 1-row vocab-total frame, inherited by the tercile
    // bucketing on top of it
    "quality_ppl_buckets",
    // DSIR: 1-row totals frame attached to the NumBuckets-row λ build
    "dsir_weights", "dsir_sample",
    // corpus-law fits: 1-row totals frames (vocab/token grand totals,
    // doc-count D) broadcast onto a vocab-bounded fit/top-64 frame
    "zipf_fit", "token_burstiness",
    // reviewed this session — all 1-row scalar broadcast attachments:
    // benford/cusum/did/survival/frequent_seq/nb_train attach a
    // grand-total or midpoint frame; conformal attaches the 1-row fit,
    // n_cal, and q̂ frames; corpus_card composes 1-row summary legs;
    // q20's excess threshold is the q11/q22 scalar-subquery class
    "benford_screen", "changepoint_cusum", "conformal_interval",
    "corpus_card", "did_readout", "frequent_seq", "nb_train",
    "q20_excess_suppliers", "survival_km",
    // join_size_est attaches three 1-row frames (sample sum, k-th
    // hash + count, exact audit count); event_type_lift attaches the
    // 1-row user-count frame
    "join_size_est", "event_type_lift",
    // 1-row horizon / total frames (RFM recency, ensemble's lm_score
    // leg, forecast horizon, basket order count)
    "user_rfm", "quality_ensemble", "forecast_baseline", "basket_pairs",
    // graph census: three 1-row stat frames cross-joined
    "graph_stats",
    // 1-row broadcast scalar thresholds (mean part value / avg balance
    // / max supplier revenue)
    "q11_part_value", "q22_global_balance", "q15_top_supplier",
    // 1-row corpus-count frames feeding the closed-form NTILE of the
    // ScalableRank rewrites (the scalar-subquery class)
    "zorder_eval",
    // 1-row broadcast scalar frames: arm stats, FK check total, KS
    // max + totals, global LOO fallback, freshness watermark
    "ab_test_readout", "dq_checks", "drift_ks", "feature_target_encode",
    "source_freshness",
    // kNN family: knn_classify broadcasts the fixed held-out query set
    // (O(queries), the ann_cosine shape); mnn_pairs is the EXACT
    // all-pairs mutual-top1 baseline across the even/odd divide with
    // the smaller pool broadcast — the dedup_embedding class, whose
    // registered scale path is the LSH/IVF retrieval family
    "knn_classify", "mnn_pairs",
    // chunk-granular BM25: same 1-row stats crossJoin as search_bm25
    "search_chunks",
    // Neyman allocation: two 1-row scalar frames (Σw, shortfall)
    "sample_neyman")

  /** The session's function registry: each name with the class of the
    * expression it builds.
    */
  private def functionRegistry(): Map[String, String] = {
    val r = spark.sessionState.functionRegistry
    r.listFunction().map(f => f.unquotedString ->
      r.lookupFunction(f).map(i => String.valueOf(i.getClassName)).getOrElse("")).toMap
  }

  /** The registry before [[frames]] builds every registered query. */
  private lazy val registryBefore: Map[String, String] = functionRegistry()

  private lazy val frames: Map[String, Either[String, org.apache.spark.sql.DataFrame]] = {
    registryBefore
    val s = spark
    SparkEntry.queries.map { case (name, fn) =>
      name -> (try Right(fn(s, sfDir))
        catch { case e: Throwable => Left(s"PLAN_BUILD_FAILED: ${e.getMessage}") })
    }
  }

  private lazy val plans: Map[String, String] = frames.map { case (name, e) =>
    name -> e.fold(identity, df =>
      try df.queryExecution.executedPlan.toString
      catch { case ex: Throwable => s"PLAN_BUILD_FAILED: ${ex.getMessage}" })
  }

  test("every registered query plans without error") {
    val failed = plans.collect { case (n, p) if p.startsWith("PLAN_BUILD_FAILED") => n }
    assert(failed.isEmpty, s"plan build failed for: $failed")
  }

  test("building every registered query writes nothing to the session's function registry") {
    frames
    val after = functionRegistry()
    val changed = (registryBefore.keySet ++ after.keySet).toSeq.sorted
      .filter(n => registryBefore.get(n) != after.get(n))
      .map(n => s"$n: ${registryBefore.get(n)} -> ${after.get(n)}")
    assert(changed.isEmpty, s"the walk rewrote registry entries:\n${changed.mkString("\n")}")
  }

  test("no physical plan exceeds the bloat threshold (r14 verdict #10)") {
    // er_resolve's 25k-line FORMATTED plan (a loop output self-joined
    // against its own aggregate with no lineage cut between, fixed in
    // r14 §9 by one mid-chain .stable) was found by accident; this
    // walks every entry so the next instance is found by lint. The
    // registry's current maximum executedPlan is well under the
    // threshold (PlanSizes tool); the pathological class is an order
    // of magnitude above it. Additions to the allowlist must document
    // why the size is inherent.
    val limit = 2000
    val allow: Set[String] = Set()
    val offenders = plans.collect {
      case (n, p) if !allow(n) && !p.startsWith("PLAN_BUILD_FAILED") &&
        p.linesIterator.size > limit => (n, p.linesIterator.size)
    }.toSeq.sortBy(-_._2)
    assert(offenders.isEmpty, s"plan bloat (> $limit lines): $offenders")
  }

  test("no CartesianProduct anywhere in the registry") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"cartesian products (unbounded at scale) in: $offenders")
  }

  test("BroadcastNestedLoopJoin only where a bounded side is by-design") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !nonEquiOk(n) => n
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"unreviewed non-equi joins in: $offenders — add to nonEquiOk ONLY " +
        "after confirming the broadcast side is O(1)/O(queries)")
  }

  /** Queries whose optimized plans legitimately retain an
    * UNPARTITIONED window: every entry's window INPUT is bounded by
    * construction — a K-row orderBy+limit leaderboard, a fixed-domain
    * spine (days, digits, enum cells), or a capped fit frame — never
    * a corpus-sized relation. Corpus-scale total orders must go
    * through graft.core.ScalableRank (range-partitioned two-pass
    * rank/ntile/prefix-sum) instead: an unpartitioned WindowExec
    * moves its whole input to ONE partition — the first OOM at 100×.
    */
  private val globalWindowOk: Set[String] = Set(
    // contingency/marginal cells over fixed categorical domains:
    // arm×event_type, source×lang, |sources|, |event_type| strata
    "ab_test_chi2", "mutual_info", "mixture_allocate", "sample_neyman",
    // fixed numeric spines: 9 leading digits; source×length-bucket
    // grid (doc length is capped, so the bucket domain is fixed)
    "benford_screen", "drift_psi",
    // calendar-bounded series cells: day/hour spines and day-granular
    // lifetime durations — |rows| ≤ time-range, not corpus size
    "changepoint_cusum", "ts_decompose", "user_growth", "survival_km",
    // K-row post-limit leaderboards (TakeOrderedAndProject feeds the
    // window K rows): Gumbel top-k sample, top-256 Zipf ranks
    "dsir_sample", "zipf_fit",
    // distinct-cent price cells — p_retailprice is a fixed-width
    // decimal domain, so the per-price frontier frame is bounded
    "skyline_2d")

  test("no unpartitioned window over an unbounded input") {
    val offenders = frames.toSeq.collect { case (n, Right(df)) =>
      val bad =
        try df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }
        catch { case _: Throwable => Nil }
      (n, bad.nonEmpty)
    }.collect { case (n, true) if !globalWindowOk(n) => n }.sorted
    assert(offenders.isEmpty,
      s"unpartitioned windows (single-partition sort at scale) in: " +
        s"$offenders — rewrite on ScalableRank, or add to globalWindowOk " +
        "ONLY after confirming the window input is bounded (K-row " +
        "leaderboard / fixed domain)")
  }

  /** True when a Filter in `df`'s optimized plan evaluates the
    * shingle or MinHash-signature expression. Catalyst pushes a
    * predicate on an aliased `word_shingles(text)` column through the
    * projection by inlining the alias, and InferFiltersFromGenerate
    * adds `size(...) > 0` under a plain explode of one: either way the
    * scan shingles every document a second time just to test it.
    */
  private def filtersShingles(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.exists {
          case _: graft.functions.WordShingles | _: graft.functions.MinHashBuckets => true
          case _ => false
        }
      case _ => false
    }

  test("no Filter condition evaluates word_shingles or minhash_buckets") {
    val offenders = frames.toSeq.collect { case (n, Right(df)) =>
      (n, try filtersShingles(df) catch { case _: Throwable => false })
    }.collect { case (n, true) => n }.sorted
    assert(offenders.isEmpty,
      s"filters that re-evaluate the shingle/signature chain in: $offenders — " +
        "filter on a generator's output (Dedup.nonEmptyShingles, explode_outer) instead")
  }

  // ——— the `.stable` blind spot (r13 verdict #2, closed r14) ———
  // A localCheckpoint truncates lineage, so the walks above cannot
  // see plan nodes UPSTREAM of a `.stable` cut — an allowlist comment
  // admitted as much ("its .stable cut hides the BNLJ from this
  // lint"). Re-build every registry plan with the cuts disabled
  // (spark.graft.stableOff — the Checkpoints escape hatch) and re-run
  // the three structural lints end-to-end. In-LOOP truncations
  // (Checkpoints.stableLoop) deliberately stay active: they hide only
  // prior iterations of the same loop body (the lintable operators
  // appear in full in iteration 1), and removing them grows loop
  // plans 2-4x per round — the first blanket walk hung on exactly
  // that. Builders still execute their construction-time driver
  // actions, so this walk is slower than the truncated one — it runs
  // once per suite.
  private lazy val noStable: Map[String, (String, Boolean, Boolean)] = {
    spark.conf.set("spark.graft.stableOff", "true")
    try {
      SparkEntry.queries.map { case (name, fn) =>
        name -> (try {
          val df = fn(spark, sfDir)
          val phys = df.queryExecution.executedPlan.toString
          val badWin = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }.nonEmpty
          (phys, badWin, filtersShingles(df))
        } catch {
          case e: Throwable => (s"PLAN_BUILD_FAILED: ${e.getMessage}", false, false)
        })
      }
    } finally {
      spark.conf.unset("spark.graft.stableOff")
      // frames built without truncation must not linger as model-cache
      // entries for later suites (they'd serve un-truncated plans)
      graft.core.ModelCache.clear()
    }
  }

  /** Additional BNLJ entries visible only end-to-end (upstream of a
    * `.stable` cut in the returned chain) — reviewed r14, each the
    * SAME bounded shape as its [[nonEquiOk]] relatives:
    * - ts_acf: three broadcast scalar frames (1-row series total,
    *   |lags|-row lag spine, 1-row lag-0 denominator) onto a
    *   DAY-granular calendar-bounded series; the lag self-join
    *   itself is equi (day2 = day + lag).
    * - classifier_bias_report / classifier_calibration / nb_predict /
    *   tree_predict / tree_train: the classifier/NB/CART trainer
    *   chains' 1-row count/total frames (the classifier_train /
    *   nb_train class, hidden by the model-frame cut).
    * - dedup_tfidf_simhash: the tf-idf weighted-edge producer's 1-row
    *   corpus-count frame — EXACTLY the case the old dedup_tfidf
    *   allowlist comment predicted its `.stable` cut was hiding.
    * - dedup_cross_source / source_overlap_shingles: |sources|² pair
    *   frames (dimension × dimension, corpus-size-free — the
    *   source_divergence_js class).
    * - graph_closeness / graph_hits / graph_modularity: 1-row
    *   node-count / per-round max-score / edge-mass frames broadcast
    *   into the round arithmetic.
    * - pipeline_curate_dsir(+_minhash): DSIR's 1-row totals frame on
    *   the 128-bucket λ build (the dsir_weights class).
    * - sample_kcenter: the 1-row selected-center frame broadcast per
    *   k-center round.
    */
  private val nonEquiOkNoStable: Set[String] = Set("ts_acf",
    "classifier_bias_report", "classifier_calibration", "nb_predict",
    "tree_predict", "tree_train", "dedup_tfidf_simhash",
    "dedup_cross_source", "source_overlap_shingles", "graph_closeness",
    "graph_hits", "graph_modularity", "pipeline_curate_dsir",
    "pipeline_curate_dsir_minhash", "sample_kcenter")

  /** Additional unpartitioned-window entries visible only end-to-end
    * — reviewed r14, same bounded-input classes as [[globalWindowOk]]:
    * - label_noise_report / graph_hits: K-row post-limit leaderboards
    *   (TakeOrderedAndProject feeds the window K rows — the
    *   dsir_sample/zipf_fit class).
    * - tree_train / tree_predict: the CART root split's rank-1 window
    *   runs over the aggregated (feature × bucket-value) CELL grid —
    *   4 features × quantized value domain, corpus-size-free counts
    *   (the drift_psi / skyline_2d fixed-domain class).
    */
  private val globalWindowOkNoStable: Set[String] =
    Set("label_noise_report", "graph_hits", "tree_train", "tree_predict")

  test("no CartesianProduct anywhere — with lineage cuts disabled (end-to-end plans)") {
    val offenders = noStable.collect {
      case (n, (p, _, _)) if p.contains("CartesianProduct") => n
    }.toSeq.sorted
    assert(offenders.isEmpty, s"cartesian products upstream of .stable cuts in: $offenders")
  }

  test("BNLJ only where bounded — with lineage cuts disabled (end-to-end plans)") {
    val offenders = noStable.collect {
      case (n, (p, _, _)) if p.contains("BroadcastNestedLoopJoin") &&
        !nonEquiOk(n) && !nonEquiOkNoStable(n) => n
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"unreviewed non-equi joins upstream of .stable cuts in: $offenders")
  }

  test("no unpartitioned window over an unbounded input — with lineage cuts disabled") {
    val offenders = noStable.collect {
      case (n, (_, true, _)) if !globalWindowOk(n) && !globalWindowOkNoStable(n) => n
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"unpartitioned windows upstream of .stable cuts in: $offenders")
  }

  test("every registered query plans end-to-end with lineage cuts disabled") {
    val failed = noStable.collect {
      case (n, (p, _, _)) if p.startsWith("PLAN_BUILD_FAILED") => n
    }.toSeq.sorted
    assert(failed.isEmpty, s"stable-off plan build failed for: $failed")
  }

  test("no Filter evaluates word_shingles or minhash_buckets — with lineage cuts disabled") {
    val offenders = noStable.collect { case (n, (_, _, true)) => n }.toSeq.sorted
    assert(offenders.isEmpty,
      s"shingle/signature filters upstream of .stable cuts in: $offenders")
  }

  test("no ShuffledHashJoin/SortMergeJoin against a dimension table in the TPC-H heads") {
    // the dim joins must broadcast — a shuffled dim join at 100 TB
    // moves the fact table for nothing
    Seq("q3_top_revenue", "q5_region_revenue", "q9_profit").foreach { q =>
      assert(plans(q).contains("BroadcastHashJoin"),
        s"$q lost its broadcast dim join:\n${plans(q).take(2000)}")
    }
  }

  test("partition pruning reaches the partitioned scan") {
    val p = plans("partitioned_scan")
    assert(p.contains("PartitionFilters: [") && !p.contains("PartitionFilters: []"),
      s"partitioned_scan has no partition filters:\n${p.take(2000)}")
  }

  test("rank-based top-k pushes down as WindowGroupLimit") {
    assert(plans("topk_per_group").contains("WindowGroupLimit"),
      "topk_per_group no longer benefits from rank-limit pushdown")
  }

  test("parquet scans prune columns: wc reads only the text column") {
    val p = plans("wc")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    readSchemas.foreach { s =>
      assert(!s.contains("lang") && !s.contains("source") && !s.contains("n_chars"),
        s"wc reads columns it does not use: $s")
    }
  }
}
