package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Corpus-curation operators for training-data pipelines ([EXT], no
  * reference citation by definition — SURVEY.md §0): Gopher-style
  * repetition filtering, unigram-LM perplexity-proxy scoring (the CCNet
  * idea with the corpus itself as the LM), verbatim-span duplication
  * signals (the exact-substring-dedup signal of Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better"), and
  * source-mixture weighting (token-budget allocation across sources).
  *
  * Scale design, per operator:
  *  - quality_repetition: PURE MAP — every signal is an array lambda
  *    over the per-doc token array; zero shuffles at any corpus size.
  *  - lm_score: vocab build is one partial-agg'd shuffle of the token
  *    stream collapsed to vocab size; the scoring join shuffle-joins
  *    on the same `tok` key (no forced broadcast — a web-scale vocab
  *    is unbounded; AQE broadcasts only when the measured size fits).
  *  - dedup_spans: the span stream shuffles exactly once (groupBy span);
  *    duplicated-span lists re-group by doc at candidate volume
  *    (∝ true duplication, not corpus size).
  *  - source_mix: per-doc token counts come from array size (no
  *    explode); one tiny per-source agg + a 1-row broadcast.
  */
object Corpus {

  private def toks(text: Column): Column = Dedup.tokensCol(text)

  /** floor(x·1e4+0.5)/1e4 — HALF-UP rounding computed on the shared
    * IEEE double, bit-deterministic across Spark and DuckDB (their
    * round() implementations disagree on exact 4th-decimal halves;
    * see TextOps.qualityScore).
    */
  private def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0

  // Gopher-style repetition gates (Rae et al. 2021 §A1.1 use 0.2 for
  // the top-1-gram fraction on web text; this corpus is denser, so the
  // gates sit just above its p75/p90 — a filter that fires on a real
  // tail, not a constant).
  private val TopTokMax = 0.125
  private val Dup2Max = 0.06
  private val Dup3Max = 0.02

  /** Per-doc repetition signals + keep gate: fraction of tokens that
    * are the single most frequent token, fraction of duplicate word
    * 2-grams / 3-grams. Pure per-row map (array lambdas, no shuffle).
    * Per-row cost is O(distinct·n) for the top-token scan — linear in
    * n for a bounded vocabulary (CorpusSpec runs a 100k-token
    * document through it).
    */
  def qualityRepetition(s: SparkSession, d: String): DataFrame =
    qualityRepetitionOn(Tables.documents(s, d))

  def qualityRepetitionOn(documents: DataFrame): DataFrame = {
    val ws = col("ws")
    val topTf = array_max(transform(array_distinct(ws),
      x => size(filter(ws, y => y === x))))
    repetitionFromTopTf(documents
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(col("doc_id"), ws, topTf.as("top_tf")))
  }

  /** Shared tail over (doc_id, ws, top_tf): the 2/3-gram duplicate
    * fractions and the keep gate.
    */
  private def repetitionFromTopTf(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    val n = size(ws)
    val dupFrac = (grams: Column, cnt: Column) =>
      lit(1.0) - size(array_distinct(grams)).cast("double") / cnt
    val g2 = transform(sequence(lit(1), n - 1),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))
    val g3 = transform(sequence(lit(1), n - 2),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))
    val topFrac = col("top_tf").cast("double") / n
    val d2 = when(n >= 2, dupFrac(g2, (n - 1).cast("double"))).otherwise(lit(0.0))
    val d3 = when(n >= 3, dupFrac(g3, (n - 2).cast("double"))).otherwise(lit(0.0))
    docs.select(col("doc_id"), n.as("n_tokens"),
      r4(topFrac).as("top_tok_frac"),
      r4(d2).as("dup_2gram_frac"),
      r4(d3).as("dup_3gram_frac"),
      // gate on the UNROUNDED doubles: both engines threshold the same
      // IEEE values, so a doc sitting exactly on a gate can't diverge
      (topFrac <= TopTokMax && d2 <= Dup2Max && d3 <= Dup3Max)
        .cast("int").as("keep"))
  }

  /** Unigram-LM negative-log-likelihood score per document — the
    * perplexity-proxy quality filter (CCNet shape) with the corpus's
    * own unigram distribution as the model: p(w) = count(w)/total,
    * score = mean over doc tokens of -ln p(w). High = surprising
    * (rare-token) docs, low = stereotypical ones.
    *
    * The vocab join deliberately carries NO broadcast hint: a web-scale
    * unigram vocabulary (typos, URLs, hashes) is 10⁸–10⁹ distinct
    * tokens — an unconditional broadcast is a driver/executor OOM. The
    * token stream is already exploded and hash-partitions on `tok` for
    * the vocab build, so the scoring join shuffle-joins on the same
    * key; AQE still downgrades it to a broadcast join whenever the
    * MEASURED vocab fits under autoBroadcastJoinThreshold — the safe,
    * size-based version of the old hint. Only the 1-row totals frame
    * is force-broadcast. Plan-guarded in CorpusSpec (no broadcast hint
    * on the vocab join).
    */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val vocab = terms.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    terms
      .join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        r4(avg(-log(col("cnt").cast("double") / col("total")))).as("avg_nll"))
  }

  /** Good-Turing discount cutoff (Katz's k): counts above GtK keep
    * their MLE estimate — the frequency-of-frequencies table is only
    * reliable for small r.
    */
  val GtK = 5

  /** Good-Turing discounted unigram scoring (Good 1953; Katz 1987) —
    * the classical-smoothing fourth leg next to add-1
    * ([[lmCrossPpl]]), interpolated bigram ([[lmScoreBigram]]) and
    * Kneser-Ney (lm_score_kn/kn3): adjusted count
    * r* = (r+1)·N_{r+1}/N_r for r ≤ [[GtK]] (MLE above the cutoff,
    * or when N_{r+1} is empty), p(w) = r* / N. The discount moves mass
    * toward the unseen exactly as the singleton/doubleton structure
    * dictates — rare-word-heavy docs score HIGHER NLL than under MLE,
    * which is the quality-gate-relevant difference.
    *
    * Exactness: r* is a ratio of exact integers per COUNT CLASS (the
    * freq-of-freqs table N_r, |{r}| ≤ √(2N) rows — a dimension, not
    * the corpus); per-doc scoring follows [[lmScore]]'s convention
    * (raw-double avg absorbed by the 1e-4 rounding).
    *
    * Scale shape: one token explode, the vocab aggregate, a
    * vocab⋈N_r join AQE size-picks (same law as lm_score), and the
    * scoring join on token keys. The N total travels as a 1-row
    * broadcast.
    */
  def lmScoreGt(s: SparkSession, d: String): DataFrame =
    lmScoreGtOn(Tables.documents(s, d))

  /** [[lmScoreGt]] over any (doc_id, …, text) frame — the planted-
    * corpus form CorpusSpec certifies the discount branches on (the
    * driver tables' synthetic 31-word vocabulary has no rare words,
    * so the r ≤ GtK adjustment is only live on real/planted text).
    */
  def lmScoreGtOn(documents: DataFrame): DataFrame = {
    val terms = documents
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val vocab = terms.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val nr = vocab.groupBy("cnt").agg(count(lit(1)).as("n_r"))
    val nr1 = nr.select((col("cnt") - 1).as("cnt"), col("n_r").as("n_r1"))
    val total = vocab.agg(sum("cnt").as("total"))
    val adj = vocab.join(nr, "cnt").join(nr1, Seq("cnt"), "left")
      .select(col("tok"),
        when(col("cnt") <= GtK && col("n_r1").isNotNull,
          (col("cnt") + 1).cast("double") * col("n_r1") / col("n_r"))
          .otherwise(col("cnt").cast("double")).as("cstar"))
    terms.join(adj, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        r4(avg(-log(col("cstar") / col("total")))).as("avg_nll_gt"))
  }

  /** Interpolation weight of [[lmScoreBigram]]:
    * p(w₂|w₁) = LmLam·cb/cc + (1−LmLam)·cu/N. BOTH constants are
    * explicit literals (0.25, not 1−0.75 — IEEE-identical here, but
    * the explicit-pair convention keeps every oracle mirror honest).
    */
  val LmLam = 0.75
  val LmOneMinusLam = 0.25

  /** Adjacent-bigram struct array of a token-array ATTRIBUTE (same
    * materialized-attribute contract as [[spansFromTokens]] — the
    * multi-reference lambda body stops project collapse from inlining
    * the tokenizer per element).
    */
  def bigramsFromTokens(ws: Column): Column =
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Bigram LM perplexity-proxy scoring — the order-2 upgrade of
    * [[lmScore]] (CCNet with the corpus as its own LM): per-doc mean
    * NLL under an interpolated bigram model,
    * p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N. Repetitive/
    * templated text scores low, token-salad scores high — a sharper
    * quality signal than unigram NLL because it sees word ORDER.
    *
    * Scale design: one bigram explode (linear in tokens), bigram/
    * context/unigram counts are vocabulary-cardinality partial-agg'd
    * shuffles, and the scoring joins run on the same token keys — AQE
    * size-picks broadcast exactly as in [[lmScore]] (no forced
    * broadcast of an unbounded aggregate). N travels as a broadcast
    * 1-row frame.
    */
  def lmScoreBigram(s: SparkSession, d: String): DataFrame =
    lmScoreBigramOn(Tables.documents(s, d))

  def lmScoreBigramOn(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), toks(col("text")).as("ws"))
    val bi = base
      .select(col("doc_id"), explode(bigramsFromTokens(col("ws"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = base.select(explode(col("ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").cast("double").as("n"))
    val ub = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ctx = bi.groupBy("w1").agg(count(lit(1)).as("cc"))
    bi
      .join(ub, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(uni.withColumnRenamed("tok", "w2"), Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r4(avg(-log(lit(LmLam) * col("cb").cast("double") / col("cc")
          + lit(LmOneMinusLam) * col("cu").cast("double") / col("n"))))
          .as("avg_nll2"))
  }

  /** Absolute discount for [[lmScoreKn]] (Kneser-Ney's canonical
    * D = 0.75; a literal in both engines).
    */
  val KnD = 0.75

  /** Interpolated Kneser-Ney bigram scoring ([EXT], Kneser & Ney '95;
    * Chen & Goodman '98 eq. 4.25) — the smoothing upgrade of
    * [[lmScoreBigram]]: instead of backing off to RAW unigram
    * frequency, the lower-order term is the CONTINUATION probability
    * N1+(·w)/N1+(··) (in how many distinct contexts does w appear?),
    * so boilerplate tokens that are frequent but context-locked
    * ("Francisco" after "San") stop inflating unseen-context scores —
    * the difference that made KN the standard n-gram smoother.
    * p(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·) + D/c(w₁·)·N1+(w₁·)·Pcont(w₂).
    *
    * Scale design: identical envelope to [[lmScoreBigram]] — one
    * bigram explode, vocabulary/bigram-TYPE-cardinality partial-agg'd
    * counts (the continuation counts are one extra groupBy over the
    * bigram-type table, strictly smaller than the token stream), and
    * token-keyed scoring joins AQE size-picks. Float surface: the
    * per-doc avg under r4 — the bigram entry's accepted class.
    */
  def lmScoreKn(s: SparkSession, d: String): DataFrame =
    lmScoreKnOn(Tables.documents(s, d))

  def lmScoreKnOn(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), toks(col("text")).as("ws"))
    val bi = base
      .select(col("doc_id"), explode(bigramsFromTokens(col("ws"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val ub = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ctx = bi.groupBy("w1").agg(count(lit(1)).as("cc"))
    val fwd = ub.groupBy("w1").agg(count(lit(1)).as("n1f")) // N1+(w1·)
    val back = ub.groupBy("w2").agg(count(lit(1)).as("n1b")) // N1+(·w2)
    val btypes = ub.agg(count(lit(1)).cast("double").as("bt")) // N1+(··)
    bi
      .join(ub, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(fwd, Seq("w1"))
      .join(back, Seq("w2"))
      .crossJoin(broadcast(btypes))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r4(avg(-log(
          greatest(col("cb").cast("double") - lit(KnD), lit(0.0)) / col("cc")
            + lit(KnD) / col("cc") * col("n1f") * (col("n1b") / col("bt")))))
          .as("avg_nll_kn"))
  }

  /** Adjacent-trigram struct array (the order-3 [[bigramsFromTokens]]). */
  def trigramsFromTokens(ws: Column): Column =
    when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2),
        i => struct(element_at(ws, i).as("w1"),
          element_at(ws, i + 1).as("w2"),
          element_at(ws, i + 2).as("w3"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))

  /** Interpolated Kneser-Ney TRIGRAM scoring ([EXT], Chen & Goodman
    * '98 eq. 4.25 at order 3 — the CCNet-class 5-gram KenLM scorer's
    * shape, one order above [[lmScoreKn]]): the highest order
    * discounts raw trigram counts, the middle order runs entirely on
    * CONTINUATION counts over trigram TYPES (N1+(·w₂w₃)/N1+(·w₂·)),
    * and the unigram floor is [[lmScoreKn]]'s bigram-type
    * continuation probability —
    * p(w₃|w₁w₂) = max(c(w₁w₂w₃)−D,0)/c(w₁w₂·)
    *   + D/c(w₁w₂·)·N1+(w₁w₂·)·p_KN(w₃|w₂), with
    * p_KN(w₃|w₂) = max(N1+(·w₂w₃)−D,0)/N1+(·w₂·)
    *   + D/N1+(·w₂·)·N1+(w₂·)·Pcont(w₃).
    *
    * Scale design: one trigram explode (linear in tokens); every
    * model table is a partial-agg'd groupBy over trigram/bigram TYPE
    * tables (strictly smaller than the token stream); scoring joins
    * are token-keyed and AQE size-picked — the [[lmScoreKn]] envelope
    * with one extra order of (small) type tables. Float surface: the
    * per-doc avg under r4 — the accepted lm_score class.
    */
  def lmScoreKn3(s: SparkSession, d: String): DataFrame =
    lmScoreKn3On(Tables.documents(s, d))

  def lmScoreKn3On(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), toks(col("text")).as("ws"))
    val tri = base
      .select(col("doc_id"), explode(trigramsFromTokens(col("ws"))).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val tt = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
    val cc3 = tri.groupBy("w1", "w2").agg(count(lit(1)).as("cc3"))
    val f3 = tt.groupBy("w1", "w2").agg(count(lit(1)).as("f3"))
    val midc = tt.groupBy("w2", "w3").agg(count(lit(1)).as("n1mid"))
    val midctx = tt.groupBy("w2").agg(count(lit(1)).as("n1mx"))
    val bi = base
      .select(explode(bigramsFromTokens(col("ws"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val ub = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val f2 = ub.groupBy("w1").agg(count(lit(1)).as("f2"))
      .withColumnRenamed("w1", "w2")
    val n1b = ub.groupBy("w2").agg(count(lit(1)).as("n1b"))
      .withColumnRenamed("w2", "w3")
    val btypes = ub.agg(count(lit(1)).cast("double").as("bt"))
    val pcont =
      greatest(col("n1mid").cast("double") - lit(KnD), lit(0.0)) / col("n1mx") +
        lit(KnD) / col("n1mx") * col("f2") * (col("n1b") / col("bt"))
    tri
      .join(tt, Seq("w1", "w2", "w3"))
      .join(cc3, Seq("w1", "w2"))
      .join(f3, Seq("w1", "w2"))
      .join(midc, Seq("w2", "w3"))
      .join(midctx, Seq("w2"))
      .join(f2, Seq("w2"))
      .join(n1b, Seq("w3"))
      .crossJoin(broadcast(btypes))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        r4(avg(-log(
          greatest(col("ct").cast("double") - lit(KnD), lit(0.0)) / col("cc3")
            + lit(KnD) / col("cc3") * col("f3") * pcont)))
          .as("avg_nll_kn3"))
  }

  // 20-token windows — the span length of Lee et al.'s exact-substring
  // dedup (50 BPE tokens ≈ 20-25 words; 20 keeps short docs in play).
  private val SpanLen = 20

  /** Distinct SpanLen-token windows of a token-array ATTRIBUTE. `ws`
    * must be a materialized column, not an inline expression: the lambda
    * references it per window, and higher-order functions re-evaluate
    * non-attribute subtrees on every call (no CSE inside lambdas) —
    * inlining the tokenizer here is O(words^2) per document.
    */
  def spansFromTokens(ws: Column): Column =
    when(size(ws) >= SpanLen,
      array_distinct(transform(sequence(lit(1), size(ws) - (SpanLen - 1)),
        i => concat_ws(" ", slice(ws, i, lit(SpanLen))))))
      .otherwise(array().cast("array<string>"))

  /** Per-doc verbatim-duplication signal: the fraction of a document's
    * distinct 20-token windows that also appear in ANOTHER document.
    * This is the detection signal of exact-substring dedup without the
    * pair blowup: spans group corpus-wide (one shuffle), only spans
    * seen in >1 doc re-expand (∝ true duplication), and no doc-pair is
    * ever materialized — the operator stays linear where a pairwise
    * formulation is quadratic.
    */
  def dedupSpans(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(col("doc_id"), spansFromTokens(col("ws")).as("spans"))
      .select(col("doc_id"), col("spans"), size(col("spans")).as("n_spans"))
    val ex = base
      .select(col("doc_id"), explode_outer(col("spans")).as("span"))
      .filter(col("span").isNotNull)
    // collect doc lists per span; only >1-doc spans expand. ids are
    // per-span distinct (spans are per-doc distinct), so each (doc,
    // dup-span) contributes exactly once to the count.
    val dupPerDoc = ex.groupBy("span")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup"))
    base.select(col("doc_id"), col("n_spans"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          floor(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_spans") * 10000 + 0.5) / 10000.0)
          .otherwise(lit(0.0)).as("dup_span_frac"))
  }

  /** The REWRITE face of [[dedupSpans]] — the deliverable
    * exact-substring dedup actually ships: the corpus with duplicated
    * 20-token spans EXCISED, first occurrence kept. Contract: a span
    * seen in >1 document keeps the occurrence(s) in its minimum
    * doc_id; in every other document the span's token positions are
    * removed (overlapping removals union), and each cleaned document
    * is re-emitted as its surviving tokens in order. Documents with no
    * duplicated spans pass through token-identical.
    *
    * All arithmetic is integer position algebra on exact strings, so
    * the operator sits under the DuckDB hash gate.
    *
    * Scale design: same single span-group shuffle as the detector
    * (spans group corpus-wide, only >1-doc spans re-expand), plus a
    * covered-position explode bounded by 20·|dup windows| and one
    * doc-keyed anti-join — linear in corpus + true duplication, no
    * doc pair ever materialized. The cleaned text re-assembles
    * per-doc via sort_array over (pos, token) structs — deterministic
    * merge-order-independent output.
    */
  def dedupSpansApply(s: SparkSession, d: String): DataFrame =
    dedupSpansApplyOn(Tables.documents(s, d))

  /** Core of [[dedupSpansApply]] over any (doc_id, text) frame (spec
    * tests feed planted corpora here).
    */
  def dedupSpansApplyOn(documents: DataFrame): DataFrame = {
    val base = documents
      .select(col("doc_id"), toks(col("text")).as("ws"))
    // every window occurrence WITH its 1-based start position (the
    // detector dedups per doc; the rewrite needs each occurrence)
    val win = base.filter(size(col("ws")) >= SpanLen)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (SpanLen - 1)),
        i => struct(i.as("p"),
          concat_ws(" ", slice(col("ws"), i, lit(SpanLen))).as("span")))).as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.span").as("span"))
    val own = win.groupBy("span")
      .agg(min("doc_id").as("keeper"), countDistinct("doc_id").as("nd"))
    val rem = win.join(own, "span")
      .filter(col("nd") > 1 && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("p"))
    val cov = rem
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (SpanLen - 1))).as("pos"))
      .distinct()
    val poss = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val agg = poss.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          st => st("tok")), " ").as("text_clean"))
    base.select(col("doc_id"), size(col("ws")).as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** FULL Lee-et-al.-grade exact span dedup — [[dedupSpansApply]]
    * extended to the complete suffix-array semantics at token
    * granularity. Two upgrades over the `_apply` form:
    *
    *  1. WITHIN-DOCUMENT repeats are excised too. `_apply` gates on
    *     `countDistinct(doc_id) > 1`, so a verbatim run duplicated
    *     inside ONE document (repeated boilerplate on the same page —
    *     a case Lee et al.'s suffix array catches) passes through
    *     untouched. Here ownership is the global FIRST OCCURRENCE by
    *     (doc_id, position), and every other occurrence — same doc or
    *     not — is removed.
    *  2. The first occurrence is PROTECTED: positions covered by an
    *     owner window are never excised even when a later overlapping
    *     occurrence covers them. For a periodic run (token period
    *     < SpanLen, e.g. 40 repeats of one word) this collapses the
    *     run to exactly its first SpanLen tokens — the maximal-match
    *     behavior — where an unprotected union would eat back into
    *     the occurrence being kept.
    *
    * Both sliding-window operators catch boundary-straddling runs by
    * construction (stride-1 windows — every ≥SpanLen-token duplicated
    * run contains a duplicated window at its own start); the
    * fixed-segment form that CAN miss a straddler is
    * [[dedupParagraph]], which trades that for a segment-digest-only
    * shuffle.
    *
    * Exactness: ownership and excision are integer position algebra;
    * window identity is md5 over the exact span text, recomputed
    * identically by DuckDB — full hash gate.
    *
    * Scale: windows shuffle as 32-char md5 DIGESTS with (doc_id, p) —
    * the raw 20-token span text never leaves its partition (unlike
    * `_apply`, which groups raw span strings — ~5× more shuffle
    * bytes); one digest-group shuffle, covered-position explodes
    * bounded by SpanLen·|duplicated windows|, one doc-keyed
    * anti-join. Linear in corpus + true duplication; no doc pair
    * materialized.
    */
  def dedupSpansExact(s: SparkSession, d: String): DataFrame =
    dedupSpansExactOn(Tables.documents(s, d))

  /** Core of [[dedupSpansExact]] over any (doc_id, text) frame. */
  def dedupSpansExactOn(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), toks(col("text")).as("ws"))
    // every window occurrence as (doc, 1-based pos, digest); okey is
    // the packed global occurrence order. The packing silently wraps
    // past Long.Max for doc_id > ~9.2e9 or a ≥1e9-token doc — and the
    // oracle does the same arithmetic, so the hash gate could never
    // catch the corruption. Fail loudly instead (the summarize_extract
    // guard pattern).
    val okeyPacked =
      when(col("doc_id").between(0L, 9223372035L) &&
          col("w.p") < lit(1000000000),
        col("doc_id") * lit(1000000000L) + col("w.p"))
        .otherwise(raise_error(concat(
          lit("dedup_spans_exact: (doc_id, pos) out of okey packing "
            + "range for doc_id="),
          col("doc_id").cast("string"))))
    val win = base.filter(size(col("ws")) >= SpanLen)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (SpanLen - 1)),
        i => struct(i.as("p"),
          md5(concat_ws(" ", slice(col("ws"), i, lit(SpanLen)))).as("h"))))
        .as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.h").as("h"),
        okeyPacked.as("okey"))
    val own = win.groupBy("h")
      .agg(min("okey").as("okey_min"), count(lit(1)).as("nocc"))
    val dupw = win.join(own, "h").filter(col("nocc") > 1)
      .select(col("doc_id"), col("p"),
        (col("okey") === col("okey_min")).as("is_owner"))
    def covOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (SpanLen - 1))).as("pos"))
      .distinct()
    // removed = non-owner coverage MINUS owner coverage (protection);
    // read twice (run census + anti-join) → .stable
    val cov = covOf(dupw.filter(!col("is_owner")))
      .join(covOf(dupw.filter(col("is_owner"))),
        Seq("doc_id", "pos"), "left_anti")
      .stable
    // maximal merged excised runs: a removed position starts a run iff
    // its predecessor position is not removed
    val runs = cov
      .withColumn("prev",
        lag("pos", 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("prev").isNull || col("pos") - col("prev") > 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_runs_excised"))
    val poss = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val agg = poss.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          st => st("tok")), " ").as("text_clean"))
    base.select(col("doc_id"), size(col("ws")).as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_runs_excised"), lit(0L)).as("n_runs_excised"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Source-mixture weighting: per-source token counts and the
    * sampling weight that equalizes each source's share of the token
    * budget (uniform target mix — the standard "don't let one crawl
    * dominate" re-weighting). mix_weight > 1 means the source is
    * under-represented (up-sample / repeat epochs); sample_rate caps
    * at 1 for the down-sampling-only regime.
    */
  /** Segment width (whitespace words) for [[dedupParagraph]] — the
    * sub-document dedup granularity.
    */
  val ParaSegLen = 20

  /** CCNet-style segment-level dedup ([EXT], Wenzek et al. 2020):
    * split each doc into fixed [[ParaSegLen]]-word segments (the
    * "paragraphs" of this corpus — its text carries no newlines),
    * drop every segment whose identical text occurred earlier in the
    * corpus (first occurrence by (doc_id, seg_idx) wins), and emit
    * the REASSEMBLED cleaned text plus the per-doc census. Where
    * dedup_spans_apply excises Lee-et-al. verbatim char spans found by
    * suffix matching, this is the hash-bucket form: cheaper (one
    * shuffle of segment digests, no positional matching) and the
    * standard first pass over web crawls.
    *
    * Scale design: segments shuffle as (digest, doc_id, seg_idx) —
    * the segment TEXT stays in the doc-partitioned frame and is never
    * shuffled; the winner table is a partial-agg'd min-struct groupBy
    * (no window over a possibly-mega-dup segment group), and
    * reassembly is a per-doc sort_array over kept indexes. All
    * integer/string ops — fully deterministic under the hash gate.
    */
  def dedupParagraphOn(documents: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val segArr = transform(
      sequence(lit(0), (ceil(size(col("ws")) / lit(ParaSegLen.toDouble)) - 1).cast("int")),
      i => array_join(slice(col("ws"), i * ParaSegLen + 1, lit(ParaSegLen)), " "))
    val segs = documents
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(segArr).as(Seq("seg_idx", "seg")))
    // first occurrence of each segment text: min (doc_id, seg_idx) —
    // mergeable agg over the digest, never a per-segment window
    val winners = segs
      .groupBy(md5(col("seg")).as("dig"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("w"))
      .select(col("dig"), col("w.doc_id").as("wdoc"), col("w.seg_idx").as("wseg"))
    segs
      .join(winners, md5(col("seg")) === col("dig"))
      .withColumn("kept",
        (col("doc_id") === col("wdoc")) && (col("seg_idx") === col("wseg")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(sort_array(
            collect_list(when(col("kept"), struct(col("seg_idx"), col("seg"))))),
          st => st.getField("seg")), " ").as("clean_text"))
  }

  def dedupParagraph(s: SparkSession, d: String): DataFrame =
    dedupParagraphOn(Tables.documents(s, d))

  /** Boilerplate thresholds: a segment is boilerplate within a source
    * when it appears in ≥ MinDf docs AND ≥ Share of the source's docs.
    */
  val BoilMinDf = 5
  val BoilShare = 0.10

  /** Exactly [[ParaSegLen]] words, so the planted header occupies
    * segment 0 of every doc and detection/stripping is exact — the
    * corpus has no real boilerplate, so it is synthesized
    * deterministically per source (the [[TextOps.piiMask]] convention;
    * same construction in the oracle).
    */
  private def withHeader(documents: DataFrame): DataFrame =
    documents.withColumn("text",
      concat(lit("begin standard header for source "), col("source"),
        lit(" repeated legal disclaimer text follows here with terms " +
          "and conditions applying to every document "), col("text")))

  /** (doc_id, source, seg_idx, seg) — [[dedupParagraphOn]]'s fixed
    * 20-word segmentation, with the source riding along.
    */
  private def segmentsWithSource(documents: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val segArr = transform(
      sequence(lit(0), (ceil(size(col("ws")) / lit(ParaSegLen.toDouble)) - 1).cast("int")),
      i => array_join(slice(col("ws"), i * ParaSegLen + 1, lit(ParaSegLen)), " "))
    documents
      .select(col("doc_id"), col("source"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"), posexplode(segArr).as(Seq("seg_idx", "seg")))
  }

  /** The boilerplate table (source, seg, n_docs, n_src_docs, share). */
  private def boilerplateOf(segs: DataFrame): DataFrame = {
    val df = segs.groupBy("source", "seg").agg(countDistinct("doc_id").as("n_docs"))
    val tot = segs.groupBy("source").agg(countDistinct("doc_id").as("n_src_docs"))
    df.join(tot, "source")
      .filter(col("n_docs") >= BoilMinDf &&
        col("n_docs").cast("double") >= lit(BoilShare) * col("n_src_docs"))
  }

  /** BOILERPLATE DETECTION ([EXT]): per-source segments that recur
    * across ≥ 10% of the source's documents (min df 5) — the
    * header/footer/disclaimer census a web-corpus pipeline runs per
    * crawl source (CCNet/jusText's frequency intuition at segment
    * granularity). Distinct from [[dedupParagraph]]: that dedups exact
    * segments CORPUS-wide by first occurrence; this finds
    * WITHIN-SOURCE structural repetition — the text that should be
    * stripped from every doc, not kept once.
    *
    * Scale: segments shuffle once to (source, segment) cardinality
    * with map-side partial aggs; the boilerplate table is tiny
    * (high-df segments only) and broadcast-joins back in the strip.
    */
  def boilerplateDetect(s: SparkSession, d: String): DataFrame =
    boilerplateOf(segmentsWithSource(withHeader(Tables.documents(s, d))))
      .select(col("source"), col("seg"), col("n_docs"), col("n_src_docs"),
        round(col("n_docs").cast("double") / col("n_src_docs"), 4).as("share"))

  /** BOILERPLATE STRIP: the cleaned corpus with each source's
    * boilerplate segments excised and text reassembled —
    * [[dedupParagraphOn]]'s rewrite contract driven by
    * [[boilerplateDetect]]'s table (broadcast to the segment stream).
    */
  def boilerplateStrip(s: SparkSession, d: String): DataFrame = {
    val segs = segmentsWithSource(withHeader(Tables.documents(s, d)))
    val boiler = boilerplateOf(segs).select(col("source"), col("seg"), lit(1).as("b"))
    segs.join(broadcast(boiler), Seq("source", "seg"), "left")
      .withColumn("kept", col("b").isNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(sort_array(
            collect_list(when(col("kept"), struct(col("seg_idx"), col("seg"))))),
          st => st.getField("seg")), " ").as("clean_text"))
  }

  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"), size(toks(col("text"))).as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
    val totals = perSource.agg(
      sum("n_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val share = col("n_tokens").cast("double") / col("total_tokens")
    val weight = (col("total_tokens").cast("double") / col("n_sources")) / col("n_tokens")
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r4(share).as("token_share"),
        r4(weight).as("mix_weight"),
        r4(least(weight, lit(1.0))).as("sample_rate"))
  }

  /** Fixed-width histogram bucket for [[driftPsi]] (n_chars / 50 →
    * ~a dozen buckets over this corpus's 48..553 range). Fixed edges —
    * not quantiles — so two snapshots bucket identically and their
    * PSIs are comparable.
    */
  val PsiBucketWidth = 50

  /** Per-source distribution drift vs the whole corpus: the population
    * stability index over a fixed-width document-length histogram —
    * the standard "did this crawl/source shift?" monitor a training
    * pipeline runs per snapshot. PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)
    * with p = the source's bucket share and q = the corpus-wide share,
    * Laplace-smoothed (+0.5 per cell) so empty buckets are defined.
    * Every term is ≥ 0, so PSI ≥ 0 with equality iff p ≡ q
    * (spec-checked in CorpusSpec; planted shifted source scores ≫ an
    * identically-distributed one).
    *
    * Scale: the only full-corpus work is the (source, bucket) count —
    * partial-agg'd to |S|·|B| cells. Everything after (the grid cross
    * join, the window sums incl. the unpartitioned total) runs on that
    * metadata-cardinality grid, which is bounded by
    * sources × buckets, never by corpus size.
    */
  def driftPsi(s: SparkSession, d: String): DataFrame =
    driftPsiOn(Tables.documents(s, d))

  def driftPsiOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = documents.select(col("source"),
      floor(col("n_chars") / lit(PsiBucketWidth)).cast("long").as("bucket"))
    val counts = b.groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val grid = b.select("source").distinct()
      .crossJoin(b.select("bucket").distinct())
    val enriched = grid.join(counts, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"), coalesce(col("c"), lit(0L)).as("c"))
      .select(col("source"), col("c"),
        sum("c").over(Window.partitionBy("source")).as("n_s"),
        sum("c").over(Window.partitionBy("bucket")).as("g"),
        sum("c").over(Window.partitionBy()).as("n"),
        // grid has exactly |B| rows per source
        count(lit(1)).over(Window.partitionBy("source")).as("nb"))
    val p = (col("c") + lit(0.5)) / (col("n_s") + lit(0.5) * col("nb"))
    val q = (col("g") + lit(0.5)) / (col("n") + lit(0.5) * col("nb"))
    enriched
      .select(col("source"), col("n_s"), ((p - q) * log(p / q)).as("term"))
      .groupBy("source")
      .agg(max("n_s").as("n_docs"), r4(sum("term")).as("psi"))
  }

  /** Snapshot diff — the audit a pipeline runs between two corpus
    * versions before promoting one: per-document digests full-outer
    * joined on doc_id, classified added / removed / changed /
    * unchanged, aggregated to a status report. Only (doc_id, md5)
    * pairs ever shuffle — document bodies are digested at the scan
    * and never move, so the diff costs two 48-byte-per-row streams
    * at any corpus size.
    *
    * The "new" snapshot is derived deterministically from the same
    * table (drop doc_id%11, append ' v2' to doc_id%7, add fresh ids
    * for doc_id%13) so the DuckDB oracle can reproduce it exactly —
    * in production the two sides are two parquet snapshots.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.select(col("doc_id"), md5(col("text")).as("h_old"))
    val newSnap = docs
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h_new"))
      .unionAll(docs.filter(col("doc_id") % 13 === 0)
        // negated ids: the synthetic "added" rows can never collide
        // with a real doc_id at ANY corpus size (real ids are >= 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          md5(concat(lit("new:"), col("doc_id").cast("string"))).as("h_new")))
    oldSnap.join(newSnap, Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
  }

  /** One-row corpus CENSUS — the dataset card a curation run records
    * before/after every pipeline stage: doc/dup counts, language and
    * source cardinalities, char/token volumes, exact distinct-token
    * vocabulary, mean doc length.
    *
    * Scale design: three independent aggregations (doc-level, dup
    * census on 32-byte digests, token-level), each map-side partial
    * to ONE row (countDistinct rewrites to a two-stage expand-agg),
    * cross-joined as 1-row frames. No step holds unbounded state;
    * the token shuffle is the same cost class as `wc`.
    */
  def corpusStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(explode(toks(col("text"))).as("tok"))
    val docAgg = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val dupAgg = docs.groupBy(sha2(col("text"), 256)).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1).as("n_dup_docs"))
    val tokAgg = tok.agg(count(lit(1)).as("n_tokens"),
      countDistinct(col("tok")).as("n_distinct_tokens"))
    docAgg.crossJoin(dupAgg).crossJoin(tokAgg)
      .select(col("n_docs"), col("n_dup_docs"), col("n_langs"), col("n_sources"),
        col("n_chars"), col("n_tokens"), col("n_distinct_tokens"),
        round(col("n_tokens").cast("double") / col("n_docs"), 4).as("avg_doc_tokens"))
  }

  /** Generation chain length for [[lmGenerate]]. */
  val GenSteps = 6

  /** Greedy text generation from the corpus bigram LM: from each of
    * the top-3 seed words, follow the most-frequent successor for
    * [[GenSteps]] steps (ties to the lexicographically smallest — the
    * whole chain is integer-deterministic). The sampling-free
    * degenerate case of LM decoding, here as the MODEL-SANITY probe a
    * tokenizer/LM pipeline runs: if the greedy chain is a stuck loop
    * or stop-word soup, the counts feeding lm_score are suspect.
    *
    * Scale design: the successor table is one vocabulary-cardinality
    * argmax (bigram counts partial-agg down to the vocab before the
    * window); the chain is [[GenSteps]] joins of a ≤3-row frame
    * against it — each step a broadcast lookup, no iteration state on
    * the driver.
    */
  def lmGenerate(s: SparkSession, d: String): DataFrame = {
    val ws = Tables.documents(s, d).select(toks(col("text")).as("ws"))
    val bi = ws.filter(size(col("ws")) >= 2)
      .select(explode(bigramsFromTokens(col("ws"))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val wArg = org.apache.spark.sql.expressions.Window
      .partitionBy("w1").orderBy(col("c").desc, col("w2"))
    val succ = bi.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1).select(col("w1"), col("w2")).stable
    val seeds = ws.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(3)
      .select(col("w").as("seed"))
    var cur = seeds.select(col("seed"), lit(0).as("step"), col("seed").as("word"))
    var out = cur
    for (i <- 1 to GenSteps) {
      cur = cur.join(succ, cur("word") === succ("w1"))
        .select(col("seed"), lit(i).as("step"), col("w2").as("word"))
      out = out.unionByName(cur)
    }
    out
  }

  /** Order-independent per-source content fingerprint: XOR of each
    * doc's 48-bit md5 — the cheap Merkle-style digest an incremental
    * ingest compares across snapshots to detect ANY added/removed/
    * edited doc without moving text. Pure map + one tiny per-source
    * agg; XOR is commutative/associative so partial aggregation and
    * partition order cannot change it.
    */
  def corpusDigest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("h"),
        col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("digest"),
        sum("n_chars").as("total_chars"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_generate" -> lmGenerate,
    "corpus_digest" -> corpusDigest,
    "corpus_stats" -> corpusStats,
    "quality_repetition" -> qualityRepetition,
    "snapshot_diff" -> snapshotDiff,
    "lm_score" -> lmScore,
    "lm_score_gt" -> lmScoreGt,
    "lm_score_bigram" -> lmScoreBigram,
    "lm_score_kn" -> lmScoreKn,
    "lm_score_kn3" -> lmScoreKn3,
    "dedup_spans" -> dedupSpans,
    "dedup_spans_apply" -> dedupSpansApply,
    "dedup_spans_exact" -> dedupSpansExact,
    "dedup_paragraph" -> dedupParagraph,
    "boilerplate_detect" -> boilerplateDetect,
    "boilerplate_strip" -> boilerplateStrip,
    "drift_psi" -> driftPsi,
    "source_mix" -> sourceMix,
    "mix_temperature" -> mixTemperature,
    "quality_ppl_buckets" -> qualityPplBuckets)

  /** CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    * 2020 §4.3): per language, rank documents by the unigram-LM NLL
    * proxy ([[lmScore]] — CCNet uses a Kneser-Ney LM; the bucketing
    * rule is the operator here) and split into terciles. "head" =
    * most-fluent third (lowest NLL), typically kept outright;
    * "middle" kept or sampled; "tail" dropped or reserved for
    * diversity sampling. Emits the per-(lang, bucket) census a
    * curation run keys its keep policy on.
    *
    * Determinism: the rank orders on the 1e-4-ROUNDED avg_nll with a
    * doc_id tie-break (the keywords_textrank convention), and the
    * bucket mean sums 1e-4-quantized int64 NLLs — exact integer
    * aggregate, merge-order free. ntile(3) assigns identical bucket
    * sizes in both engines (first n mod 3 buckets take the extra row).
    *
    * Scale: the lm_score chain (one token shuffle) + ONE ROW PER DOC
    * (not per token) through the ScalableRank grouped rank (a
    * range-partitioned global (lang, nll, doc_id) sort + per-lang
    * offsets + the closed-form NTILE — a per-lang window partition
    * would put each language's whole doc population on one core) +
    * a ≤3·|langs|-cell census.
    */
  def qualityPplBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = lmScore(s, d)
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
    graft.core.ScalableRank
      .groupedRank(scored, "lang", "__rn", "__n_g",
        col("avg_nll").asc, col("doc_id").asc)
      .withColumn("bucket",
        graft.core.ScalableRank.ntileExpr("__rn", "__n_g", 3).cast("int"))
      .withColumn("nll_q",
        floor(col("avg_nll") * 10000 + lit(0.5)).cast("long"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        (floor(sum(col("nll_q")).cast("double") / count(lit(1)) + lit(0.5))
          / 10000.0).as("mean_nll"))
      .select(col("lang"), col("bucket"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise(lit("tail")).as("bucket_name"),
        col("n_docs"), col("n_tokens"), col("mean_nll"))
  }

  /** Temperature-scaled source mixing (T = 2): resampled share
    * q_s ∝ p_s^(1/T) = √p_s — the multilingual/multi-source sampling
    * rule (mBERT/XLM-style α = 0.5) that upweights small sources
    * without flattening the mix entirely, the companion to
    * [[sourceMix]]'s fully-uniform target. `boost` = q_s/p_s is the
    * per-source up/down-sampling factor a [[Curation.mixEpochs]]-style
    * realization would consume.
    *
    * Exponent 1/T = 0.5 is deliberately √ (IEEE-correctly-rounded in
    * every engine) rather than pow (no bit guarantee) — the only
    * cross-engine float surface left is the 20-term normalizer sum,
    * ~1e-16 noise under the 1e-4 rounding. Scale: source-cardinality
    * aggregates only; the corpus shuffles (source, ntok) pairs once.
    */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"), size(toks(col("text"))).as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
    val totals = perSource.agg(sum("n_tokens").as("total_tokens"))
    val withShare = perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens")).as("p"))
    val z = withShare.agg(sum(sqrt(col("p"))).as("z"))
    withShare.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r4(col("p")).as("token_share"),
        r4(sqrt(col("p")) / col("z")).as("temp_share"),
        r4(sqrt(col("p")) / col("z") / col("p")).as("boost"))
  }

  private val tokSqlDuck =
    "list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0)"

  /** CTE chain `aug → wsrc → segs → segt(doc_id, source, seg_idx,
    * seg) → boiler(source, seg, n_docs, n_src_docs)` — the planted-
    * header segmentation + per-source df gate shared by both
    * boilerplate oracles. Header text mirrors [[withHeader]] exactly.
    */
  private def boilerplateSqlCtes: String =
    s"""aug AS (
       |  SELECT doc_id, source,
       |    'begin standard header for source ' || source ||
       |    ' repeated legal disclaimer text follows here with terms and conditions applying to every document ' ||
       |    text AS text
       |  FROM documents),
       |wsrc AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ws
       |  FROM aug),
       |segs AS (
       |  SELECT doc_id, source,
       |    CAST(unnest(generate_series(0,
       |      CAST(ceil(len(ws) / $ParaSegLen.0) AS INTEGER) - 1)) AS INTEGER) AS seg_idx,
       |    ws
       |  FROM wsrc WHERE len(ws) > 0),
       |segt AS (
       |  SELECT doc_id, source, seg_idx,
       |    array_to_string(
       |      ws[seg_idx * $ParaSegLen + 1 : seg_idx * $ParaSegLen + $ParaSegLen],
       |      ' ') AS seg
       |  FROM segs),
       |sdf AS (SELECT source, seg, count(DISTINCT doc_id) AS n_docs
       |        FROM segt GROUP BY 1, 2),
       |tot AS (SELECT source, count(DISTINCT doc_id) AS n_src_docs
       |        FROM segt GROUP BY 1),
       |boiler AS (
       |  SELECT source, seg, n_docs, n_src_docs
       |  FROM sdf JOIN tot USING (source)
       |  WHERE n_docs >= $BoilMinDf
       |    AND CAST(n_docs AS DOUBLE) >= $BoilShare * n_src_docs)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "lm_generate" -> {
      val steps = (1 to GenSteps).map { i =>
        s"""g$i AS (SELECT g.seed, $i AS step, s.w2 AS word
           |       FROM g${i - 1} g JOIN succ s ON s.w1 = g.word)""".stripMargin
      }.mkString(",\n")
      val union = (0 to GenSteps).map(i => s"SELECT * FROM g$i")
        .mkString("\nUNION ALL ")
      s"""WITH t AS (SELECT $tokSqlDuck AS ws FROM documents),
         |bi0 AS (SELECT unnest(ws[1:len(ws)-1]) AS w1,
         |               unnest(ws[2:len(ws)]) AS w2
         |        FROM t WHERE len(ws) >= 2),
         |bi AS (SELECT w1, w2, count(*) AS c FROM bi0 GROUP BY 1, 2),
         |succ AS (SELECT w1, w2 FROM (
         |  SELECT w1, w2, row_number() OVER (PARTITION BY w1
         |    ORDER BY c DESC, w2) AS rn FROM bi) WHERE rn = 1),
         |uni AS (SELECT unnest(ws) AS w FROM t),
         |seeds AS (SELECT w AS seed FROM (
         |  SELECT w, count(*) AS c FROM uni GROUP BY 1)
         |  ORDER BY c DESC, w LIMIT 3),
         |g0 AS (SELECT seed, 0 AS step, seed AS word FROM seeds),
         |$steps
         |SELECT seed, CAST(step AS INTEGER) AS step, word FROM (
         |$union)""".stripMargin
    },
    "corpus_digest" ->
      """SELECT source, count(*) AS n_docs,
        |  bit_xor(CAST(('0x' || substr(md5(text), 1, 12))::UBIGINT AS BIGINT))
        |    AS digest,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin,
    "boilerplate_detect" ->
      ("WITH " + boilerplateSqlCtes + "\n" +
        """SELECT source, seg, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(n_src_docs AS BIGINT) AS n_src_docs,
          |  round(CAST(n_docs AS DOUBLE) / n_src_docs, 4) AS share
          |FROM boiler""".stripMargin),
    "boilerplate_strip" ->
      ("WITH " + boilerplateSqlCtes + "\n" +
        """SELECT st.doc_id, CAST(count(*) AS BIGINT) AS n_segs,
          |  CAST(sum(CASE WHEN b.seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  coalesce(array_to_string(list(st.seg ORDER BY st.seg_idx)
          |    FILTER (WHERE b.seg IS NULL), ' '), '') AS clean_text
          |FROM segt st
          |LEFT JOIN boiler b ON b.source = st.source AND b.seg = st.seg
          |GROUP BY st.doc_id""".stripMargin),
    "dedup_paragraph" ->
      s"""WITH wsrc AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ws
         |  FROM documents),
         |segs AS (
         |  SELECT doc_id,
         |    CAST(unnest(generate_series(0,
         |      CAST(ceil(len(ws) / $ParaSegLen.0) AS INTEGER) - 1)) AS INTEGER) AS seg_idx,
         |    ws
         |  FROM wsrc WHERE len(ws) > 0),
         |segt AS (
         |  SELECT doc_id, seg_idx,
         |    array_to_string(
         |      ws[seg_idx * $ParaSegLen + 1 : seg_idx * $ParaSegLen + $ParaSegLen],
         |      ' ') AS seg
         |  FROM segs),
         |rk AS (
         |  SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM segt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(array_to_string(list(seg ORDER BY seg_idx)
         |    FILTER (WHERE rn = 1), ' '), '') AS clean_text
         |FROM rk GROUP BY doc_id""".stripMargin,
    "corpus_stats" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '[^\p{L}]+'),
        |                            x -> len(x) > 0)) AS tok
        |  FROM documents),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |      FROM documents),
        |dup AS (SELECT CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
        |        FROM (SELECT count(*) AS c FROM documents GROUP BY sha256(text))),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |             CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
        |      FROM tok)
        |SELECT n_docs, n_dup_docs, n_langs, n_sources, n_chars,
        |       n_tokens, n_distinct_tokens,
        |       round(CAST(n_tokens AS DOUBLE) / n_docs, 4) AS avg_doc_tokens
        |FROM d CROSS JOIN dup CROSS JOIN t""".stripMargin,
    "quality_repetition" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS w FROM documents),
         |m AS (SELECT doc_id, len(w) AS n,
         |  CAST(list_max(list_transform(list_distinct(w),
         |    x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / len(w) AS topfrac,
         |  CASE WHEN len(w) >= 2 THEN 1.0 -
         |    CAST(len(list_distinct(list_transform(generate_series(1, len(w)-1),
         |      i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) / (len(w)-1)
         |  ELSE 0.0 END AS d2,
         |  CASE WHEN len(w) >= 3 THEN 1.0 -
         |    CAST(len(list_distinct(list_transform(generate_series(1, len(w)-2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS DOUBLE) / (len(w)-2)
         |  ELSE 0.0 END AS d3
         |  FROM t)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
         |  floor(topfrac * 10000 + 0.5) / 10000.0 AS top_tok_frac,
         |  floor(d2 * 10000 + 0.5) / 10000.0 AS dup_2gram_frac,
         |  floor(d3 * 10000 + 0.5) / 10000.0 AS dup_3gram_frac,
         |  CAST(topfrac <= 0.125 AND d2 <= 0.06 AND d3 <= 0.02 AS INTEGER) AS keep
         |FROM m""".stripMargin,
    "lm_score" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSqlDuck) AS tok FROM documents),
         |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v)
         |SELECT doc_id, count(*) AS n_tokens,
         |  floor(avg(-ln(CAST(cnt AS DOUBLE) / total)) * 10000 + 0.5) / 10000.0 AS avg_nll
         |FROM t JOIN v USING (tok) CROSS JOIN n
         |GROUP BY doc_id""".stripMargin,
    "lm_score_gt" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSqlDuck) AS tok FROM documents),
         |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
         |nr AS (SELECT cnt, count(*) AS n_r FROM v GROUP BY 1),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
         |adj AS (
         |  SELECT v.tok,
         |    CASE WHEN v.cnt <= $GtK AND nr1.n_r IS NOT NULL
         |      THEN CAST(v.cnt + 1 AS DOUBLE) * nr1.n_r / nr.n_r
         |      ELSE CAST(v.cnt AS DOUBLE) END AS cstar
         |  FROM v JOIN nr ON v.cnt = nr.cnt
         |  LEFT JOIN nr nr1 ON nr1.cnt = v.cnt + 1)
         |SELECT doc_id, count(*) AS n_tokens,
         |  floor(avg(-ln(cstar / total)) * 10000 + 0.5) / 10000.0
         |    AS avg_nll_gt
         |FROM t JOIN adj USING (tok) CROSS JOIN n
         |GROUP BY doc_id""".stripMargin,
    "quality_ppl_buckets" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSqlDuck) AS tok FROM documents),
         |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    floor(avg(-ln(CAST(cnt AS DOUBLE) / total)) * 10000 + 0.5)
         |      / 10000.0 AS avg_nll
         |  FROM t JOIN v USING (tok) CROSS JOIN n GROUP BY doc_id),
         |b AS (
         |  SELECT d.lang, sc.doc_id, sc.n_tokens, sc.avg_nll,
         |    CAST(ntile(3) OVER (PARTITION BY d.lang
         |      ORDER BY sc.avg_nll, sc.doc_id) AS INTEGER) AS bucket
         |  FROM sc JOIN documents d USING (doc_id))
         |SELECT lang, bucket,
         |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket_name,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  floor(CAST(sum(CAST(floor(avg_nll * 10000 + 0.5) AS BIGINT))
         |    AS DOUBLE) / count(*) + 0.5) / 10000.0 AS mean_nll
         |FROM b GROUP BY lang, bucket""".stripMargin,
    "lm_score_bigram" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS ws FROM documents),
         |u AS (SELECT unnest(ws) AS tok FROM t),
         |uc AS (SELECT tok, count(*) AS cu FROM u GROUP BY 1),
         |nn AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM uc),
         |bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
         |       FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws) - 1)) AS i
         |             FROM t WHERE len(ws) >= 2)),
         |ub AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
         |ctx AS (SELECT w1, count(*) AS cc FROM bi GROUP BY 1)
         |SELECT b.doc_id, count(*) AS n_bigrams,
         |  floor(avg(-ln($LmLam * CAST(cb AS DOUBLE) / cc
         |                + $LmOneMinusLam * CAST(cu AS DOUBLE) / nn.n))
         |        * 10000 + 0.5) / 10000.0 AS avg_nll2
         |FROM bi b
         |JOIN ub USING (w1, w2)
         |JOIN ctx USING (w1)
         |JOIN uc ON uc.tok = b.w2
         |CROSS JOIN nn
         |GROUP BY b.doc_id""".stripMargin,
    "lm_score_kn" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS ws FROM documents),
         |bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
         |       FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws) - 1)) AS i
         |             FROM t WHERE len(ws) >= 2)),
         |ub AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
         |ctx AS (SELECT w1, count(*) AS cc FROM bi GROUP BY 1),
         |fwd AS (SELECT w1, count(*) AS n1f FROM ub GROUP BY 1),
         |back AS (SELECT w2, count(*) AS n1b FROM ub GROUP BY 1),
         |bt AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM ub)
         |SELECT b.doc_id, count(*) AS n_bigrams,
         |  floor(avg(-ln(
         |    greatest(CAST(cb AS DOUBLE) - $KnD, 0.0) / cc
         |    + $KnD / cc * n1f * (n1b / bt.bt)))
         |        * 10000 + 0.5) / 10000.0 AS avg_nll_kn
         |FROM bi b
         |JOIN ub USING (w1, w2)
         |JOIN ctx USING (w1)
         |JOIN fwd USING (w1)
         |JOIN back USING (w2)
         |CROSS JOIN bt
         |GROUP BY b.doc_id""".stripMargin,
    "lm_score_kn3" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS ws FROM documents),
         |tri AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
         |        FROM (SELECT doc_id, ws,
         |                unnest(generate_series(1, len(ws) - 2)) AS i
         |              FROM t WHERE len(ws) >= 3)),
         |tt AS (SELECT w1, w2, w3, count(*) AS ct FROM tri GROUP BY 1, 2, 3),
         |cc3 AS (SELECT w1, w2, count(*) AS cc3 FROM tri GROUP BY 1, 2),
         |f3 AS (SELECT w1, w2, count(*) AS f3 FROM tt GROUP BY 1, 2),
         |midc AS (SELECT w2, w3, count(*) AS n1mid FROM tt GROUP BY 1, 2),
         |midctx AS (SELECT w2, count(*) AS n1mx FROM tt GROUP BY 1),
         |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
         |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |             FROM t WHERE len(ws) >= 2)),
         |ub AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
         |f2 AS (SELECT w1 AS w2, count(*) AS f2 FROM ub GROUP BY 1),
         |n1b AS (SELECT w2 AS w3, count(*) AS n1b FROM ub GROUP BY 1),
         |bt AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM ub)
         |SELECT g.doc_id, count(*) AS n_trigrams,
         |  floor(avg(-ln(
         |    greatest(CAST(ct AS DOUBLE) - $KnD, 0.0) / cc3
         |    + $KnD / cc3 * f3 * (
         |        greatest(CAST(n1mid AS DOUBLE) - $KnD, 0.0) / n1mx
         |        + $KnD / n1mx * f2 * (n1b / bt.bt))))
         |        * 10000 + 0.5) / 10000.0 AS avg_nll_kn3
         |FROM tri g
         |JOIN tt USING (w1, w2, w3)
         |JOIN cc3 USING (w1, w2)
         |JOIN f3 USING (w1, w2)
         |JOIN midc USING (w2, w3)
         |JOIN midctx USING (w2)
         |JOIN f2 USING (w2)
         |JOIN n1b USING (w3)
         |CROSS JOIN bt
         |GROUP BY g.doc_id""".stripMargin,
    "dedup_spans" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS w FROM documents),
         |sp AS (SELECT doc_id,
         |  CASE WHEN len(w) >= 20 THEN list_distinct(list_transform(
         |    generate_series(1, len(w) - 19),
         |    i -> array_to_string(w[i:i+19], ' ')))
         |  ELSE [] END AS spans FROM t),
         |ex AS (SELECT doc_id, unnest(spans) AS span FROM sp),
         |dup AS (SELECT span FROM ex GROUP BY span HAVING count(*) > 1),
         |dd AS (SELECT doc_id, count(*) AS n_dup FROM ex
         |       JOIN dup USING (span) GROUP BY doc_id)
         |SELECT sp.doc_id, CAST(len(spans) AS INTEGER) AS n_spans,
         |  coalesce(n_dup, 0) AS n_dup_spans,
         |  CASE WHEN len(spans) > 0 THEN
         |    floor(CAST(coalesce(n_dup, 0) AS DOUBLE) / len(spans) * 10000 + 0.5) / 10000.0
         |  ELSE 0.0 END AS dup_span_frac
         |FROM sp LEFT JOIN dd ON sp.doc_id = dd.doc_id""".stripMargin,
    // the rewrite: every window occurrence (NOT per-doc distinct — the
    // excision needs positions), keeper = min doc_id per >1-doc span,
    // covered positions union, anti-join, ordered re-assembly
    "dedup_spans_apply" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS ws FROM documents),
         |win AS (SELECT doc_id, p, array_to_string(ws[p:p+19], ' ') AS span
         |        FROM (SELECT doc_id, ws,
         |                unnest(generate_series(1, len(ws) - 19)) AS p
         |              FROM t WHERE len(ws) >= 20)),
         |own AS (SELECT span, min(doc_id) AS keeper,
         |          count(DISTINCT doc_id) AS nd
         |        FROM win GROUP BY span),
         |rem AS (SELECT w.doc_id, w.p FROM win w JOIN own o ON o.span = w.span
         |        WHERE o.nd > 1 AND w.doc_id <> o.keeper),
         |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(p, p + 19)) AS pos
         |        FROM rem),
         |poss AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
         |         FROM t WHERE len(ws) > 0),
         |kept AS (SELECT p.doc_id, p.pos, p.ws[p.pos] AS tok
         |         FROM poss p ANTI JOIN cov c USING (doc_id, pos)),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY pos) AS text_clean
         |        FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INTEGER) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.text_clean, '') AS text_clean
         |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // full Lee-et-al. semantics: ownership by packed (doc_id, p) min,
    // within-doc repeats included (count(*), not count(DISTINCT doc)),
    // owner coverage protected via the anti-join on cov_keep
    "dedup_spans_exact" ->
      s"""WITH t AS (SELECT doc_id, $tokSqlDuck AS ws FROM documents),
         |win AS (SELECT doc_id, p, md5(array_to_string(ws[p:p+19], ' ')) AS h,
         |               doc_id * 1000000000 + p AS okey
         |        FROM (SELECT doc_id, ws,
         |                unnest(generate_series(1, len(ws) - 19)) AS p
         |              FROM t WHERE len(ws) >= 20)),
         |own AS (SELECT h, min(okey) AS okey_min, count(*) AS nocc
         |        FROM win GROUP BY h),
         |dupw AS (SELECT w.doc_id, w.p, w.okey = o.okey_min AS is_owner
         |         FROM win w JOIN own o USING (h) WHERE o.nocc > 1),
         |cov_rem AS (SELECT DISTINCT doc_id,
         |              unnest(generate_series(p, p + 19)) AS pos
         |            FROM dupw WHERE NOT is_owner),
         |cov_keep AS (SELECT DISTINCT doc_id,
         |               unnest(generate_series(p, p + 19)) AS pos
         |             FROM dupw WHERE is_owner),
         |cov AS (SELECT doc_id, pos FROM cov_rem
         |        ANTI JOIN cov_keep USING (doc_id, pos)),
         |runs AS (SELECT doc_id, count(*) AS n_runs_excised
         |         FROM (SELECT doc_id, pos,
         |                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |                   AS prev
         |               FROM cov)
         |         WHERE prev IS NULL OR pos - prev > 1 GROUP BY doc_id),
         |poss AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
         |         FROM t WHERE len(ws) > 0),
         |kept AS (SELECT p.doc_id, p.pos, p.ws[p.pos] AS tok
         |         FROM poss p ANTI JOIN cov c USING (doc_id, pos)),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY pos) AS text_clean
         |        FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INTEGER) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(r.n_runs_excised, 0) AS BIGINT) AS n_runs_excised,
         |  coalesce(a.text_clean, '') AS text_clean
         |FROM t LEFT JOIN agg a USING (doc_id)
         |  LEFT JOIN runs r USING (doc_id)""".stripMargin,
    "snapshot_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        |new AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT -doc_id - 1 AS doc_id,
        |    md5('new:' || CAST(doc_id AS VARCHAR)) AS h_new
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
        |    CASE WHEN h_old IS NULL THEN 'added'
        |         WHEN h_new IS NULL THEN 'removed'
        |         WHEN h_old <> h_new THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
        |SELECT status, count(*) AS n_docs,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM j GROUP BY status""".stripMargin,
    "drift_psi" ->
      """WITH b AS (SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bucket
        |           FROM documents),
        |c AS (SELECT source, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        |grid AS (SELECT s.source, k.bucket
        |         FROM (SELECT DISTINCT source FROM b) s
        |         CROSS JOIN (SELECT DISTINCT bucket FROM b) k),
        |f AS (SELECT grid.source, grid.bucket, coalesce(c.c, 0) AS c
        |      FROM grid LEFT JOIN c
        |        ON grid.source = c.source AND grid.bucket = c.bucket),
        |e AS (SELECT source, c,
        |        sum(c) OVER (PARTITION BY source) AS n_s,
        |        sum(c) OVER (PARTITION BY bucket) AS g,
        |        sum(c) OVER () AS n,
        |        count(*) OVER (PARTITION BY source) AS nb
        |      FROM f),
        |e2 AS (SELECT source, n_s,
        |         (CAST(c AS DOUBLE) + 0.5) / (n_s + 0.5 * nb) AS p,
        |         (CAST(g AS DOUBLE) + 0.5) / (n + 0.5 * nb) AS q
        |       FROM e)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        |  floor(sum((p - q) * ln(p / q)) * 10000 + 0.5) / 10000.0 AS psi
        |FROM e2 GROUP BY source""".stripMargin,
    "source_mix" ->
      s"""WITH ps AS (SELECT source, count(*) AS n_docs,
         |              CAST(sum(len($tokSqlDuck)) AS BIGINT) AS n_tokens
         |            FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |               count(*) AS n_sources FROM ps)
         |SELECT source, n_docs, n_tokens,
         |  floor(CAST(n_tokens AS DOUBLE) / total_tokens * 10000 + 0.5) / 10000.0 AS token_share,
         |  floor((CAST(total_tokens AS DOUBLE) / n_sources) / n_tokens * 10000 + 0.5) / 10000.0 AS mix_weight,
         |  floor(least((CAST(total_tokens AS DOUBLE) / n_sources) / n_tokens, 1.0) * 10000 + 0.5) / 10000.0 AS sample_rate
         |FROM ps CROSS JOIN tot""".stripMargin,
    "mix_temperature" ->
      s"""WITH ps AS (SELECT source, count(*) AS n_docs,
         |              CAST(sum(len($tokSqlDuck)) AS BIGINT) AS n_tokens
         |            FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM ps),
         |sh AS (SELECT source, n_docs, n_tokens,
         |         CAST(n_tokens AS DOUBLE) / total_tokens AS p
         |       FROM ps CROSS JOIN tot),
         |z AS (SELECT sum(sqrt(p)) AS z FROM sh)
         |SELECT source, n_docs, n_tokens,
         |  floor(p * 10000 + 0.5) / 10000.0 AS token_share,
         |  floor(sqrt(p) / z * 10000 + 0.5) / 10000.0 AS temp_share,
         |  floor(sqrt(p) / z / p * 10000 + 0.5) / 10000.0 AS boost
         |FROM sh CROSS JOIN z""".stripMargin)
}
