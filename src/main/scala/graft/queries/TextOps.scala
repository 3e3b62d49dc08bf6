package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Text analysis for training-data pipelines ([EXT]): token counting,
  * quality scoring, per-language corpus stats, heuristic language ID,
  * and rolling-hash document fingerprinting. Everything is built-in
  * column functions / array lambdas (whole-stage codegen'd; one scan of
  * `documents`, no shuffle except the final group-bys) — the shape that
  * survives a 100 TB corpus: per-row work, linear, embarrassingly
  * parallel.
  */
object TextOps {

  private def toks(text: Column): Column = Dedup.tokensCol(text)

  /** BPE-ish pre-tokenizer: letter runs | single digits | single
    * non-alnum marks (a common pattern-based proxy for byte-pair
    * vocabularies when the real tokenizer isn't on the cluster).
    */
  val BpeRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Per-doc token counts: whitespace tokens, letter tokens, BPE-ish. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), w => length(w) > 0)).as("ws_tokens"),
      size(toks(col("text"))).as("letter_tokens"),
      expr(s"size(regexp_extract_all(text, '${BpeRe.replace("\\", "\\\\")}', 0))").as("bpe_tokens"))

  /** Tokenizer fertility by language ([EXT]) — the per-lang cost
    * profile a tokenizer owner reads when sizing a vocab: BPE-class
    * pre-tokens per word (fertility) and chars per pre-token, from
    * exact corpus totals (integer micro floor ratios). High fertility
    * on a language = the tokenizer fragments it = more sequence
    * length per byte of signal. One map pass + a |langs|-row rollup.
    */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        size(toks(col("text"))).cast("long").as("w"),
        expr(s"size(regexp_extract_all(text, '${BpeRe.replace("\\", "\\\\")}', 0))")
          .cast("long").as("b"),
        length(col("text")).cast("long").as("ch"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("b").as("n_bpe"), sum("ch").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        col("n_chars"),
        expr("n_bpe * 1000000L div greatest(n_words, 1L)")
          .as("fertility_micro"),
        expr("n_chars * 1000000L div greatest(n_bpe, 1L)")
          .as("chars_per_bpe_micro"))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  /** The quality-family stopword list, shared with [[Trees]]. */
  val StopwordsPub: Seq[String] = Stopwords

  /** Per-doc quality signals: length, token count, mean word length,
    * punctuation ratio, stopword ratio, and a composite score — the
    * usual cheap pre-filters before expensive dedup/training.
    */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val ws = col("ws") // materialized token attribute (see Corpus.spansFromTokens note)
    val nTok = size(ws)
    val sumLen = aggregate(transform(ws, w => length(w)), lit(0), (a, x) => a + x)
    val punct = length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", ""))
    val stopArr = array(Stopwords.map(lit): _*)
    val nStop = size(filter(ws, w => array_contains(stopArr, w)))
    val nChars = length(col("text"))
    val stopRatio = nStop.cast("double") / nTok
    val punctRatio = punct.cast("double") / nChars
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), toks(col("text")).as("ws"))
      .select(
      col("doc_id"),
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      round(sumLen.cast("double") / nTok, 4).as("avg_word_len"),
      round(punctRatio, 4).as("punct_ratio"),
      round(stopRatio, 4).as("stop_ratio"),
      // floor(x*1e4+0.5)/1e4 instead of round(): the composite can land
      // exactly on a 4th-decimal half (e.g. 0.53575), where Spark's
      // decimal HALF_UP and DuckDB's binary round disagree; floor on
      // the shared IEEE value is bit-deterministic in both engines.
      (floor((stopRatio * 0.4 + least(nTok / lit(100.0), lit(1.0)) * 0.3
        + (lit(1.0) - punctRatio) * 0.3) * 10000 + 0.5) / 10000.0).as("quality"))
  }

  /** Corpus stats per declared language. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), size(toks(col("text"))).as("ntok"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 2).as("avg_chars"),
        round(avg("ntok"), 2).as("avg_tokens"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))

  // Tiny per-language stopword profiles for the n-gram/stopword
  // language-ID heuristic. (The synthetic corpus shares one vocabulary
  // across langs, so this demonstrates the operator shape, not NLP.)
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "不"))

  /** Heuristic language ID: score = fraction of tokens hitting each
    * language's stopword profile; argmax with (score, lang) struct
    * ordering for a deterministic tie-break. The heuristic is plain
    * deterministic SQL, so it carries a full DuckDB oracle (argmax
    * mirrored as a row_number window over the unnested profiles);
    * conf uses the floor(x*1e4+0.5) rounding shared with quality
    * scoring so both engines round the same IEEE value identically.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val ws = col("ws")
    val nTok = size(ws)
    val scored = array(LangProfiles.map { case (lang, words) =>
      val prof = array(words.map(lit): _*)
      struct(
        // zero-token docs score 0.0 (not NULL/NaN) in every profile so
        // the argmax and the DuckDB oracle agree on (pred='zh', conf=0)
        when(nTok > 0,
          size(filter(ws, w => array_contains(prof, w))).cast("double") / nTok)
          .otherwise(lit(0.0)).as("score"),
        lit(lang).as("plang"))
    }: _*)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"), array_max(scored).as("best"))
      .select(col("doc_id"), col("lang"),
        col("best").getField("plang").as("pred_lang"),
        (floor(col("best").getField("score") * 10000 + 0.5) / 10000.0).as("conf"))
  }

  /** Rolling polynomial fingerprint over the token stream:
    * fp = fold(tokens, acc -> (acc*131 + tokval) mod 1e9+7) with
    * tokval = 31*code(first char) + code(last char) + len. A cheap
    * order-sensitive content signature (exact-dup detection robust to
    * whitespace/punctuation noise, unlike sha256 of raw text).
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val ws = toks(col("text"))
    val tokVal = (w: Column) =>
      ascii(w) * 31 + ascii(substring(w, -1, 1)) + length(w)
    val fp = aggregate(ws, lit(0L), (acc, w) => (acc * 131 + tokVal(w)) % 1000000007L)
    Tables.documents(s, d).select(col("doc_id"), fp.as("fp"))
  }

  /** TF-IDF top-3 terms per document — the classic relevance/keyword
    * extraction pass of a corpus pipeline. tf = n_td/n_d (term count
    * over doc token total, via a window on the tf aggregate — no extra
    * shuffle for the per-doc total), idf = ln((N+1)/(df+1)); top-3 by
    * (score desc, term asc) — a total order, deterministic under ties
    * (the shared-vocabulary corpus has many equal scores).
    * Scale: two hash aggs (doc×term, term) + one broadcast of the
    * 1-row corpus count; everything is linear in token count.
    */
  def tfidfTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("n_td"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy("doc_id")
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    // df as a window count over tf (tf rows are distinct (doc,term)
    // pairs, so count-over-term IS document frequency): one tokenize
    // pass and zero joins — a tf-vs-aggregated-tf join would recompute
    // the whole tokenize chain per branch (exchange reuse does not fire
    // across the join). Data volume after the first agg is tf-sized
    // (corpus-sublinear), so the term/doc re-exchanges stay cheap at
    // any scale.
    tf.crossJoin(broadcast(nDocs))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("n_d", sum("n_td").over(byDoc))
      .withColumn("score", col("n_td").cast("double") / col("n_d") *
        log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"),
        round(col("score"), 6).as("tfidf"), col("rk"))
  }

  /** BM25 (Okapi, Lucene-form idf) top-3 terms per document — the
    * retrieval-grade replacement for [[tfidfTerms]]'s raw tf-idf:
    * tf saturates at k1 and document length is normalized against the
    * corpus average (b). Same windowed plan shape as tfidf_terms
    * (df/dl as windows over the corpus-sublinear tf frame, no
    * self-joins); the additions are a 1-row (total_tok, n_docs)
    * broadcast for avgdl, fed by a second MAP-ONLY tokenize pass —
    * see the stats comment for why that beats reusing tf. Constants
    * written as
    * exact double literals on both engines (2.2, 1.2, 0.75) so the
    * arithmetic is bit-identical under the hash gate.
    */
  def bm25Terms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("n_td"))
    // The 1-row avgdl stats deliberately re-tokenize in a MAP-ONLY
    // pass (scan → size → tiny agg, no shuffle). Deriving them from
    // the tf frame instead was measured to recompute the whole
    // tokenize chain AND its exchange — Spark's exchange reuse does
    // not fire across the join (same finding as tfidfTerms's df
    // window-vs-join note) — so this shape is the cheaper of the two.
    val stats = docs.select(size(toks(col("text"))).as("dl"))
      .agg(sum("dl").cast("double").as("total_tok"), count(lit(1)).as("n_docs"))
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.crossJoin(broadcast(stats))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("dl", sum("n_td").over(Window.partitionBy("doc_id")))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("score", col("idf") * (col("n_td") * lit(2.2)) /
        (col("n_td") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / (col("total_tok") / col("n_docs")))))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"),
        round(col("score"), 6).as("bm25"), col("rk"))
  }

  /** Query docs for [[searchBm25]] (doc_id < cap are the "queries",
    * held out of the searched corpus) and the result depth.
    */
  val SearchQueryDocs = 5
  val SearchTopK = 10

  /** Full-text top-k retrieval ([EXT]): each held-out query doc's
    * distinct-term bag is scored against every corpus doc by BM25
    * (k1 = 1.2, b = 0.75 — [[bm25Terms]]'s constants) and the top-10
    * docs per query are returned — the "more-like-this" /
    * related-documents query a retrieval pipeline serves, composed
    * from the same inverted-index statistics bm25_terms exposes.
    *
    * Scale design: the query side is a tiny broadcast term bag; the
    * score join is an inverted-index probe (only postings of query
    * terms survive), and the df/dl statistics are the same
    * full-corpus windows bm25_terms already pays — at serving scale
    * both are precomputed once per index build, so the per-query cost
    * is |postings(query terms)|, never corpus-wide.
    *
    * Determinism across engines: the ONE transcendental (ln in idf)
    * is floor-quantized at 1e-6 immediately, every later op is plain
    * IEEE arithmetic on identical inputs, and each per-term
    * contribution is floor-quantized to an int64 at 1e-9 BEFORE the
    * per-doc sum — integer sums are order-independent, so the ranking
    * (sint DESC, doc_id) carries zero float-merge-order risk. The
    * reported score is the exact integer sum rescaled.
    */
  def searchBm25On(docs: DataFrame): DataFrame =
    bm25RankedOn(docs, bm25DefaultQterms(docs))

  /** The default query workload: every distinct term of each query
    * doc (doc_id < SearchQueryDocs) — shared by search_bm25 and
    * search_expand_prf so they expand the SAME queries.
    */
  private[queries] def bm25DefaultQterms(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < SearchQueryDocs)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(toks(col("text")))).as("term"))

  /** BM25 top-k over an arbitrary (query_id, term) workload frame —
    * the ranking core [[searchBm25On]] and Evals.search_rank_eval
    * share (one corpus-side index build, broadcast query side).
    */
  private[queries] def bm25RankedOn(docs: DataFrame, qterms: DataFrame): DataFrame =
    bm25RankedFrom(bm25ContribOn(docs), qterms)

  /** The per-(doc, term) BM25 contribution table (nano-int weights) —
    * the index half of the ranker, shared by [[bm25RankedOn]] and
    * Evals.search_expand_prf (which mines expansion terms from it).
    */
  private[queries] def bm25ContribOn(docs: DataFrame): DataFrame = {
    val corpus = docs.filter(col("doc_id") >= SearchQueryDocs)
    val tf = corpus
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("n_td"))
    // map-only 1-row stats — see bm25Terms' exchange-reuse note
    val stats = corpus.select(size(toks(col("text"))).as("dl"))
      .agg(sum("dl").cast("double").as("total_tok"), count(lit(1)).as("n_docs"))
    tf.crossJoin(broadcast(stats))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("dl", sum("n_td").over(Window.partitionBy("doc_id")))
      .withColumn("idf",
        floor(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)) * lit(1e6) + lit(0.5)) / lit(1e6))
      .withColumn("cint",
        floor(col("idf") * (col("n_td") * lit(2.2)) /
          (col("n_td") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / (col("total_tok") / col("n_docs"))))
          * lit(1e9) + lit(0.5)).cast("long"))
  }

  /** The scoring half: broadcast the query terms against the contrib
    * table, sum, rank, cut at [[SearchTopK]].
    */
  private[queries] def bm25RankedFrom(contrib: DataFrame,
      qterms: DataFrame): DataFrame = {
    val scored = contrib.join(broadcast(qterms), "term")
      .groupBy("query_id", "doc_id").agg(sum("cint").as("sint"))
    val w = Window.partitionBy("query_id").orderBy(col("sint").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= SearchTopK)
      .select(col("query_id"), col("doc_id"), col("rk"),
        round(col("sint") / lit(1e9), 6).as("score"))
  }

  def searchBm25(s: SparkSession, d: String): DataFrame =
    searchBm25On(Tables.documents(s, d))

  /** Positional-index PHRASE search: exact consecutive-word match via
    * the classic positional inverted index — each query doc's leading
    * 3-token phrase is located in the corpus by joining the
    * (doc, term, pos) postings on (doc, pos+1) and (doc, pos+2).
    * This is the query class bag-of-words BM25 structurally cannot
    * answer (term adjacency), and the join-on-adjacent-positions plan
    * is how every search engine runs it.
    *
    * Scale design: the index is one token-linear posexplode; the
    * first-term join prunes to |postings(w1)| candidates (broadcast
    * query side, same contract as search_bm25), and the two follow-up
    * joins are equi-joins on (doc_id, pos) — candidate volume ∝
    * postings of the rarest prefix term, never corpus-wide. Integer
    * positions ⇒ exact under the hash gate.
    */
  def searchPhraseOn(docs: DataFrame): DataFrame = {
    val corpus = docs.filter(col("doc_id") >= SearchQueryDocs)
    val phrases = docs.filter(col("doc_id") < SearchQueryDocs)
      .select(col("doc_id").as("query_id"), toks(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("query_id"),
        element_at(col("ws"), 1).as("w1"),
        element_at(col("ws"), 2).as("w2"),
        element_at(col("ws"), 3).as("w3"))
    val idx = corpus.select(col("doc_id"),
      posexplode(toks(col("text"))).as(Seq("pos", "term")))
    val m1 = idx.join(broadcast(phrases), col("term") === col("w1"))
      .select(col("query_id"), col("doc_id"), col("pos"), col("w2"), col("w3"))
    val idx2 = idx.select(col("doc_id").as("d2"), col("pos").as("p2"),
      col("term").as("t2"))
    val idx3 = idx.select(col("doc_id").as("d3"), col("pos").as("p3"),
      col("term").as("t3"))
    m1
      .join(idx2, col("d2") === col("doc_id") && col("t2") === col("w2") &&
        col("p2") === col("pos") + 1)
      .join(idx3, col("d3") === col("doc_id") && col("t3") === col("w3") &&
        col("p3") === col("pos") + 2)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hits"), min("pos").cast("int").as("first_pos"))
  }

  def searchPhrase(s: SparkSession, d: String): DataFrame =
    searchPhraseOn(Tables.documents(s, d))

  /** Compression-ratio quality signal (zlib level 6 via the native
    * codegen'd [[graft.functions.DeflateRatio]] expression): raw vs
    * deflated byte counts and their ratio per document. Template/
    * boilerplate text compresses hard (high ratio), token salad
    * barely compresses (ratio → 1) — the cheap information-density
    * gate the big curation stacks run alongside the token heuristics.
    * Pure per-row map, zero shuffle. SQL has no deflate, so this is
    * spec-certified (TextOpsSpec planted extremes + determinism) per
    * SURVEY §2.4 — the expression itself is deterministic: fixed
    * level, JDK zlib.
    */
  def qualityCompress(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).as("raw_bytes"),
        graft.functions.DeflateRatio.sizeCol(col("text")).as("zip_bytes"))
      .select(col("doc_id"), col("raw_bytes"), col("zip_bytes"),
        (floor(col("raw_bytes").cast("double") / col("zip_bytes") * 10000 + 0.5)
          / 10000.0).as("ratio"))

  /** PII masking: email and long-digit-run redaction via regexp_replace
    * (patterns chosen to mean the same thing in Java regex and RE2).
    * The corpus text has no PII, so the contact string under test is
    * synthesized deterministically from doc_id — same construction in
    * the oracle — and carries a raw-text tail that must survive
    * unmasked. Pure per-row map: no shuffle at any scale.
    */
  def piiMask(s: SparkSession, d: String): DataFrame = {
    val contact = concat(
      lit("user"), col("doc_id").cast("string"), lit("@example.com or call "),
      (col("doc_id") * 7919 + 1000000000L).cast("string"), lit(" re: "),
      substring(col("text"), 1, 40))
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(contact, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]{9,}", "<PHONE>").as("masked"))
  }

  /** PMI phrase mining: top-20 adjacent word pairs by pointwise mutual
    * information (min support 5) — the collocation detector ("new
    * york") a tokenizer/vocab pipeline runs before deciding merge
    * candidates at the word level. PMI = ln(p(a,b) / (p(a)·p(b)))
    * with p from bigram/unigram corpus frequencies.
    *
    * Scale: bigram and unigram counts are partial-agg'd shuffles that
    * collapse to vocabulary-sized frames; the two probability joins
    * run at bigram-vocabulary cardinality (corpus-sublinear), and the
    * final top-k is a 20-row ordered limit. Arithmetic is written with
    * identical shape on both engines so the hash gate applies.
    */
  def pmiBigrams(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(toks(col("text")).as("ws"))
    val ws = col("ws")
    val bi = base.filter(size(ws) >= 2)
      .select(explode(transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("a"), element_at(ws, i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val uni = base.select(explode(ws).as("tok"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val uc = uni.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = bi.agg(count(lit(1)).as("n_bi"))
      .crossJoin(uni.agg(count(lit(1)).as("n_uni")))
    val pmi = log((col("c_ab") / col("n_bi")) /
      ((col("ca") / col("n_uni")) * (col("cb") / col("n_uni"))))
    cab.filter(col("c_ab") >= 5)
      .join(uc.select(col("tok").as("a"), col("c").as("ca")), "a")
      .join(uc.select(col("tok").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c_ab"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** TextRank parameters: co-occurrence window is adjacency (window 2,
    * the [[pmiBigrams]] pair stream), words shorter than MinLen chars
    * are dropped (stopword proxy — no language-specific list needed),
    * edges need MinCo co-occurrences (noise floor), top-K reported.
    */
  val TextRankTopK = 20
  val TextRankMinLen = 4
  val TextRankMinCo = 5

  /** TextRank KEYWORD EXTRACTION (Mihalcea & Tarau 2004): corpus-level
    * salient terms = PageRank over the word co-occurrence graph
    * (adjacent long-word pairs, symmetrized, min-support-gated). The
    * unsupervised keyword/topic-term extractor a curation pipeline
    * runs to label sources and audit domain mix — complementing
    * [[tfidf_terms]] (per-doc) and [[pmiBigrams]] (phrases): TextRank
    * finds globally central vocabulary, not merely frequent or locally
    * associated words.
    *
    * Scale design: one tokenize pass → bigram count shuffle that
    * collapses to co-occurrence-vocabulary cardinality (corpus-
    * sublinear, like pmi_bigrams); the 10 damped PageRank rounds then
    * run on that vocab-bounded graph via [[Cluster.pagerankOf]]
    * (checkpointed, no driver convergence actions) — the corpus is
    * never touched again. Final ordering on the 6-dp-rounded rank
    * with a word tiebreak keeps the top-K cut deterministic.
    */
  def keywordsTextrank(s: SparkSession, d: String): DataFrame =
    keywordsTextrankOn(Tables.documents(s, d))

  /** Core TextRank pipeline over any (doc_id, text) DataFrame. */
  def keywordsTextrankOn(documents: DataFrame): DataFrame = {
    val base = documents.select(toks(col("text")).as("ws"))
    val ws = col("ws")
    val co = base.filter(size(ws) >= 2)
      .select(explode(transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(length(col("w1")) >= TextRankMinLen &&
        length(col("w2")) >= TextRankMinLen && col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .filter(col("n") >= TextRankMinCo)
    val sym = co.select(col("a").as("src"), col("b").as("dst"))
      .union(co.select(col("b").as("src"), col("a").as("dst")))
    Cluster.pagerankOf(sym)
      .select(col("node").as("word"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("word").asc)
      .limit(TextRankTopK)
  }

  /** URL-canonicalization dedup — the crawl-frontier / web-corpus step
    * that collapses surface URL variants before content ever downloads
    * or dedups: lowercase scheme+host, strip default ports (:80/:443),
    * drop query string and fragment, trim the trailing slash. URLs are
    * synthesized deterministically from doc_id (the corpus has none —
    * same convention as [[piiMask]]) with planted variant classes:
    * scheme/host case, explicit default port, utm tracking params,
    * fragments. Groups collapse 4-to-1 by construction; output is one
    * row per canonical URL with the duplicate count and the kept
    * (min-id) doc. All regex steps mean the same thing in Java regex
    * and RE2, and the whole op is a pure map + one groupBy on the
    * canonical key (48-byte rows — bodies never shuffle).
    */
  def dedupUrl(s: SparkSession, d: String): DataFrame = {
    val variant = col("doc_id") % 4
    val scheme = when(variant === 0, "HTTPS://").when(variant === 1, "https://")
      .when(variant === 2, "https://").otherwise("https://")
    val host = when(variant % 2 === 0,
      concat(lit("WWW.Site"), (col("doc_id") % 25).cast("string"), lit(".COM")))
      .otherwise(concat(lit("www.site"), (col("doc_id") % 25).cast("string"), lit(".com")))
    val port = when(variant === 1, ":443").otherwise("")
    val tail = when(variant === 2, "?utm_source=feed&utm_medium=rss")
      .when(variant === 3, "#section-2").otherwise("")
    val url = concat(scheme, host, port,
      lit("/Articles/"), (col("doc_id") % 125).cast("string"), lit("/"), tail)
    // lowercase ONLY scheme://host (paths are case-sensitive), strip
    // the scheme's OWN default port (:443 is only default for https,
    // :80 only for http — https://h:80 is a distinct origin and must
    // NOT collapse), query, fragment, trailing slash
    val lowered = lower(regexp_extract(url, "^[A-Za-z]+://[^/]*", 0))
    val head = when(lowered.startsWith("https://"),
      regexp_replace(lowered, ":443$", ""))
      .when(lowered.startsWith("http://"),
        regexp_replace(lowered, ":80$", ""))
      .otherwise(lowered) // other schemes: no default-port assumption
    val path = regexp_replace(
      regexp_replace(regexp_replace(url, "^[A-Za-z]+://[^/]*", ""),
        "[?#].*$", ""),
      "/$", "")
    val canon = concat(head, path)
    Tables.documents(s, d)
      .select(col("doc_id"), canon.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"), min("doc_id").as("keeper"))
  }

  /** Deterministic 0–99 bucket: multiplicative hash of a long key. The
    * inner `% 1000003` keeps the product far below int64 overflow at
    * ANY corpus size (Spark would wrap silently, other engines would
    * error — silent divergence); a pure function of the key, so
    * re-runs, retries, and incremental appends bucket every key
    * identically. Shared by [[sampleSplit]], [[stratifiedSample]], and
    * Cluster.splitLeakfree — one definition, one oracle arithmetic.
    */
  def hashBucket(key: Column): Column =
    (key % 1000003L) * 2654435761L % 100

  /** 90/5/5 train/validation/test label from a [[hashBucket]] value. */
  def splitLabel(bucket: Column): Column =
    when(bucket < 90, "train")
      .when(bucket < 95, "validation")
      .otherwise("test")

  /** Deterministic train/validation/test split (90/5/5) by
    * [[hashBucket]] of doc_id. Pure map + 3-group agg; no shuffle of
    * document bodies.
    */
  def sampleSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), splitLabel(hashBucket(col("doc_id"))).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))

  /** Deterministic per-stratum (language) downsampling: keep 50% of en,
    * 20% of everything else, selected by the same multiplicative-hash
    * bucket as [[sampleSplit]] — a pure function of doc_id, so retries
    * and appends keep selections stable and the en/other sets nest.
    * Pure map + one small agg: no shuffle of document bodies.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val bucket = hashBucket(col("doc_id"))
    val rate = when(col("lang") === "en", 50).otherwise(20)
    Tables.documents(s, d)
      .select(col("lang"), (bucket < rate).cast("int").as("kept"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"))
  }

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis-
    * Spirakis A-ES): top-5 docs per language with inclusion probability
    * proportional to n_chars. The uniform draw is derived from
    * md5(doc_id) — a pure function of the row, so retries, appends,
    * and both engines reproduce the same sample (the same trick as
    * [[sampleSplit]]'s hash bucketing, extended to weights). Key =
    * ln(u)/w; taking the k LARGEST keys per group is exactly weighted
    * sampling without replacement (Efraimidis & Spirakis 2006).
    *
    * Scale: pure map + a per-group top-k window; for hot groups the
    * bounded-buffer TopKAggregator form applies unchanged (same
    * contract as topk_per_group vs topk_agg).
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    // 48 hex-derived bits + 0.5, over 2^48: u ∈ (0,1), exact in double
    val u = (conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 12),
      16, 10).cast("double") + lit(0.5)) / lit(281474976710656.0)
    val key = log(u) / col("n_chars")
    val w = Window.partitionBy("lang").orderBy(col("key").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"), key.as("key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
  }

  /** Deterministic fixed-size UNIFORM sample (the reservoir-sampling
    * contract, hash-keyed): exactly k = 25 docs per source, ranked by
    * md5 of the row identity. Equivalent in distribution to Vitter's
    * algorithm R (each subset of size k equally likely under the hash
    * model), but a pure function of the rows — retries, stragglers,
    * re-runs, and both engines reproduce the identical sample, which
    * streaming reservoir state cannot promise. Complements
    * [[stratifiedSample]] (rate-based, size varies with |stratum|)
    * and [[sampleWeighted]] (weighted A-ES): this is the exact-k
    * uniform-per-stratum primitive. Scale: per-group top-k window →
    * WindowGroupLimit pushes rank ≤ k below the shuffle, so each
    * partition forwards at most k rows per source.
    */
  def sampleReservoir(s: SparkSession, d: String): DataFrame = {
    val key = md5(concat(lit("rs:"), col("doc_id").cast("string")))
    val w = Window.partitionBy("source").orderBy(col("key").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), key.as("key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 25)
      .select(col("source"), col("rk"), col("doc_id"))
  }

  /** Percentile-gated quality filter: drop each language's bottom
    * quartile by composite quality. The per-lang threshold is an exact
    * interpolated percentile computed as a partial-merged groupBy
    * aggregate and broadcast back onto the scored frame.
    * floor(x*1e4+0.5) (not round) on the
    * threshold: interpolation at f=.5 between 1e-4-grid values lands
    * exactly on 4th-decimal halves, where the engines' round() differ.
    */
  /** Per-document composite quality over any (doc_id, lang, text)
    * frame — the scoring half of [[qualityFilter]], shared with the
    * end-to-end Pipeline.curate composition.
    */
  def qualityPerDoc(documents: DataFrame): DataFrame = {
    val ws = col("ws")
    val nTok = size(ws)
    val punctRatio = length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", ""))
      .cast("double") / length(col("text"))
    val stopArr = array(Stopwords.map(lit): _*)
    val stopRatio = size(filter(ws, w => array_contains(stopArr, w))).cast("double") / nTok
    val quality = floor((stopRatio * 0.4 + least(nTok / lit(100.0), lit(1.0)) * 0.3
      + (lit(1.0) - punctRatio) * 0.3) * 10000 + 0.5) / 10000.0
    documents
      .select(col("doc_id"), col("lang"), col("text"), toks(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"), quality.as("quality"))
  }

  /** ENSEMBLE quality gate: rank-fusion of three independently-oracled
    * signals — heuristic composite (this module), unigram-LM NLL
    * (Corpus.lmScore, inverted: low surprise = stereotypical), and
    * DSIR importance (Dsir) — each percent-rank-normalized PER
    * LANGUAGE (partitioned windows: language-fair and no global
    * single-partition sort) and averaged. Rank fusion is how real
    * curation stacks combine incommensurable scores without tuning
    * scale factors; the per-lang percent_rank is an exact rational
    * ((row-1)/(n-1) under a doc_id-pinned unique ordering), so the
    * fused score is float-deterministic in both engines.
    */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val q = qualityPerDoc(docs).select(col("doc_id"), col("quality"))
    val nll = Corpus.lmScore(s, d).select(col("doc_id"), col("avg_nll"))
    // serve the session-shared full-corpus weights table (Dsir's
    // trainer/serve cells, r14 verdict item 8) — the same r4 rounding
    // dsirWeights applies, so the fused ranks are unchanged
    val dw = Dsir.weightsCached(s, d)
      .select(col("doc_id"), Dsir.r4(col("w")).as("dsir_w"))
    // checkpointed: three eager global sorts (one per rank order)
    // consume it, and the lm/dsir chains behind it are the cost
    val joined = { import graft.core.Checkpoints.StableOps
      docs.select(col("doc_id"), col("lang"))
        .join(q, "doc_id").join(nll, "doc_id").join(dw, "doc_id").stable }
    // three per-lang percentile ranks via the ScalableRank grouped
    // rank (tie-broken orders, so rank == row_number and
    // percent_rank == (rn−1)/(n−1) — the identical IEEE division
    // both engines evaluate); a per-lang window partition would put
    // each language's whole population on one core, three times
    val g = Seq[(String, Seq[Column])](
      "__r1" -> Seq(col("quality").desc, col("doc_id").asc),
      "__r2" -> Seq(col("avg_nll").asc, col("doc_id").asc),
      "__r3" -> Seq(col("dsir_w").desc, col("doc_id").asc))
      .foldLeft(joined) { case (acc, (rn, order)) =>
        graft.core.ScalableRank.groupedRank(acc, "lang", rn, "__n" + rn,
          order: _*)
      }
    def pr(rn: String) = when(col("__n__r1") > 1,
      (col(rn) - 1).cast("double") / (col("__n__r1") - 1))
      .otherwise(lit(0.0))
    g
      .select(col("doc_id"), col("lang"),
        pr("__r1").as("rq"), pr("__r2").as("rn"), pr("__r3").as("rd"))
      .select(col("doc_id"), col("lang"),
        (floor(col("rq") * 10000 + 0.5) / 10000.0).as("q_rank"),
        (floor(col("rn") * 10000 + 0.5) / 10000.0).as("nll_rank"),
        (floor(col("rd") * 10000 + 0.5) / 10000.0).as("dsir_rank"),
        (floor((col("rq") + col("rn") + col("rd")) / 3.0 * 10000 + 0.5)
          / 10000.0).as("ensemble"))
  }

  def qualityFilter(s: SparkSession, d: String): DataFrame = {
    val q = qualityPerDoc(Tables.documents(s, d))
    // per-lang exact p25 as a groupBy aggregate broadcast back — not
    // an unordered per-lang window gathering each language's whole
    // population on one partition to compute the same scalar
    val thr = q.groupBy("lang")
      .agg(expr("percentile(quality, 0.25)").as("thr"))
    q.join(broadcast(thr), "lang")
      .filter(col("quality") >= col("thr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        round(min("quality"), 4).as("min_q"),
        (floor(first("thr") * 10000 + 0.5) / 10000.0).as("p25"))
  }

  /** Unicode canonicalization pass — NFC-normalize (native codegen'd
    * [[graft.functions.NfcNormalize]], identity-fast-path for
    * already-normalized text) + lowercase, with a changed flag. Runs
    * BEFORE any hash-based dedup so canonically-equal byte sequences
    * collide. Pure map over the scan: zero shuffles at any corpus
    * size; DuckDB's nfc_normalize implements the same Unicode
    * normalization, making the oracle exact.
    */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        lower(graft.functions.NfcNormalize.nfcCol(col("text"))).as("norm_text"),
        (lower(graft.functions.NfcNormalize.nfcCol(col("text"))) =!= col("text"))
          .cast("int").as("changed"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_normalize" -> textNormalize,
    "stratified_sample" -> stratifiedSample,
    "quality_filter" -> qualityFilter,
    "sample_split" -> sampleSplit,
    "token_count" -> tokenCount,
    "tokenizer_fertility" -> tokenizerFertility,
    "quality_score" -> qualityScore,
    "text_stats" -> textStats,
    "lang_id" -> langId,
    "fingerprint" -> fingerprint,
    "tfidf_terms" -> tfidfTerms,
    "bm25_terms" -> bm25Terms,
    "search_bm25" -> searchBm25,
    "search_phrase" -> searchPhrase,
    "quality_compress" -> qualityCompress,
    "quality_ensemble" -> qualityEnsemble,
    "sample_weighted" -> sampleWeighted,
    "sample_reservoir" -> sampleReservoir,
    "dedup_url" -> dedupUrl,
    "pmi_bigrams" -> pmiBigrams,
    "pii_mask" -> piiMask,
    "keywords_textrank" -> keywordsTextrank)

  private[queries] val tokSqlDuck =
    "list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0)"

  /** CTE chain ending in `lex(query_id, doc_id, rk, score)` — the full
    * BM25 retrieval oracle as a composable prefix ([[searchBm25On]]'s
    * integer-sum ranking), shared by `search_bm25` and the hybrid
    * fusion oracle in [[Similarity]].
    */
  private[queries] def searchBm25SqlCtes: String = searchBm25SqlCtesWith(
    s"""qd AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct($tokSqlDuck)) AS term
       |  FROM documents WHERE doc_id < $SearchQueryDocs)""".stripMargin)

  /** The BM25 CTE chain over an arbitrary `qd(query_id, term)` CTE —
    * shared with Evals.search_rank_eval's 3-key-term workload.
    */
  private[queries] def searchBm25SqlCtesWith(qdCte: String): String =
    s"""$qdCte,
       |t AS (SELECT doc_id, unnest($tokSqlDuck) AS term
       |      FROM documents WHERE doc_id >= $SearchQueryDocs),
       |tf AS (SELECT doc_id, term, count(*) AS n_td FROM t GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |dls AS (SELECT doc_id, sum(n_td) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST(sum(len(ws)) AS DOUBLE) AS total_tok, count(*) AS n_docs
       |       FROM (SELECT $tokSqlDuck AS ws FROM documents
       |             WHERE doc_id >= $SearchQueryDocs)),
       |c AS (
       |  SELECT tf.doc_id, tf.term,
       |    CAST(floor(
       |      (floor(ln((st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
       |             * 1000000.0 + 0.5) / 1000000.0)
       |      * (tf.n_td * 2.2)
       |      / (tf.n_td + 1.2 * (0.25 + 0.75 * dls.dl / (st.total_tok / st.n_docs)))
       |      * 1000000000.0 + 0.5) AS BIGINT) AS cint
       |  FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN st),
       |sc AS (SELECT q.query_id, c.doc_id, sum(c.cint) AS sint
       |       FROM c JOIN qd q USING (term) GROUP BY 1, 2),
       |lex AS (
       |  SELECT query_id, doc_id, rk, score FROM (
       |    SELECT query_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY sint DESC, doc_id) AS INTEGER) AS rk,
       |      round(CAST(sint AS DOUBLE) / 1000000000.0, 6) AS score
       |    FROM sc)
       |  WHERE rk <= $SearchTopK)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "keywords_textrank" -> {
      // 10 damped rounds unrolled as chained CTEs — same term-by-term
      // arithmetic as Cluster.pagerankOf / the pagerank oracle (the
      // symmetrized word graph has no dangling nodes, so the dangling
      // term is exactly 0.0 and is omitted).
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (
           |  SELECT no.node,
           |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.inr, 0.0) AS rank
           |  FROM nodes no CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT s.dst AS node, sum(r.rank / d.outdeg) AS inr
           |    FROM sym s JOIN r${i - 1} r ON r.node = s.src
           |    JOIN deg d ON d.src = s.src
           |    GROUP BY s.dst) c ON c.node = no.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT $tokSqlDuck AS w FROM documents),
         |bi AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         |         i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS p
         |       FROM t WHERE len(w) >= 2),
         |pf AS (SELECT CASE WHEN p.w1 < p.w2 THEN p.w1 ELSE p.w2 END AS a,
         |              CASE WHEN p.w1 < p.w2 THEN p.w2 ELSE p.w1 END AS b
         |       FROM bi
         |       WHERE len(p.w1) >= $TextRankMinLen AND len(p.w2) >= $TextRankMinLen
         |         AND p.w1 <> p.w2),
         |co AS (SELECT a, b FROM pf GROUP BY a, b
         |       HAVING count(*) >= $TextRankMinCo),
         |sym AS (SELECT a AS src, b AS dst FROM co
         |        UNION ALL SELECT b, a FROM co),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
         |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
         |$rounds
         |SELECT word, rank FROM
         |  (SELECT node AS word, round(rank, 6) AS rank FROM r10)
         |ORDER BY rank DESC, word LIMIT $TextRankTopK""".stripMargin
    },
    "search_bm25" ->
      ("WITH " + searchBm25SqlCtes + "\n" +
        "SELECT query_id, doc_id, rk, score FROM lex"),
    "search_phrase" ->
      s"""WITH c AS (SELECT doc_id, $tokSqlDuck AS ws FROM documents
         |           WHERE doc_id >= $SearchQueryDocs),
         |idx AS (SELECT doc_id, unnest(ws) AS term,
         |          unnest(generate_series(0, len(ws) - 1)) AS pos FROM c),
         |ph AS (SELECT doc_id AS query_id, ws[1] AS w1, ws[2] AS w2, ws[3] AS w3
         |       FROM (SELECT doc_id, $tokSqlDuck AS ws FROM documents
         |             WHERE doc_id < $SearchQueryDocs)
         |       WHERE len(ws) >= 3)
         |SELECT p.query_id, i1.doc_id,
         |  count(*) AS n_hits, CAST(min(i1.pos) AS INTEGER) AS first_pos
         |FROM ph p
         |JOIN idx i1 ON i1.term = p.w1
         |JOIN idx i2 ON i2.doc_id = i1.doc_id AND i2.pos = i1.pos + 1
         |           AND i2.term = p.w2
         |JOIN idx i3 ON i3.doc_id = i1.doc_id AND i3.pos = i1.pos + 2
         |           AND i3.term = p.w3
         |GROUP BY 1, 2""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id, lower(nfc_normalize(text)) AS norm_text,
        |  CAST(CASE WHEN lower(nfc_normalize(text)) <> text
        |       THEN 1 ELSE 0 END AS INTEGER) AS changed
        |FROM documents""".stripMargin,
    "stratified_sample" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN (doc_id % 1000003) * 2654435761 % 100 <
        |                     (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY lang""".stripMargin,
    "quality_ensemble" ->
      (s"""WITH t AS (SELECT doc_id, lang, text, $tokSqlDuck AS ws FROM documents),
         |q AS (SELECT doc_id, lang,
         |  floor(((CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / len(ws)) * 0.4
         |    + least(len(ws) / 100.0, 1.0) * 0.3
         |    + (1.0 - CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3) * 10000 + 0.5) / 10000.0 AS quality
         |  FROM t),
         |lmt AS (SELECT doc_id, unnest($tokSqlDuck) AS tok FROM documents),
         |lmv AS (SELECT tok, count(*) AS cnt FROM lmt GROUP BY 1),
         |lmn AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lmv),
         |lms AS (SELECT doc_id,
         |  floor(avg(-ln(CAST(cnt AS DOUBLE) / total)) * 10000 + 0.5) / 10000.0
         |    AS avg_nll
         |  FROM lmt JOIN lmv USING (tok) CROSS JOIN lmn GROUP BY doc_id),
         |""".stripMargin
        + graft.queries.Dsir.weightsSqlOver("documents") + ",\n" +
        """dsw AS (SELECT doc_id, floor(w * 10000 + 0.5) / 10000.0 AS dsir_w
          |        FROM dwt),
          |j AS (SELECT q.doc_id, q.lang, q.quality, lms.avg_nll, dsw.dsir_w
          |      FROM q JOIN lms USING (doc_id) JOIN dsw USING (doc_id)),
          |r AS (SELECT doc_id, lang,
          |  percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rq,
          |  percent_rank() OVER (PARTITION BY lang ORDER BY avg_nll ASC, doc_id) AS rn,
          |  percent_rank() OVER (PARTITION BY lang ORDER BY dsir_w DESC, doc_id) AS rd
          |  FROM j)
          |SELECT doc_id, lang,
          |  floor(rq * 10000 + 0.5) / 10000.0 AS q_rank,
          |  floor(rn * 10000 + 0.5) / 10000.0 AS nll_rank,
          |  floor(rd * 10000 + 0.5) / 10000.0 AS dsir_rank,
          |  floor((rq + rn + rd) / 3.0 * 10000 + 0.5) / 10000.0 AS ensemble
          |FROM r""".stripMargin),
    "quality_filter" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $tokSqlDuck AS ws FROM documents),
         |q AS (SELECT doc_id, lang,
         |  floor(((CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / len(ws)) * 0.4
         |    + least(len(ws) / 100.0, 1.0) * 0.3
         |    + (1.0 - CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3) * 10000 + 0.5) / 10000.0 AS quality
         |  FROM t),
         |thr AS (SELECT lang, quantile_cont(quality, 0.25) AS thr FROM q GROUP BY lang)
         |SELECT lang, count(*) AS n_kept,
         |  round(min(quality), 4) AS min_q,
         |  floor(min(thr) * 10000 + 0.5) / 10000.0 AS p25
         |FROM q JOIN thr USING (lang)
         |WHERE quality >= thr
         |GROUP BY lang""".stripMargin,
    "sample_split" ->
      """SELECT CASE WHEN b < 90 THEN 'train'
        |            WHEN b < 95 THEN 'validation'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (SELECT doc_id, (doc_id % 1000003) * 2654435761 % 100 AS b
        |      FROM documents)
        |GROUP BY 1""".stripMargin,
    "tokenizer_fertility" ->
      s"""WITH m AS (
         |  SELECT lang,
         |    CAST(len($tokSqlDuck) AS BIGINT) AS w,
         |    CAST(len(regexp_extract_all(text, '$BpeRe')) AS BIGINT) AS b,
         |    CAST(length(text) AS BIGINT) AS ch
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(b) AS BIGINT) AS n_bpe,
         |  CAST(sum(ch) AS BIGINT) AS n_chars,
         |  CAST(sum(b) * 1000000 // greatest(sum(w), 1) AS BIGINT)
         |    AS fertility_micro,
         |  CAST(sum(ch) * 1000000 // greatest(sum(b), 1) AS BIGINT)
         |    AS chars_per_bpe_micro
         |FROM m GROUP BY lang""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS INTEGER) AS ws_tokens,
         |  CAST(len($tokSqlDuck) AS INTEGER) AS letter_tokens,
         |  CAST(len(regexp_extract_all(text, '$BpeRe')) AS INTEGER) AS bpe_tokens
         |FROM documents""".stripMargin,
    "quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $tokSqlDuck AS ws FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST(len(ws) AS INTEGER) AS n_tokens,
         |  CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) AS sum_len,
         |  CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) AS nstop
         |  FROM t)
         |SELECT doc_id, n_chars, n_tokens,
         |  round(sum_len / n_tokens, 4) AS avg_word_len,
         |  round(punct / n_chars, 4) AS punct_ratio,
         |  round(nstop / n_tokens, 4) AS stop_ratio,
         |  floor(((nstop / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.3
         |        + (1.0 - punct / n_chars) * 0.3) * 10000 + 0.5) / 10000.0 AS quality
         |FROM m""".stripMargin,
    "text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  round(avg(n_chars), 2) AS avg_chars,
         |  round(avg(len($tokSqlDuck)), 2) AS avg_tokens,
         |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM documents GROUP BY lang""".stripMargin,
    "lang_id" -> {
      val vals = LangProfiles.map { case (l, ws) =>
        s"('$l', [${ws.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, $tokSqlDuck AS ws FROM documents),
         |s AS (SELECT doc_id, lang, p.plang,
         |        CASE WHEN len(ws) = 0 THEN 0.0
         |             ELSE CAST(len(list_filter(ws, x -> list_contains(p.words, x)))
         |                       AS DOUBLE) / len(ws)
         |        END AS score
         |      FROM t, (VALUES $vals) AS p(plang, words))
         |SELECT doc_id, lang, plang AS pred_lang,
         |       floor(score * 10000 + 0.5) / 10000.0 AS conf
         |FROM (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, plang DESC) AS rn
         |      FROM s)
         |WHERE rn = 1""".stripMargin
    },
    "fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($tokSqlDuck,
         |        w -> CAST(31 * ascii(w) + ascii(right(w, 1)) + len(w) AS BIGINT))),
         |    (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
         |FROM documents""".stripMargin,
    "tfidf_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSqlDuck) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS n_td FROM t GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(n_td AS DOUBLE) / (sum(n_td) OVER (PARTITION BY tf.doc_id)) *
         |      ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         |SELECT doc_id, term, round(score, 6) AS tfidf, CAST(rk AS INTEGER) AS rk
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY score DESC, term) AS rk
         |      FROM scored)
         |WHERE rk <= 3""".stripMargin,
    "pmi_bigrams" ->
      s"""WITH t AS (SELECT $tokSqlDuck AS w FROM documents),
         |bi AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         |         i -> struct_pack(a := w[i], b := w[i+1]))) AS p
         |       FROM t WHERE len(w) >= 2),
         |pairs AS (SELECT p.a AS a, p.b AS b, count(*) AS c_ab
         |          FROM bi GROUP BY 1, 2),
         |uni AS (SELECT unnest(w) AS tok FROM t),
         |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM bi) AS n_bi,
         |               (SELECT count(*) FROM uni) AS n_uni)
         |SELECT a, b, c_ab,
         |  round(ln((c_ab / CAST(n_bi AS DOUBLE)) /
         |    ((ca.c / CAST(n_uni AS DOUBLE)) * (cb.c / CAST(n_uni AS DOUBLE)))), 6)
         |    AS pmi
         |FROM pairs
         |JOIN uc ca ON ca.tok = pairs.a
         |JOIN uc cb ON cb.tok = pairs.b
         |CROSS JOIN tot
         |WHERE c_ab >= 5
         |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
        |    CASE WHEN (doc_id % 4) % 2 = 0
        |      THEN 'WWW.Site' || CAST(doc_id % 25 AS VARCHAR) || '.COM'
        |      ELSE 'www.site' || CAST(doc_id % 25 AS VARCHAR) || '.com' END ||
        |    CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END ||
        |    '/Articles/' || CAST(doc_id % 125 AS VARCHAR) || '/' ||
        |    CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_medium=rss'
        |         WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN lower(regexp_extract(url, '^[A-Za-z]+://[^/]*'))
        |              LIKE 'https://%'
        |         THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://[^/]*')),
        |                             ':443$', '')
        |         WHEN lower(regexp_extract(url, '^[A-Za-z]+://[^/]*'))
        |              LIKE 'http://%'
        |         THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://[^/]*')),
        |                             ':80$', '')
        |         ELSE lower(regexp_extract(url, '^[A-Za-z]+://[^/]*')) END ||
        |    regexp_replace(regexp_replace(
        |      regexp_replace(url, '^[A-Za-z]+://[^/]*', ''),
        |      '[?#].*$', ''), '/$', '') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, count(*) AS n_variants, min(doc_id) AS keeper
        |FROM c GROUP BY 1""".stripMargin,
    "sample_weighted" ->
      """WITH k AS (
        |  SELECT lang, doc_id, n_chars,
        |    ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
        |        + 0.5) / 281474976710656.0) / n_chars AS key
        |  FROM documents)
        |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY lang ORDER BY key DESC, doc_id) AS rk
        |      FROM k)
        |WHERE rk <= 5""".stripMargin,
    "sample_reservoir" ->
      """WITH k AS (
        |  SELECT source, doc_id,
        |    md5('rs:' || CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents)
        |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY source ORDER BY key ASC, doc_id) AS rk
        |      FROM k)
        |WHERE rk <= 25""".stripMargin,
    "bm25_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSqlDuck) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS n_td FROM t GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT CAST(sum(len(ws)) AS DOUBLE) AS total_tok, count(*) AS n_docs
         |       FROM (SELECT $tokSqlDuck AS ws FROM documents)),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |      (n_td * 2.2) / (n_td + 1.2 *
         |        (0.25 + 0.75 * (sum(n_td) OVER (PARTITION BY tf.doc_id)) /
         |          (total_tok / n_docs))) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN st)
         |SELECT doc_id, term, round(score, 6) AS bm25, CAST(rk AS INTEGER) AS rk
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY score DESC, term) AS rk
         |      FROM scored)
         |WHERE rk <= 3""".stripMargin,
    "pii_mask" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      'user' || CAST(doc_id AS VARCHAR) || '@example.com or call ' ||
        |        CAST(doc_id * 7919 + 1000000000 AS VARCHAR) || ' re: ' ||
        |        substr(text, 1, 40),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{9,}', '<PHONE>', 'g') AS masked
        |FROM documents""".stripMargin)
}
