package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Tokenizer-training operators ([EXT]): the distributed half of BPE
  * (byte-pair-encoding) vocabulary learning — the step a training-data
  * pipeline runs over the whole corpus before any model sees a token.
  *
  * Scale design: everything operates on the FREQUENCY-WEIGHTED DISTINCT
  * VOCABULARY, never the raw token stream. The one corpus-sized job is
  * the initial word count (partial-agg'd shuffle collapsing the stream
  * to its vocabulary — corpus-sublinear output); each training
  * iteration then shuffles only Σ|word|-many (symbol, symbol) pairs
  * over that vocabulary. Counting pairs weighted by word frequency is
  * exactly equivalent to counting over the raw stream (spec-checked in
  * TokenizeSpec), which is what makes corpus-scale BPE tractable —
  * the standard trick of every production BPE trainer.
  *
  * The per-merge argmax is a 1-row `collect` per iteration: BPE is
  * inherently sequential (merge r+1's counts depend on merge r), so
  * the loop is data-dependent plan construction — same bounded
  * driver-action contract as the CC/PageRank convergence scalars
  * (Cluster.scala), 1 row × nMerges total.
  */
object Tokenize {

  /** Frequency-weighted vocabulary: one row per distinct word. */
  private def wordFreq(documents: DataFrame): DataFrame =
    documents
      .select(explode(Dedup.tokensCol(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** Split a word into 1-character symbols — BPE's initial state. */
  def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Adjacent-pair counts over a (f, syms) vocabulary, weighted by
    * word frequency: one partial-agg'd shuffle of Σ|syms| pair rows.
    */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("f"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum("f").as("cnt"))

  /** One BPE merge applied to a symbol array: replace adjacent
    * (l, r) occurrences with the concatenated symbol, greedy
    * leftmost-first, non-overlapping ("aaa" + (a,a) → ["aa", "a"]).
    * Pure Catalyst `aggregate` fold — the accumulator carries the
    * emitted prefix plus one pending symbol, so the scan is a single
    * left-to-right pass, no UDF.
    *
    * A space sentinel appended to the input forces the final carry to
    * flush INSIDE the fold (the sentinel can never equal a merge
    * symbol — symbols are letter runs), so the finish step is a single
    * `.getField("out")` reference. That keeps the expression tree
    * LINEAR when merges compose (bpeEncodeWith chains NMerges of
    * these); a finish that referenced the fold three times grows the
    * tree 3^N-fold and kills the driver at plan build.
    */
  def applyMerge(syms: Column, l: String, r: String): Column = {
    val empty = array().cast("array<string>")
    val init = struct(empty.as("out"), lit(null).cast("string").as("carry"))
    aggregate(concat(syms, array(lit(" "))), init, (acc, tok) => {
      val out = acc.getField("out")
      val carry = acc.getField("carry")
      when(carry === lit(l) && tok === lit(r),
        struct(concat(out, array(lit(l + r))).as("out"),
          lit(null).cast("string").as("carry")))
        .otherwise(struct(
          when(carry.isNull, out).otherwise(concat(out, array(carry))).as("out"),
          tok.as("carry")))
    }).getField("out")
  }

  /** Merge count for the registered `bpe_train` entry. */
  val NMerges = 20

  /** Learn `nMerges` BPE merges over a document corpus. Returns the
    * merge table (rank, left, right, cnt) — deterministic: ties in
    * pair count break lexicographically on (left, right), so the
    * learned vocabulary is reproducible run-to-run (spec-checked
    * against a sequential reference trainer in TokenizeSpec).
    *
    * Iteration shape: per merge, one vocabulary-sized pair count +
    * a 1-row argmax collect + an `aggregate`-fold rewrite of the
    * symbol arrays. The vocab is persisted per round and
    * checkpointed on a stride to keep plans O(1) deep (the CC /
    * PageRank idiom, Cluster.scala).
    */
  def bpeMergesOn(documents: DataFrame, nMerges: Int = NMerges): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    // materialize once: feeds every iteration's pair count
    var vocab = wordFreq(documents)
      .select(col("f"), charSyms(col("w")).as("syms"))
      .stable
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("left").asc, col("right").asc)
        .limit(1).collect() // 1 row — the bounded per-iteration action
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rr, c))
        var next = vocab.select(col("f"), applyMerge(col("syms"), l, rr).as("syms"))
        val isCkpt = r % 4 == 0 || r == nMerges
        next = if (isCkpt) next.stableLoop else next.persist()
        retired += vocab
        if (isCkpt) { retired.foreach(_.unpersist(false)); retired.clear() }
        vocab = next
        r += 1
      }
    }
    retired.foreach(_.unpersist(false))
    vocab.unpersist(false)
    merges.toSeq.toDF("rank", "left", "right", "cnt")
  }

  /** Iteration 0 of BPE training as a standalone oracle-able query:
    * adjacent character-pair counts over the corpus. Computed on the
    * weighted vocabulary; hash-identical to counting over the raw
    * token stream (the equivalence the whole module rests on).
    */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    bpePairsOn(Tables.documents(s, d))

  def bpePairsOn(documents: DataFrame): DataFrame =
    pairCounts(wordFreq(documents).select(col("f"), charSyms(col("w")).as("syms")))
      .select(concat(col("left"), col("right")).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("cnt"))

  /** Session-cached merge list for the dir-level corpus: `bpe_encode`
    * and `wordpiece_encode` reuse the training run `bpe_train` (or
    * their own first invocation) produced, instead of re-running the
    * nMerges-round trainer they merely replay. The cached value is the
    * nMerges-row driver array (the trainer's own bounded collect), so
    * this retains no executor state at all; a cold cache trains on
    * demand and the data-derived deterministic merges make a hit
    * bit-identical to a fresh run. `bpe_train` itself always retrains
    * (honest trainer cost) and refreshes the cache via
    * [[graft.core.ModelCache.put]].
    */
  private def trainMerges(s: SparkSession, d: String,
      nMerges: Int): Seq[(Int, String, String, Long)] =
    bpeMergesOn(Tables.documents(s, d), nMerges).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  private def mergeFrames(s: SparkSession)(
      m: Seq[(Int, String, String, Long)]): Seq[DataFrame] = {
    import s.implicits._
    Seq(m.toDF("rank", "left", "right", "cnt"))
  }

  private def mergesOfFrames(
      fs: Seq[DataFrame]): Seq[(Int, String, String, Long)] =
    fs.head.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private[queries] def mergesFor(s: SparkSession, d: String,
      nMerges: Int = NMerges): Seq[(Int, String, String, Long)] =
    graft.core.ModelStore.cachedDurable(s, d, s"bpe_merges_$nMerges",
      s"n=$nMerges", 1)(trainMerges(s, d, nMerges))(mergeFrames(s))(
      mergesOfFrames)

  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val sess = s
    import sess.implicits._
    graft.core.ModelStore.putDurable(s, d, s"bpe_merges_$NMerges",
      s"n=$NMerges", trainMerges(s, d, NMerges))(mergeFrames(s))
      .toDF("rank", "left", "right", "cnt")
  }

  /** Apply a learned merge list to the corpus and report per-language
    * compression: words, characters, BPE symbols, and symbols-per-word
    * after the merges — the metric that tells you whether N merges
    * were worth it, and the second half of the tokenizer lifecycle
    * (train → encode).
    *
    * Scale: merges apply to the DISTINCT vocabulary (the same
    * weighted-vocab trick as training — the merge chain runs once per
    * distinct word, not once per token), then per-word symbol counts
    * join back to the per-doc word stream by word. The merge chain is
    * nMerges nested `aggregate` folds — plan-time composition, still
    * one map over the vocab. `merges` is an already-trained merge
    * list (the serve path).
    */
  def bpeEncodeWith(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    // collapse the token stream to (lang, word, f) BEFORE the join —
    // both join sides are vocabulary-cardinality, so the raw stream
    // never shuffles (the module's scale law); per-lang totals become
    // f-weighted sums
    val wf = documents
      .select(col("lang"), explode(Dedup.tokensCol(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("f"))
    val encoded = wf.select(col("w")).distinct()
      .select(col("w"),
        merges.foldLeft(charSyms(col("w"))) { case (c, (l, r)) =>
          applyMerge(c, l, r)
        }.as("syms"))
      .select(col("w"), size(col("syms")).as("n_syms"))
    wf.join(encoded, "w")
      .groupBy("lang")
      .agg(sum("f").as("n_words"),
        sum(length(col("w")) * col("f")).as("n_chars"),
        sum(col("n_syms") * col("f")).as("n_bpe_syms"),
        round(sum(col("n_syms") * col("f")) / sum("f").cast("double"), 4)
          .as("syms_per_word"))
  }

  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeWith(Tables.documents(s, d),
      mergesFor(s, d).map(t => (t._2, t._3)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_pairs" -> bpePairs,
    "bpe_train" -> bpeTrain,
    "bpe_encode" -> bpeEncode)

  /** The training loop is iterative but DETERMINISTIC (integer pair
    * counts, lexicographic ties), so the fixed NMerges rounds unroll
    * into chained DuckDB CTEs. Symbol lists travel as delimited
    * strings with each token individually wrapped (`|tok|` — tokens
    * are letter runs, so '|' can never occur inside one): the merge
    * then IS SQL `replace` of `|l||r|` with `|lr|`, whose
    * left-to-right non-overlapping scan is exactly [[applyMerge]]'s
    * greedy-leftmost carry semantics (the per-token wrapping stops a
    * replacement from consuming the delimiter the next match needs).
    */
  // one training round: re-tokenize, weighted adjacent-pair count,
  // (cnt desc, pair asc) argmax, replace on every vocab word; an
  // exhausted round (empty m$i) leaves the vocab unchanged via the
  // CASE guard, mirroring bpeMergesOn's early stop (a CROSS JOIN
  // against the empty argmax would wipe the vocabulary instead.
  // Object-level (not local to oracleSql) so Wordpiece.oracleSql can
  // build its encoder on the same train chain.
  private[queries] def trainRound(i: Int): String =
      s"""t$i AS MATERIALIZED (SELECT w, f, list_filter(string_split(s, '|'), x -> len(x) > 0) AS toks
         |        FROM v${i - 1}),
         |p$i AS MATERIALIZED (SELECT t.toks[d.i] AS l, t.toks[d.i + 1] AS r,
         |          CAST(sum(t.f) AS BIGINT) AS cnt
         |        FROM t$i t CROSS JOIN dims d
         |        WHERE len(t.toks) >= 2 AND d.i <= len(t.toks) - 1
         |        GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (SELECT v.w, v.f,
         |          CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN v.s
         |               ELSE replace(v.s,
         |                 '|' || (SELECT l FROM m$i) || '||' || (SELECT r FROM m$i) || '|',
         |                 '|' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || '|')
         |          END AS s
         |        FROM v${i - 1} v)""".stripMargin

  /** The full NMerges train chain as CTE bodies (toks → wf → dims →
    * v0 → t/p/m/v per round). Shared by bpe_train / bpe_encode and
    * Wordpiece.oracleSql (which builds its greedy encoder on top).
    */
  private[queries] def chainSql: String = {
    val rounds = (1 to NMerges).map(trainRound).mkString(",\n")
    s"""toks AS (
       |  SELECT unnest(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |                            x -> len(x) > 0)) AS w
       |  FROM documents),
       |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w),
       |dims AS (
       |  SELECT unnest(generate_series(1,
       |    (SELECT CAST(max(len(w)) AS INTEGER) FROM wf))) AS i),
       |v0 AS MATERIALIZED (SELECT w, f,
       |         array_to_string(list_transform(generate_series(1, len(w)),
       |           j -> '|' || substr(w, j, 1) || '|'), '') AS s
       |       FROM wf),
       |$rounds""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val prelude = chainSql
    val mergeRows = (1 to NMerges).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS rank, l AS "left", r AS "right", cnt FROM m$i"""
    }.mkString("\nUNION ALL ")
    Map(
      "bpe_pairs" ->
        """WITH toks AS (
          |  SELECT unnest(list_filter(string_split_regex(text, '[^\p{L}]+'),
          |                            x -> len(x) > 0)) AS w
          |  FROM documents),
          |pairs AS (
          |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
          |                               i -> substr(w, i, 2))) AS pair
          |  FROM toks WHERE len(w) >= 2)
          |SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair""".stripMargin,
      "bpe_train" ->
        s"""WITH $prelude
           |$mergeRows""".stripMargin,
      "bpe_encode" ->
        s"""WITH tl AS (
           |  SELECT lang, unnest(list_filter(string_split_regex(text, '[^\\p{L}]+'),
           |                                  x -> len(x) > 0)) AS w
           |  FROM documents),
           |wfl AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS f
           |        FROM tl GROUP BY lang, w),
           |$prelude,
           |enc AS (SELECT w,
           |          CAST(len(list_filter(string_split(s, '|'), x -> len(x) > 0))
           |               AS INTEGER) AS n_syms
           |        FROM v$NMerges)
           |SELECT lang,
           |  CAST(sum(f) AS BIGINT) AS n_words,
           |  CAST(sum(len(w) * f) AS BIGINT) AS n_chars,
           |  CAST(sum(n_syms * f) AS BIGINT) AS n_bpe_syms,
           |  round(sum(n_syms * f) / CAST(sum(f) AS DOUBLE), 4) AS syms_per_word
           |FROM wfl JOIN enc USING (w) GROUP BY lang""".stripMargin)
  }
}
