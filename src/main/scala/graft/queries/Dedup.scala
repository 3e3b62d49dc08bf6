package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.core.Tables
import graft.core.Checkpoints.StableOps
import graft.functions.{MinHashBuckets, WordShingles}

/** Deduplication operators for large-scale training-data pipelines
  * ([EXT], no reference citation by definition — SURVEY.md §0): exact
  * (hash-groupBy), n-gram Jaccard (shingle join), MinHash+LSH banding,
  * SimHash. All are DataFrame plans over native expressions and
  * codegen'd array lambdas, with no Scala UDFs, except one typed scan:
  * [[minhashCandidateSizes]] groups LSH buckets by sorting each
  * partition on the bucket key and pairing the documents of each run
  * of equal keys (`mapPartitions`). Nearly every bucket holds one
  * document, and that scan passes it with one comparison where a
  * collect_list aggregate would build and serialize a buffer for it.
  *
  * Scale design: exact dedup and MinHash are the 100 TB paths — both
  * are linear in corpus size (hash-shuffle on digest / band bucket).
  * The pairwise n-gram join is the quadratic oracle-able baseline;
  * MinHash banding is its scale replacement (candidates ∝ true
  * near-dups, not n²).
  */
object Dedup {

  /** Letter tokens, shared with Parity/TextOps (Go unicode.IsLetter ≈ \p{L}). */
  def tokensCol(text: Column): Column =
    filter(split(text, Parity.TokenRe), w => length(w) > 0)

  /** `word_shingles(text)`: the native [[WordShingles]] expression over
    * the `text` column.
    */
  private[graft] val textShingles: Column = WordShingles.shinglesCol(col("text"))

  /** (doc_id, sh): one compiled pass per document via the native
    * [[graft.functions.WordShingles]] expression.
    */
  def shingleDocs(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), textShingles.as("sh"))
  }

  /** (doc_id, sh) for the documents of `documents` with at least one
    * shingle, shingling each document ONCE. The plain
    * `select(word_shingles(text) as sh).filter(size(sh) > 0)` shingles
    * every document twice: Catalyst pushes the filter through the
    * projection by inlining the alias, so the scan evaluates
    * `size(word_shingles(text)) > 0` and the projection shingles the
    * same text again. A filter on a generator's OUTPUT cannot move
    * below the generator, so the set is emitted by a one-element
    * `explode_outer` (outer: a plain explode would infer a pushed-down
    * `size(...) > 0` filter of its own) and the emptiness test sits
    * above it.
    */
  def nonEmptyShingles(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), explode_outer(array(textShingles)).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** Exact dedup: sha256(text) → groupBy digest. One shuffle on the
    * digest; at 100 TB this is the canonical first pass (hash is 32
    * bytes/row regardless of doc size — shuffle stays tiny).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(sha2(col("text"), 256).as("text_hash"), col("doc_id"))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))

  /** One-row exact-dedup SAVINGS report — the artifact a dedup run
    * ships to justify itself: duplicate group/doc counts and the
    * characters a keep-first pass would reclaim. Copies in a group
    * share identical text (sha2 equality), so reclaimed chars =
    * group bytes minus one representative. Digest-only shuffle, same
    * as [[dedupExact]]; the report is a second tiny aggregate over
    * the group frame.
    */
  def dedupSavings(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(sha2(col("text"), 256).as("text_hash"), col("n_chars"))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("bytes"),
        max("n_chars").as("per_doc"))
      .agg(count(lit(1)).as("n_groups"),
        sum("n").as("n_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("n_dup_docs"),
        sum(col("bytes")).as("total_chars"),
        sum((col("n") - 1) * col("per_doc")).as("chars_saved"))

  /** Near-dup candidates by exact n-gram Jaccard: explode distinct
    * shingles, self-join on shingle, count common / union. Top-50 most
    * similar pairs (total tie-break) so the result is deterministic and
    * non-empty on any corpus. QUADRATIC in co-occurring docs — the
    * oracle-able baseline; use [[dedupMinhash]] at scale.
    */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    ngramPairs(Tables.documents(s, d))

  /** Core exact-Jaccard pipeline over any (doc_id, text) DataFrame. */
  def ngramPairs(documents: DataFrame): DataFrame =
    ngramScored(documents)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
      .orderBy(col("jac").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)

  /** All co-shingled pairs with UNROUNDED Jaccard — the shared edge
    * producer for [[ngramPairs]] (top-50 report) and
    * [[Cluster.dedupCluster]] (threshold edges). Thresholding must use
    * the raw double so both engines compare the same IEEE value.
    */
  def ngramScored(documents: DataFrame): DataFrame =
    jaccardOf(ngramScoredFull(documents))

  /** [[ngramScored]] before the Jaccard projection: co-shingled pairs
    * as (doc_a, doc_b, na, nb, common) — the shared frame Jaccard AND
    * containment ([[dedupContainment]]) derive from.
    */
  def ngramScoredFull(documents: DataFrame): DataFrame =
    ngramScoredFullFromShingles(documents.select(col("doc_id"), textShingles.as("sh")))

  /** [[ngramScored]] over a precomputed `(doc_id, sh)` shingle frame —
    * the composed pipeline materializes the corpus shingles ONCE and
    * feeds both this edge producer and its stage-3 decontamination
    * scan (the DuckDB oracle already shares its `sh` CTE the same
    * way), instead of running two word_shingles passes.
    */
  def ngramScoredFromShingles(shingled: DataFrame): DataFrame =
    jaccardOf(ngramScoredFullFromShingles(shingled))

  /** [[ngramScoredFull]]'s body over a precomputed `(doc_id, sh)`
    * frame (see [[ngramScoredFromShingles]]).
    */
  def ngramScoredFullFromShingles(docs: DataFrame): DataFrame = {
    // explode_outer: avoids InferFiltersFromGenerate re-evaluating the
    // shingle chain in a pushed-down filter (see minhashPairs); the
    // isNotNull filter drops the empty-doc placeholder row (it sits
    // above the generate — nothing gets pushed into the scan). The
    // doc's shingle-set size rides along as a plain long so the Jaccard
    // denominator needs NO join back to a sizes table.
    val ex = docs
      .select(col("doc_id"), size(col("sh")).as("nsh"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    // Group docs per shingle and expand in-bucket pairs with array
    // lambdas: the corpus is shingled and shuffled exactly ONCE (vs the
    // self-join's two exploded-corpus shuffles plus two pair-stream
    // shuffles for the sizes joins), and 1-doc shingles are dropped
    // before producing any pair rows.
    // Shingle sets are per-doc distinct, so count(*) per pair =
    // |common shingles| exactly as the self-join computed it. na/nb are
    // functionally dependent on doc_a/doc_b, so grouping by all four
    // yields the same pair rows.
    //
    // TWO-STAGE expansion (posexplode of the bucket, then explode of
    // each element's tail slice): both Generates stream row-at-a-time,
    // so per-row memory for a k-doc hot shingle is O(k) — never the
    // O(k^2) struct array a single flatten-explode would materialize.
    //
    // HOT-SHINGLE CAP: shingles shared by more than HotShingleCap docs
    // are dropped BEFORE pair expansion (standard near-dup practice —
    // boilerplate n-grams carry no signal and a df-k shingle streams
    // k^2/2 pairs through one task). This bounds the worst single-task
    // pair stream to Cap^2/2 regardless of corpus size, making even
    // this quadratic oracle baseline robust to planted mega-duplicates;
    // minhashScored remains the 100 TB path. The DuckDB oracle mirrors
    // the same df <= Cap gate, so the hash check still applies.
    ex.groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("nsh"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= HotShingleCap)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => when(col("a")("doc_id") < b("doc_id"),
          struct(col("a")("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
            col("a")("nsh").as("na"), b("nsh").as("nb")))
          .otherwise(
            struct(b("doc_id").as("doc_a"), col("a")("doc_id").as("doc_b"),
              b("nsh").as("na"), col("a")("nsh").as("nb"))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("common"))
  }

  /** CONTAINMENT near-dup ([EXT]): pairs where the SMALLER document's
    * shingle set is mostly inside the larger one — C(A,B) =
    * |A∩B| / min(|A|,|B|) ≥ 0.8. This is the quote/excerpt/superset
    * detector Jaccard structurally misses: a paragraph fully embedded
    * in a 100× larger doc has jac ≈ 0.01 but containment 1.0, and
    * MinHash-LSH (a Jaccard sketch) won't even surface the pair. The
    * report carries both scores so the gap is visible. Top-50 by
    * (containment, jac) with id tiebreaks — deterministic.
    *
    * Scale: shares [[ngramScoredFull]]'s capped-df pair producer
    * (quadratic-by-contract oracle baseline, one corpus shingle
    * shuffle); the 100 TB path for containment is bottom-k /
    * size-stratified sketching, for which this exact form is the
    * verification oracle — same contract as dedup_ngram vs minhash.
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    ngramScoredFull(Tables.documents(s, d))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / least(col("na"), col("nb"))).as("cont"),
        jaccard.as("jac"))
      .filter(col("cont") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        round(col("cont"), 4).as("cont"), round(col("jac"), 4).as("jac"))
      .orderBy(col("cont").desc, col("jac").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)

  /** Max docs sharing a shingle before it is dropped from pair
    * expansion (df cap — see ngramScored). 128 keeps every true
    * near-dup pair on the test corpora while bounding any one task's
    * pair stream to 128²/2.
    */
  val HotShingleCap = 128

  /** [[dedupTfidf]] emit threshold on the micro-quantized cosine. */
  val TfidfMinCos = 0.6

  /** TF-IDF-WEIGHTED near-dup pairs ([EXT]): cosine similarity of
    * tf·idf-weighted 3-gram vectors — the WEIGHTED complement to
    * [[dedupNgram]]'s set Jaccard. Jaccard treats every shingle
    * equally, so two docs sharing lots of common phrasing score the
    * same as two sharing rare, distinctive passages; idf weighting
    * scores the rare-overlap pair higher (the SPOTSIGS/near-dup-IR
    * convention), and tf (shingles counted WITH multiplicity, unlike
    * the distinct-shingle Jaccard chain) lets repeated passages count.
    * Top-50 pairs with micro-quantized cosine ≥ [[TfidfMinCos]],
    * (cos desc, ids) total order.
    *
    * Cross-engine exactness: the single libm term ln((N+1)/(df+1)) is
    * quantized to int 1e-4 units immediately (the bm25 convention);
    * weights w = tf·idf_q, dots Σ wa·wb and norms Σ w² are then exact
    * int64 (rail ENFORCED by the [[TfClamp]] tf clamp in both
    * engines: Σw² < 2^63 up to ~millions of shingles per doc), and
    * the one double division is micro-quantized before the
    * threshold/order.
    *
    * Scale: the [[ngramScoredFull]] envelope — corpus shingled and
    * shuffled ONCE to (shingle) groups, df > [[HotShingleCap]] groups
    * dropped BEFORE pair expansion (the capped term SPACE defines the
    * operator: boilerplate shingles carry ~zero idf anyway), pairs
    * stream through the same two-stage O(k)-memory expansion, dot
    * products partial-agg'd; norms are one doc-keyed aggregate of the
    * posting frame. Cost ∝ Σ df² over capped shingles — never n².
    */
  def dedupTfidf(s: SparkSession, d: String): DataFrame =
    dedupTfidfOn(Tables.documents(s, d))

  /** Per-(doc, shingle) term-frequency clamp. The int64-exactness
    * rail (Σ tf²·idf_q² per pair < 2^63) was previously only
    * documented; past it Spark silently WRAPS int64 arithmetic where
    * DuckDB errors on BIGINT overflow — wrong-answer vs hard-failure
    * divergence. Clamping tf in BOTH engines (here and the oracle's
    * `wt` CTE) enforces the rail: idf_q ≤ ln(N+1)·1e4 ≈ 3.5e5 at a
    * trillion docs, so a pair dot term tf²·idf_q² ≤ 1e6 · 1.2e11 ≈
    * 1.2e17 and even 10⁶ shared shingles stay < 2^63. A 3-gram
    * repeated 1000+ times inside one document is boilerplate, not
    * signal — the clamp is the semantics, not a truncation.
    */
  private[graft] val TfClamp = 1000L

  /** `(sh, ids(doc_id, tf), n_docs, idf_q)` over the capped shingle
    * space — the weighted term frame [[dedupTfidfOn]] and its LSH
    * scale twin [[dedupTfidfSimhashOn]] both derive from (3-gram
    * multiplicity counts clamped at [[TfClamp]], df-capped groups,
    * 1e-4-quantized idf).
    */
  private[graft] def tfidfByTerm(docs: DataFrame): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"), tokensCol(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
    val grams = toks.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
        .as("sh"))
    val tf = grams.groupBy("doc_id", "sh")
      .agg(least(count(lit(1)), lit(TfClamp)).as("tf"))
    tf.groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("tf"))).as("ids"))
      .filter(size(col("ids")) <= lit(HotShingleCap))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_q",
        floor(log((col("n_docs") + lit(1)).cast("double") /
          (size(col("ids")) + lit(1))) * lit(1e4) + lit(0.5)).cast("long"))
  }

  /** `(doc_id, sh, w)` integer tf·idf postings from [[tfidfByTerm]]. */
  private[graft] def tfidfPostings(byTerm: DataFrame): DataFrame =
    byTerm.select(col("sh"), col("idf_q"), explode(col("ids")).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("sh"),
        (col("p.tf") * col("idf_q")).as("w"))

  /** [[dedupTfidf]] over any (doc_id, text) frame (spec surface). */
  def dedupTfidfOn(docs: DataFrame): DataFrame =
    tfidfScoredOn(docs)
      .orderBy(col("cos").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)

  /** ALL weighted-cosine pairs at the [[TfidfMinCos]] threshold —
    * `(doc_a, doc_b, n_shared, cos)`, unlimited: the EDGE-PRODUCER
    * form consumed by the weighted keep ([[Cluster.dedupKeepTfidf]])
    * the way ngramScored/minhashScored feed their cluster stages;
    * [[dedupTfidfOn]] is its top-50 report head.
    */
  def tfidfScoredOn(docs: DataFrame): DataFrame = {
    val byTerm = tfidfByTerm(docs)
    val wt = tfidfPostings(byTerm)
    // zero-norm docs (every capped shingle at idf_q = 0 — e.g. a term
    // present in ALL docs of a tiny corpus) are dropped HERE: their
    // cosine would be 0/0, where Spark's double→long floor-cast yields
    // 0 but DuckDB carries NaN (and NaN ranks ABOVE every number in
    // its ORDER BY) — the cross-engine split the ee9f900 degenerate-
    // division guards exist for. An all-zero vector has no direction,
    // so excluding it is the semantics, not a workaround.
    val nrm = wt.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm2"))
      .filter(col("nrm2") > 0)
    val pairs = byTerm
      .filter(size(col("ids")) > 1)
      .select(col("idf_q"), col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("idf_q"),
        explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
          b => when(col("a")("doc_id") < b("doc_id"),
            struct(col("a")("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
              (col("a")("tf") * b("tf")).as("tt")))
            .otherwise(
              struct(b("doc_id").as("doc_a"), col("a")("doc_id").as("doc_b"),
                (col("a")("tf") * b("tf")).as("tt"))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        (col("p.tt") * col("idf_q") * col("idf_q")).as("ww"))
    pairs.groupBy("doc_a", "doc_b")
      .agg(sum("ww").as("dot"), count(lit(1)).as("n_shared"))
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm2").as("na2")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm2").as("nb2")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (floor(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("cos"))
      .filter(col("cos") >= TfidfMinCos)
  }

  /** All C(6,3) = 20 index triples over the 6 signature blocks of
    * [[dedupTfidfSimhash]] — the Manku-et-al. table set: a pair within
    * hamming 3 has ≥ 3 clean blocks, so at least one triple matches.
    */
  private[graft] val SimhashBlockCombos: Seq[(Int, Int, Int)] =
    for (a <- 0 until 6; b <- (a + 1) until 6; c <- (b + 1) until 6)
      yield (a, b, c)

  /** Per-doc 60-bit weighted-SimHash signature as SIX 10-bit block
    * values `(doc_id, blk: array<long>[6])` — block j packs signature
    * bits 10j..10j+9, bit i = sign(Σ_shingles ±w) with the sign drawn
    * from md5-bit i of the shingle. ALL integer, so both engines build
    * bit-identical blocks. Shared by [[dedupTfidfSimhashOn]] and the
    * spec's hamming-guarantee check.
    */
  private[graft] def tfidfBlocks(wt: DataFrame): DataFrame = {
    // 60 hyperplane signs per shingle: 48 bits from md5 hex chars 1-12
    // plus 12 bits from chars 13-15 (exact BIGINT conversions in both
    // engines). Built as ONE codegen'd groupBy with 60 conditional
    // sums — the posting stream shuffles once at its own size. Two
    // rejected shapes, both measured: a per-posting array lambda runs
    // interpreted (11 s at sf0.1 — higher-order functions allocate a
    // 60-long array per step), and an explode of the 60 bit positions
    // multiplies the shuffle by 60 (156M rows at ×10 sf0.1 — 57 s).
    val hw = wt.select(col("doc_id"), col("w"),
      expr("CAST(conv(substring(md5(sh), 1, 12), 16, 10) AS BIGINT)").as("h1"),
      expr("CAST(conv(substring(md5(sh), 13, 3), 16, 10) AS BIGINT)").as("h2"))
    val sumCols = (0 until 60).map { i =>
      val bit = if (i < 48) s"(h1 >> $i) & 1" else s"(h2 >> ${i - 48}) & 1"
      sum(when(expr(s"($bit) = 1"), col("w")).otherwise(-col("w"))).as(s"s$i")
    }
    val sums = hw.groupBy("doc_id").agg(sumCols.head, sumCols.tail: _*)
    sums.select(col("doc_id"), array((0 until 6).map { j =>
      (0 until 10).map { t =>
        when(col(s"s${j * 10 + t}") > 0, lit(1L << t)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*).as("blk"))
  }

  /** The LINEAR SCALE FORM of [[dedupTfidf]]: WEIGHTED SimHash
    * (Charikar '02 hyperplane sketching with integer tf·idf weights)
    * under the Manku/Jain/Das Sarma WWW'07 block-permutation search —
    * a 60-bit signature in 6 blocks of 10 bits; every doc posts
    * [[SimhashBlockCombos]].size = 20 bucket keys (one per 3-block
    * combination, ~30-bit key space), a pair within HAMMING ≤ 3 has
    * ≥ 3 clean blocks so at least one key collides — the pigeonhole
    * GUARANTEE — and exact weighted cosine verifies only the
    * candidates (identical docs: hamming 0, every key collides).
    * Higher-hamming pairs surface best-effort; moderate-similarity
    * recall is [[dedupTfidf]]'s and [[dedupMinhash]]'s job — simhash
    * block search is the published design for the near-duplicate
    * regime (cos ≳ 0.99 ⇔ hamming ≲ 3 at 60 bits), which is what a
    * crawl dedup pass hunts. Scale: keys are ~30-bit (bucket
    * population ∝ N/2³⁰ per combo — no band floods at any corpus the
    * key width covers; widen blocks to scale further), candidates ∝
    * true near-dups + N²/2³⁰ noise, verify joins candidate-bounded —
    * never corpus².
    */
  def dedupTfidfSimhash(s: SparkSession, d: String): DataFrame =
    dedupTfidfSimhashOn(Tables.documents(s, d))

  /** [[dedupTfidfSimhash]] over any (doc_id, text) frame. */
  def dedupTfidfSimhashOn(docs: DataFrame): DataFrame = {
    import graft.core.Checkpoints.StableOps
    val byTerm = tfidfByTerm(docs)
    // the posting frame feeds FOUR consumers (norms, signatures, both
    // verify fetches) — materialize once or the tf/df chain re-runs
    // per consumer (measured 4×5 s at sf0.1 unpersisted)
    val wt = tfidfPostings(byTerm).stable
    // zero-norm docs (every capped shingle at idf_q = 0 — e.g. a term
    // present in ALL docs of a tiny corpus) are dropped HERE: their
    // cosine would be 0/0, where Spark's double→long floor-cast yields
    // 0 but DuckDB carries NaN (and NaN ranks ABOVE every number in
    // its ORDER BY) — the cross-engine split the ee9f900 degenerate-
    // division guards exist for. An all-zero vector has no direction,
    // so excluding it is the semantics, not a workaround.
    val nrm = wt.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm2"))
      .filter(col("nrm2") > 0)
    val sig = tfidfBlocks(wt)
    val keyed = sig.select(col("doc_id"), col("blk"),
      explode(array(SimhashBlockCombos.zipWithIndex.map {
        case ((a, b, c), i) =>
          lit(i.toLong) * lit(1L << 30) +
            element_at(col("blk"), a + 1) * lit(1L << 20) +
            element_at(col("blk"), b + 1) * lit(1L << 10) +
            element_at(col("blk"), c + 1)
      }: _*)).as("bucket"))
    val cand = keyed
      .groupBy("bucket")
      .agg(collect_list(struct(col("doc_id"), col("blk"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => when(col("a")("doc_id") < b("doc_id"),
          struct(col("a")("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
            col("a")("blk").as("blka"), b("blk").as("blkb")))
          .otherwise(
            struct(b("doc_id").as("doc_a"), col("a")("doc_id").as("doc_b"),
              b("blk").as("blka"), col("a")("blk").as("blkb"))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        (0 until 6).map(j => bit_count(element_at(col("p.blka"), j + 1)
          .bitwiseXOR(element_at(col("p.blkb"), j + 1)))).reduce(_ + _)
          .as("hamming"))
      .distinct()
    cand
      .join(wt.select(col("doc_id").as("doc_a"), col("sh"), col("w").as("wa")),
        "doc_a")
      .join(wt.select(col("doc_id").as("doc_b"), col("sh"), col("w").as("wb")),
        Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b", "hamming")
      .agg(sum(col("wa") * col("wb")).as("dot"), count(lit(1)).as("n_shared"))
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm2").as("na2")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm2").as("nb2")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("n_shared"),
        (floor(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("cos"))
      .filter(col("cos") >= TfidfMinCos)
      .orderBy(col("cos").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }

  // MinHash parameters: 48 universal hashes h_i(x) = (a_i x + b_i) mod P
  // over md5-derived shingle hashes (first 48 md5 bits mod P — the one
  // hash family both Spark and DuckDB compute bit-identically, which is
  // what puts this operator family under the driver oracle), banded
  // 16 × r3. The S-curve midpoint (1/b)^(1/r) = 16^-(1/3) ≈ 0.40 sits
  // well under the 0.6 jac threshold every consumer applies, so true
  // near-dups are found with near-certainty (a 0.68-jac pair misses
  // with p ≈ (1-0.68³)¹⁶ ≈ 0.002; the old 8×6 layout put the midpoint
  // at 0.71 and missed ~29% of such pairs) while distant pairs rarely
  // surface — and every candidate is exact-Jaccard-verified anyway, so
  // extra candidates cost time, never correctness. P = 2^31-1 (prime);
  // a_i odd so the family is well-spread. Deterministic → stable.
  private val P = 2147483647L
  private[graft] val NumHashes = 48
  private[graft] val Bands = 16
  private[graft] val RowsPerBand = 3
  private val hashA = array(Array.tabulate(NumHashes)(i => lit(2L * i + 1)).toIndexedSeq: _*)
  private val hashB = array(Array.tabulate(NumHashes)(i => lit((2654435761L * (i + 1)) % P)).toIndexedSeq: _*)

  /** MinHash + LSH banding near-dedup — the scale path: per doc compute
    * a 48-int signature (one pass over shingles), hash 16 bands of 3
    * rows into bucket keys, shuffle on (band, bucket); only docs
    * sharing a band bucket are paired, then verified with exact Jaccard
    * on their shingle sets. Cost ∝ docs + true-candidate pairs — never
    * n². Under the DuckDB hash gate (the md5/mod-P signature chain
    * reproduces in SQL — see [[minhashBucketsSql]]) AND spec'd by
    * DedupSpec against [[dedupNgram]] ground truth.
    */
  def dedupMinhash(s: SparkSession, d: String): DataFrame = {
    minhashPairs(Tables.documents(s, d))
  }

  /** Core MinHash pipeline over any (doc_id, text) DataFrame (spec
    * tests feed synthetic corpora here): top-50 report shape.
    */
  def minhashPairs(documents: DataFrame): DataFrame =
    minhashScored(documents)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
      .orderBy(col("jac").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)

  /** All MinHash candidate pairs with UNROUNDED exact-verified Jaccard —
    * the scale-path edge producer (candidates ∝ true near-dups, never
    * n²), mirroring [[ngramScored]]'s contract so
    * [[Cluster.dedupClusterMinhash]] can threshold on the same IEEE
    * double. No orderBy/limit: downstream consumers (clustering) need
    * every edge, and the sort would be a pointless global stage.
    */
  def minhashScored(documents: DataFrame): DataFrame =
    minhashScored(documents, 0.0)

  /** `minJac` > 0 enables the size-ratio candidate prune: J(A,B) <=
    * min(|A|,|B|)/max(|A|,|B|), so a pair whose shingle-set sizes are
    * more skewed than the threshold can never verify — it is dropped
    * BEFORE verification, on (id, size) rows alone. Output is
    * IDENTICAL to the unpruned form followed by `.filter(jac >=
    * minJac)`'s candidate set (the prune removes only sub-threshold
    * pairs), so every consumer oracle is unchanged; only the physical
    * verify volume shrinks. Callers that need the full unthresholded
    * edge list (dedup_minhash's top-50) use the 1-arg form.
    *
    * One shingle pass plus a late-materialised verify: the candidate
    * pass shingles every document once and carries only (id, size,
    * band bucket) through its shuffle; the verify re-reads the text of
    * the candidate documents alone and shingles those again
    * ([[verifyOverlap]]). Near-dup candidates touch a small share of
    * the corpus, so the corpus-wide shingle arrays never shuffle.
    */
  def minhashScored(documents: DataFrame, minJac: Double): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    val cand = minhashCandidates(
      docs.select(col("doc_id"), textShingles.as("sh")), minJac)
    jaccardOf(verifyOverlap(cand, docs, textShingles))
  }

  /** [[minhashScored]] over a precomputed `(doc_id, sh)` shingle frame
    * (see [[ngramScoredFromShingles]] — the composed pipeline's shared
    * shingle materialization feeds both edge-producer flavors). The
    * verify reads the candidates' sets from the same frame, so nothing
    * is shingled here.
    */
  def minhashScoredFromShingles(shingled: DataFrame, minJac: Double): DataFrame =
    jaccardOf(verifyOverlap(minhashCandidates(shingled, minJac), shingled, col("sh")))

  /** Distinct candidate pairs `(doc_a, doc_b)` of a `(doc_id, sh)`
    * frame, with the size-ratio prune of [[minhashScored]] applied
    * when `minJac` > 0.
    */
  private def minhashCandidates(shingled: DataFrame, minJac: Double): DataFrame = {
    val cand = minhashCandidateSizes(shingled)
    (if (minJac > 0.0) cand.filter(col("nmin").cast("double") >= lit(minJac) * col("nmax"))
     else cand).select("doc_a", "doc_b")
  }

  /** Exact overlap of every candidate pair: `(doc_a, doc_b, common, na,
    * nb)` for the pairs of `cand` (doc_a < doc_b), with `shingles`
    * evaluated over the rows of `sets` (keyed by `doc_id`). Each pair
    * fans out to its two endpoints, the endpoints join `sets` — a
    * broadcast join while either side fits, a shuffle join at scale,
    * picked by the planner and AQE — and the two shingle sets regroup
    * by pair. Only candidate documents are fetched, shingled and
    * shuffled: O(candidates), never O(corpus). Every consumer derives
    * values symmetric in the pair (counts, Jaccard, containment, b-bit
    * agreement), so the regroup needs no ordering; `sets` holds the
    * two regrouped sets for consumers that derive more from them.
    *
    * A doc_id repeated in `sets` would put more than two sets into a
    * group and silently score the wrong pair, so such a group fails
    * the job, naming the pair.
    */
  private def verifyOverlap(cand: DataFrame, sets: DataFrame, shingles: Column): DataFrame = {
    val n = size(col("sets"))
    cand.select(col("doc_a"), col("doc_b"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(sets, "doc_id")
      .select(col("doc_a"), col("doc_b"), shingles.as("sh"))
      .groupBy("doc_a", "doc_b")
      .agg(collect_list(col("sh")).as("sets"))
      .select(col("doc_a"), col("doc_b"),
        when(n === 2, col("sets")).otherwise(raise_error(concat(
          lit("verify pair (doc_a, doc_b) = ("), col("doc_a").cast("string"), lit(", "),
          col("doc_b").cast("string"), lit(") holds "), n.cast("string"),
          lit(" shingle sets, not 2: a doc_id repeats in the input")))).as("sets"))
      .select(col("doc_a"), col("doc_b"), col("sets"),
        size(array_intersect(col("sets")(0), col("sets")(1))).as("common"),
        size(col("sets")(0)).as("na"), size(col("sets")(1)).as("nb"))
  }

  /** Exact Jaccard over `(common, na, nb)` counts — [[verifyOverlap]]'s
    * and [[ngramScoredFull]]'s — the one IEEE expression the DuckDB
    * oracle reproduces.
    */
  private val jaccard: Column =
    col("common").cast("double") / (col("na") + col("nb") - col("common"))

  /** `(doc_a, doc_b, jac)` from [[verifyOverlap]]'s counts. */
  private def jaccardOf(overlap: DataFrame): DataFrame =
    overlap.select(col("doc_a"), col("doc_b"), jaccard.as("jac"))

  /** Distinct in-bucket candidate pairs `(doc_a, doc_b, nmin, nmax)`
    * from the LSH band buckets — the pre-verification pair stream every
    * minhash consumer refines. Input: `(doc_id, sh)` with an integral
    * `doc_id`; documents with an empty shingle set get no bucket and
    * never pair. A doc_id that repeats in the input pairs with itself,
    * so the verify's repeated-id guard sees it. Public as the
    * scale-curve diagnostic surface (the candidate count is the number
    * that must scale linearly with the corpus for the 100 TB claim to
    * hold — tools/ScaleCurve records it across a 10× step).
    */
  def minhashCandidateSizes(docs: DataFrame): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"minhash candidates need an integral doc_id, not $idType")
    // posexplode_OUTER: a plain posexplode makes InferFiltersFromGenerate
    // push `isnotnull(bks) AND size(bks)>0` through the projection into
    // the scan, re-evaluating the whole shingle+signature chain per row.
    // The outer variant infers nothing; an empty-set document (no
    // buckets) yields one null placeholder row, dropped by a filter that
    // sits on the generator's output, so nothing is pushed into the scan.
    val bands = docs
      .select(col("doc_id").cast("long").as("doc_id"), size(col("sh")).as("n"),
        MinHashBuckets.bucketsCol(col("sh")).as("bks"))
      .select(col("doc_id"), col("n"), posexplode_outer(col("bks")))
      .toDF("doc_id", "n", "band", "bucket")
      .filter(col("bucket").isNotNull)
    // The MapReduce grouping (partition by key, sort, scan adjacent
    // keys): one exchange on (band, bucket), then a sort of each
    // partition on one packed long key (band < 16, bucket < 2^31), which
    // sorts on its prefix alone (radix sort). Each run of equal keys is
    // one bucket; the scan buffers that run's (doc_id, n) and no other,
    // so the ~all single-document buckets cost one comparison each,
    // where a collect_list aggregate would build a buffer per bucket.
    // Hot buckets are exact-duplicate groups: k identical docs share
    // all 16 bands, so they still expand to 16·k(k−1)/2 pair rows before
    // the distinct — and Cluster.dedupKeepMinhash runs no exact-dedup
    // pass first. ROADMAP item 5 tracks collapsing exact copies before
    // banding; the scan only bounds memory to one run's ids.
    val key = shiftleft(col("band").cast("long"), 31).bitwiseOR(col("bucket"))
    val long = Encoders.scalaLong
    val int = Encoders.scalaInt
    bands
      .repartition(col("band"), col("bucket"))
      .sortWithinPartitions(key)
      .select(key, col("doc_id"), col("n"))
      .as(Encoders.tuple(long, long, int))
      .mapPartitions(rows => new RunPairs(rows))(Encoders.tuple(long, long, int, int))
      .select(col("_1").cast(idType).as("doc_a"), col("_2").cast(idType).as("doc_b"),
        col("_3").as("nmin"), col("_4").as("nmax"))
      .distinct()
  }

  /** The in-bucket pairs of one partition of `(key, doc_id, n)` rows
    * sorted by key: for each run of equal keys, every pair i < j of
    * the run as (least id, greatest id, least n, greatest n). Only the
    * current run is buffered, and its pairs are produced on demand.
    */
  private final class RunPairs(rows: Iterator[(Long, Long, Int)])
      extends Iterator[(Long, Long, Int, Int)] {
    private var head = if (rows.hasNext) rows.next() else null
    private var ids = new Array[Long](16)
    private var ns = new Array[Int](16)
    private var k = 0 // rows in the current run
    private var i = 0 // next pair: (i, j), i < j < k
    private var j = 1

    /** Loads the next run of at least two rows; false when none is left. */
    private def nextRun(): Boolean = {
      k = 0
      while (k < 2 && head != null) {
        k = 0
        val key = head._1
        while (head != null && head._1 == key) {
          if (k == ids.length) {
            ids = java.util.Arrays.copyOf(ids, 2 * k)
            ns = java.util.Arrays.copyOf(ns, 2 * k)
          }
          ids(k) = head._2
          ns(k) = head._3
          k += 1
          head = if (rows.hasNext) rows.next() else null
        }
      }
      i = 0
      j = 1
      k >= 2
    }

    override def hasNext: Boolean = j < k || nextRun()

    override def next(): (Long, Long, Int, Int) = {
      if (!hasNext) throw new NoSuchElementException("no more bucket pairs")
      val a = ids(i)
      val b = ids(j)
      val na = ns(i)
      val nb = ns(j)
      j += 1
      if (j == k) { i += 1; j = i + 1 }
      (math.min(a, b), math.max(a, b), math.min(na, nb), math.max(na, nb))
    }
  }

  /** LSH QUALITY AUDIT ([EXT] — "measure, don't guess"): one row
    * quantifying how well the MinHash+LSH candidate generator covers
    * exact near-dup ground truth at the jac ≥ 0.6 operating threshold
    * every cluster/keep consumer applies. Columns: `n_truth` (exact
    * capped-n-gram pairs at ≥ 0.6), `n_cand` (distinct pre-verify LSH
    * candidate pairs), `n_hit` (truth pairs surfaced as candidates),
    * `recall_pct` / `precision_pct` (hit share of truth / of
    * candidates, 2-dp floor). Recall tells you whether the 16×3 band
    * layout loses real duplicates; precision tells you how much exact
    * verification work the buckets waste — the two dials an operator
    * tunes before a 100 TB run.
    *
    * Scale design: both pair streams are the linear-ish producers the
    * repo already ships (capped-df exact pairs as the audit baseline;
    * LSH buckets for candidates — at 100 TB you'd run the audit on a
    * sampled slice, which is a WHERE on doc_id). The comparison itself
    * is one full-outer join on the pair key followed by a single
    * global-agg row — no new shuffle class. Determinism: counts are
    * integers; both engines divide the same small integers and floor
    * at 2 dp, so the hash gate applies end to end.
    */
  def dedupEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tau = 0.6
    val truth = ngramScored(docs).filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_t"))
    val cand = minhashCandidateSizes(nonEmptyShingles(docs))
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum("in_t").as("n_truth"), sum("in_c").as("n_cand"),
        sum(when(col("in_t") === 1 && col("in_c") === 1, 1L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        (floor(col("n_hit") * 10000 / col("n_truth")) / lit(100.0)).as("recall_pct"),
        (floor(col("n_hit") * 10000 / col("n_cand")) / lit(100.0)).as("precision_pct"))
  }

  /** Bottom-k sketch size and verify threshold for
    * [[dedupContainmentSketch]].
    */
  private[graft] val ContainK = 32
  private[graft] val ContainTau = 0.8

  /** CONTAINMENT at scale — the bottom-k sketch path promised by
    * [[dedupContainment]]'s contract: per doc keep the k = 32 SMALLEST
    * md5 shingle hashes (a bottom-k/KMV sketch — membership depends
    * only on the global hash ORDER, so sketches are deterministic
    * across partitionings and engines); docs sharing any sketch hash
    * become candidates (inverted index on the sketch, df-capped like
    * every bucket expansion here); candidates verify with EXACT
    * containment + Jaccard. Recall: a pair sharing m shingles is
    * GUARANTEED a candidate when |B| − k < m (fewer than m hashes can
    * miss B's bottom-k, so a shared one must land; in particular any
    * doc within k of its superset's size); beyond that the shared
    * MINIMUM hash has expected rank |B|/(m+1) in B, so a true excerpt
    * (m ≈ |A|) surfaces with high probability unless the superset is
    * ≫ k·|A| shingles — the regime where one raises k. DedupSpec
    * asserts the guaranteed regime and sf0.001 equality with the
    * exact form. Cost ∝ docs·k + true candidates — never n², and the
    * corpus is shingled once.
    */
  def dedupContainmentSketch(s: SparkSession, d: String): DataFrame =
    containmentSketchPairs(Tables.documents(s, d))

  /** Core sketch-candidates-then-verify containment pipeline. */
  def containmentSketchPairs(documents: DataFrame): DataFrame = {
    val docs = nonEmptyShingles(documents)
    val sk = docs.select(col("doc_id"),
      slice(array_sort(transform(col("sh"),
        x => conv(substring(md5(x), 1, 12), 16, 10).cast("long"))), 1, ContainK).as("sk"))
    val cand = sk.select(col("doc_id"), explode(col("sk")).as("h"))
      .groupBy("h")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= HotShingleCap)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => struct(least(col("a"), b).as("doc_a"),
          greatest(col("a"), b).as("doc_b")))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    verifyOverlap(cand, docs, col("sh"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / least(col("na"), col("nb"))).as("cont"),
        jaccard.as("jac"))
      .filter(col("cont") >= ContainTau)
      .select(col("doc_a"), col("doc_b"),
        round(col("cont"), 4).as("cont"), round(col("jac"), 4).as("jac"))
      .orderBy(col("cont").desc, col("jac").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }

  /** Test-set DECONTAMINATION: flag corpus documents that share any
    * word 3-gram with a benchmark/eval set — the n-gram-collision
    * filter a training pipeline runs before training so held-out
    * benchmarks don't leak into the corpus. Benchmark here = the
    * doc_id < 20 slice standing in for an eval set.
    *
    * Scale design: real benchmark sets are MBs against a 100 TB
    * corpus — the distinct benchmark-shingle set BROADCASTS, the
    * corpus is scanned once (shingled per row, never shuffled), and
    * the only shuffle is the final per-doc overlap count, which
    * partially aggregates map-side. Output: contaminated docs with
    * their distinct overlapping-shingle counts (shingle sets are
    * per-doc distinct, so count(*) counts distinct overlaps).
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = shingleDocs(s, d)
    val bench = sh.filter(col("doc_id") < 20)
      .select(explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull).distinct()
    val corpus = sh.filter(col("doc_id") >= 20)
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
    corpus.join(broadcast(bench), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The benchmark-side view of [[decontaminate]]: per held-out eval
    * doc, how many corpus docs share at least one shingle with it and
    * how many (shingle, corpus-doc) overlap pairs exist — the
    * "which benchmark items are compromised" report an eval-integrity
    * review reads (decontaminate lists the corpus docs to drop; this
    * ranks the eval items by exposure). Uncontaminated eval docs
    * appear with zero counts. Same plan shape: benchmark shingles
    * broadcast, corpus scanned once, per-bench-doc counts partially
    * aggregate map-side.
    */
  def decontaminateReport(s: SparkSession, d: String): DataFrame = {
    val sh = shingleDocs(s, d)
    val bench = sh.filter(col("doc_id") < 20)
      .select(col("doc_id").as("bench_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val corpus = sh.filter(col("doc_id") >= 20)
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val hits = corpus.join(broadcast(bench), "shingle")
      .groupBy("bench_id")
      .agg(countDistinct("doc_id").as("n_corpus_docs"),
        count(lit(1)).as("n_shingle_hits"))
    sh.filter(col("doc_id") < 20).select(col("doc_id").as("bench_id"))
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_shingle_hits"), lit(0L)).as("n_shingle_hits"))
  }

  /** INCREMENTAL ingest dedup: a new crawl batch (here the doc_id % 5
    * == 0 slice) arrives against an existing corpus (the rest); emit
    * only the batch docs whose exact text is NOT already in the corpus.
    * The standing operator of a continuously-fed pipeline — every
    * ingest round runs this before any near-dup pass.
    *
    * Scale design: both sides reduce to 32-byte sha256 digests before
    * any join (the text never shuffles). The corpus side additionally
    * collapses to DISTINCT digests — the anti-join's build input is
    * |unique corpus docs| hashes, not raw rows. At 100 TB the corpus
    * hash set is still far too big to broadcast, so this is a shuffle
    * anti-join on the digest — ~32 B/row network, the same cost class
    * as [[dedupExact]]'s one shuffle. The standard production upgrade
    * (a persisted bloom filter over corpus digests that prefilters the
    * batch map-side, so only bloom-positive rows reach the anti-join)
    * is exactly what [[graft.plans.InjectRuntimeFilter]] injects at
    * plan time for shuffle joins — asserted in RuntimeFilterSpec; the
    * semantics here stay the exact anti-join either way.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalNew(batch = docs.filter(col("doc_id") % 5 === 0),
      corpus = docs.filter(col("doc_id") % 5 =!= 0))
  }

  /** Core of [[dedupIncremental]] over any (doc_id, text) sides: batch
    * docs whose exact text is not in `corpus`, as (doc_id, text_hash).
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(sha2(col("text"), 256).as("text_hash")).distinct()
    batch.select(col("doc_id"), sha2(col("text"), 256).as("text_hash"))
      .join(corpusHashes, Seq("text_hash"), "left_anti")
      .select(col("doc_id"), col("text_hash"))
  }

  /** [[dedupIncremental]] with the production bloom prefilter made
    * EXPLICIT (the "persisted bloom filter over corpus digests" upgrade
    * the doc above describes): build a [[graft.functions.BloomAggregator]]
    * filter over the corpus digests (map-side partials, word-wise-OR
    * merge, ONE m/8-byte row to the driver), probe every batch row
    * map-side with the codegen'd [[graft.functions.BloomMightContain]],
    * and send ONLY bloom-positive rows into the exact anti-join.
    * Bloom guarantees no false negatives, so bloom-negative rows are
    * definitely new and bypass the join; false positives are killed by
    * the anti-join — the result is EXACTLY [[dedupIncremental]]'s
    * (same oracle SQL gates both).
    *
    * Scale design: at 100 TB the filter is ~1.2 B/corpus-doc —
    * broadcastable where the digest set itself is not — and the
    * anti-join's probe side shrinks from |batch| to
    * |true dups| + ~1% FPR of the rest; the corpus-side shuffle still
    * happens once here (it builds the filter), but a STANDING ingest
    * pipeline persists the filter across rounds, amortizing it to
    * zero. The filter is sized from one corpus count (bounded scalar
    * action) at 9.6 bits/key, k=7 ⇒ ~1% FPR.
    */
  def dedupIncrementalBloom(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{BloomAggregator, BloomMightContain}
    import s.implicits._
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val n = corpus.count() // bounded: one scalar, sizes the filter
    // Sizing stays in Long, clamped to the largest word-aligned filter
    // a JVM long[] can hold: past ~223M corpus keys the per-key bit
    // budget (and so the FPR) degrades gracefully instead of the Int
    // wrap mis-sizing (or crashing) the build; correctness never
    // depends on the FPR — the anti-join verify is exact either way.
    val maxBits = (Int.MaxValue.toLong / 64L) * 64L
    val numBits =
      math.min(maxBits, math.max(1024L, ((n * 96L / 10L + 63L) / 64L) * 64L)).toInt
    val k = 7
    val words = corpus
      .select(xxhash64(sha2(col("text"), 256)).as("h")).as[Long]
      .select(BloomAggregator.sketch(numBits, k)).head()
    val probed = batch
      .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"))
      .withColumn("maybe",
        BloomMightContain.probe(xxhash64(col("text_hash")), words, k))
      .stable // probe once; both branches below reuse the materialization
    val corpusHashes =
      corpus.select(sha2(col("text"), 256).as("text_hash")).distinct()
    probed.filter(!col("maybe")).select("doc_id", "text_hash")
      .union(
        probed.filter(col("maybe")).select("doc_id", "text_hash")
          .join(corpusHashes, Seq("text_hash"), "left_anti")
          .select("doc_id", "text_hash"))
  }

  /** Jaccard threshold for [[similarityJoin]] (mirrored in the oracle
    * SQL's HAVING).
    */
  val SimJoinTau = 0.5

  /** EXACT set-similarity self-join (AllPairs/PPJoin-family prefix
    * filtering, Bayardo et al. WWW'07): ALL document pairs with shingle
    * Jaccard >= tau — no sampling, no hashing approximation, no df cap.
    * This is the exact scale path between the two existing extremes:
    * [[ngramPairs]] (quadratic baseline, df-capped) and
    * [[minhashPairs]] (linear but probabilistic).
    *
    * Prefix filter: order every doc's shingles by a GLOBAL rarity order
    * (document frequency asc, shingle asc) and keep only the first
    * n - ceil(tau·n) + 1 as its "prefix". Lemma: J(A,B) >= tau implies
    * |A∩B| >= ceil(tau·|A|) (from J >= tau and |B| >= |A∩B|), and two
    * sets whose sorted prefixes are disjoint can share at most
    * (|A| - prefix_A) < ceil(tau·|A|) elements — so every qualifying
    * pair shares at least one PREFIX shingle, and joining on prefix
    * shingles alone loses nothing. Exactness is why no HotShingleCap
    * applies here; the rarity-first order is the load-bounding lever
    * instead — candidate buckets group by the RAREST shingles, so hot
    * boilerplate n-grams (the k²/2 hazard) never become join keys
    * unless they sit inside some doc's prefix, which rarity ordering
    * makes vanishingly unlikely. The in-bucket size-ratio filter
    * (nb >= ceil(tau·na) — necessary for J >= tau) prunes hopeless
    * pairs before they are ever materialized.
    *
    * Plan: explode once; df via one shingle-keyed agg; per-doc rank via
    * a doc_id-partitioned window; candidates via the group-per-shingle
    * two-stage O(k) expansion (ngramScored's shape); verify via the
    * shared [[verifyOverlap]] regroup. Every stage is linear in corpus
    * + candidate volume.
    */
  def dedupSimilarityJoin(s: SparkSession, d: String): DataFrame =
    similarityJoin(Tables.documents(s, d), SimJoinTau)

  /** Core of [[dedupSimilarityJoin]] over any (doc_id, text) DataFrame:
    * (doc_a, doc_b, jac rounded to 4) for every pair with exact
    * Jaccard >= tau.
    */
  def similarityJoin(documents: DataFrame, tau: Double): DataFrame = {
    val docs = nonEmptyShingles(documents)
    val ex = docs.select(col("doc_id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("shingle"))
    jaccardOf(verifyOverlap(ssjCandidates(ssjPrefix(ex, tau), tau), docs, col("sh")))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
  }

  /** Prefix stage of [[similarityJoin]] over an exploded
    * (doc_id, nsh, shingle) stream: rank each doc's shingles by global
    * rarity and keep the n - ceil(tau·n) + 1 prefix. df via agg +
    * join-back, NOT a shingle-partitioned window count: the agg
    * partial-aggregates map-side so only |distinct shingles| rows
    * shuffle, and AQE size-picks the join-back (broadcast while the df
    * table fits, shuffle join at web scale) — a window count would
    * force the full exploded stream through a by-shingle exchange
    * unconditionally. (private[graft]: also driven stage-by-stage by
    * the ProfileSim dev harness.)
    */
  private[graft] def ssjPrefix(ex: DataFrame, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    ex.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("nsh") - ceil(lit(tau) * col("nsh")) + 1)
  }

  /** Candidate stage of [[similarityJoin]]: group prefix tokens,
    * expand in-bucket pairs two-stage (O(k) per-row memory), with two
    * in-bucket prunes — both necessary conditions for J >= tau, so
    * exactness holds. Size-ratio filter: min >= ceil(tau*max).
    * PPJoin's positional filter: a match via the token at rarity
    * position ra in A and rb in B caps the total overlap at
    * 1 + min(na-ra, nb-rb), which must reach the overlap lower bound
    * alpha = ceil(tau/(1+tau)*(na+nb)). For a qualifying pair the
    * FIRST common prefix token's occurrence always passes, so keeping
    * pairs where ANY occurrence passes loses nothing.
    */
  private[graft] def ssjCandidates(prefix: DataFrame, tau: Double): DataFrame =
    prefix.groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("nsh"), col("rk"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(filter(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => when(col("a")("doc_id") < b("doc_id"),
          struct(col("a")("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
            col("a")("nsh").as("na"), b("nsh").as("nb"),
            col("a")("rk").as("ra"), b("rk").as("rb")))
          .otherwise(
            struct(b("doc_id").as("doc_a"), col("a")("doc_id").as("doc_b"),
              b("nsh").as("na"), col("a")("nsh").as("nb"),
              b("rk").as("ra"), col("a")("rk").as("rb")))),
        p => least(p("na"), p("nb")) >= ceil(lit(tau) * greatest(p("na"), p("nb"))) &&
          lit(1) + least(p("na") - p("ra"), p("nb") - p("rb")) >=
            ceil(lit(tau / (1 + tau)) * (p("na") + p("nb"))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** NEAR-DUP incremental ingest: the MinHash+LSH face of
    * [[dedupIncremental]] — batch docs that are near-duplicates
    * (verified Jaccard >= tau) of any corpus doc are dropped too, not
    * just byte-identical ones. Pipeline order mirrors production:
    * exact digest anti-join first (also catches <3-word docs that have
    * no shingles), then the MinHash candidate pass over the exact
    * survivors only. Emits the surviving genuinely-new batch docs as
    * (doc_id, text_hash) — the same contract as dedup_incremental.
    *
    * Scale design: candidates come from an equi-join of the two sides'
    * (band, bucket) tables — co-partitioned shuffle, linear in rows.
    * Unlike the intra-corpus case (where a hot bucket explodes k²/2
    * pairs and forced the group+expand rewrite), cross-side bucket
    * fan-out is |batch∩bucket| × |corpus∩bucket| and the batch factor
    * is tiny by construction in incremental ingest; a deduped corpus
    * (dedup_keep output) keeps the corpus factor near 1. Verification
    * joins fetch shingle sets by doc id — both sides hash-partition
    * the same prepared subplan, so each side is shingled once.
    * Intra-batch duplicates are deliberately NOT collapsed here — that
    * is [[dedupMinhash]]/[[Cluster.dedupKeepMinhash]]'s job on the
    * batch itself; this operator answers only "new vs corpus".
    */
  def dedupIncrementalMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalNearNew(batch = docs.filter(col("doc_id") % 5 === 0),
      corpus = docs.filter(col("doc_id") % 5 =!= 0), tau = 0.6)
  }

  /** Core of [[dedupIncrementalMinhash]]: batch docs that are neither
    * exact nor near (verified Jaccard >= tau) duplicates of any corpus
    * doc.
    */
  def incrementalNearNew(batch: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    // exactNew feeds both the survivors semi-join and the final
    // anti-join — materialize once or the corpus-wide digest+distinct
    // pipeline behind it runs twice (the re-run hazard pagerankOf and
    // dedupKeepCentralFrom checkpoint against). Size is the new-doc
    // slice: (doc_id, 32-byte digest) rows only.
    val exactNew = incrementalNew(batch, corpus).stable
    val survivors = batch.join(exactNew.select("doc_id"), Seq("doc_id"), "left_semi")
    val nearDupIds = minhashCrossScored(survivors, corpus)
      .filter(col("jac") >= tau)
      .select("doc_id").distinct()
    exactNew.join(nearDupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text_hash"))
  }

  /** Cross-side MinHash candidates with exact-verified Jaccard: for
    * each batch doc, the corpus docs sharing at least one LSH band
    * bucket, scored. (doc_id = batch side, dup_of = corpus side.)
    */
  def minhashCrossScored(batch: DataFrame, corpus: DataFrame): DataFrame = {
    def prep(df: DataFrame, idAs: String): DataFrame =
      nonEmptyShingles(df).select(col("doc_id").as(idAs), col("sh"))
    def bandsOf(df: DataFrame, idc: String): DataFrame = df
      .select(col(idc), MinHashBuckets.bucketsCol(col("sh")).as("bks"))
      .select(col(idc), posexplode_outer(col("bks")))
      .toDF(idc, "band", "bucket")
    val b = prep(batch, "doc_id")
    val c = prep(corpus, "dup_of")
    val cand = bandsOf(b, "doc_id").join(bandsOf(c, "dup_of"), Seq("band", "bucket"))
      .select("doc_id", "dup_of").distinct()
    cand
      .join(b.select(col("doc_id"), col("sh").as("sa")), "doc_id")
      .join(c.select(col("dup_of"), col("sh").as("sb")), "dup_of")
      .select(col("doc_id"), col("dup_of"),
        size(array_intersect(col("sa"), col("sb"))).as("common"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("doc_id"), col("dup_of"), jaccard.as("jac"))
  }

  /** 63-bit SimHash per document: per word, an md5-derived hash
    * (hi = first-32-md5-bits mod 2^31, lo = next 32 bits,
    * h = hi·2^32 + lo — always positive, so BOTH engines stay inside
    * signed-BIGINT arithmetic and the operator sits under the DuckDB
    * oracle); per bit, sum ±1 weighted by occurrences; simhash bit
    * i = sign of sum. Emitted as the non-negative long plus candidate
    * pairs within Hamming ≤ 12, found by 4×16-bit chunk collision
    * (pigeonhole: Hamming ≤ 3 guarantees a chunk match; larger radii
    * are best-effort). Word-frequency-driven, so near-identical docs
    * collide.
    */
  def simhashSql(textCol: String): String = {
    val hs = s"transform(filter(split($textCol, '[^\\\\p{L}]+'), w -> length(w) > 0)," +
      " w -> CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % 2147483648L" +
      " * 4294967296L + CAST(conv(substring(md5(w), 9, 8), 16, 10) AS BIGINT))"
    s"""aggregate($hs,
       |  array_repeat(CAST(0 AS BIGINT), 63),
       |  (acc, h) -> transform(acc, (a, i) -> a + IF((h >> i) & 1 = 1, 1L, -1L)),
       |  acc -> aggregate(transform(acc, (a, i) -> IF(a > 0, shiftleft(CAST(1 AS BIGINT), i), 0L)),
       |                   CAST(0 AS BIGINT), (s, x) -> s + x))""".stripMargin
  }

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(simhashSql("text")).as("simhash"))
    // posexplode_outer: keeps InferFiltersFromGenerate from substituting
    // the 63-bit simhash aggregate into a pushed-down scan filter (the
    // chunk array is built from literals and simhash — never null/empty).
    val chunks = docs.select(col("doc_id"), col("simhash"),
      posexplode_outer(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc_id", "simhash", "chunk", "ckey")
    // Candidate pairs via group-by-(chunk,ckey) + two-stage O(k)
    // expansion, as in ngramScored (minhashCandidateSizes groups its
    // buckets by a sorted run scan instead). The exploded chunk stream
    // shuffles exactly ONCE (the old self-join shuffled it twice and
    // materialized O(k²) join output per hot bucket); the simhash rides
    // along in the bucket structs, so the verdict needs no join back to
    // the docs at all — the whole operator is one shuffle plus the final
    // top-50 sort.
    val cand = chunks
      .groupBy("chunk", "ckey")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => when(col("a")("doc_id") < b("doc_id"),
          struct(col("a")("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
            col("a")("simhash").as("ha"), b("simhash").as("hb")))
          .otherwise(
            struct(b("doc_id").as("doc_a"), col("a")("doc_id").as("doc_b"),
              b("simhash").as("ha"), col("a")("simhash").as("hb"))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.ha").as("ha"), col("p.hb").as("hb"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= 12)
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }

  /** LSH bucket diagnostics ([EXT]) — the operational skew profile of
    * the MinHash banding layout: per band, the bucket count, docs
    * hashed, the LARGEST bucket (the hot key that dominates in-bucket
    * pair expansion at scale), singleton share, and the candidate-
    * pair budget Σ k(k−1)/2. This is the dashboard a 100 TB dedup run
    * watches before launching the pair verify — a runaway max bucket
    * means a degenerate band (boilerplate shingles) and quadratic
    * work ahead.
    *
    * Scale shape: one signature pass (the same chain every minhash
    * query shares), one groupBy(band, bucket) whose output is
    * bucket-bounded, then a Bands-row rollup.
    */
  def dedupBucketStats(s: SparkSession, d: String): DataFrame = {
    val bkt = nonEmptyShingles(Tables.documents(s, d))
      .select(col("doc_id"), posexplode_outer(MinHashBuckets.bucketsCol(col("sh"))))
      .toDF("doc_id", "band", "bucket")
    bkt.groupBy("band", "bucket").agg(count(lit(1)).as("k"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum("k").as("n_docs"),
        max("k").as("max_bucket_size"),
        sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(expr("k * (k - 1) div 2")).as("n_candidate_pairs"))
  }

  /** N-gram novelty profile ([EXT]) — per document, the share of its
    * distinct word 3-grams that appear in NO earlier document (by
    * doc_id ingest order): the marginal-contribution curve a curator
    * reads to find where a crawl stops adding new content (novelty
    * collapse = the scrape is re-crawling). Deduplication's
    * measurement twin: dedup asks "is this a copy", novelty asks
    * "how much of it is new".
    *
    * Scale shape: one shingle pass (the shared native expression), a
    * min-aggregation per shingle (first-occurrence owner), and one
    * digest-keyed join back — text never shuffles twice. Docs with
    * no shingles (< 3 tokens) are excluded by construction.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val ex = shingleDocs(s, d)
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val firstDoc = ex.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    ex.join(firstDoc, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000000L div n_shingles").as("novelty_micro"))
  }

  /** Cross-source duplication matrix ([EXT]) — the provenance
    * question behind every dedup run: which sources share verbatim
    * content with which. For every source pair, the count of exact
    * digests present in BOTH, each side's distinct-digest count, and
    * the digest-set Jaccard in micro. Mirror-site detection, license
    * laundering, and pipeline-echo diagnosis all read this matrix.
    *
    * Scale shape: digest-only — one (source, sha2) distinct frame,
    * one digest-keyed self-join halved by source order (per-digest
    * fan-out bounded by the source count), |sources|²-cell output.
    */
  def dedupCrossSource(s: SparkSession, d: String): DataFrame = {
    val dg = Tables.documents(s, d)
      .select(col("source"), sha2(col("text"), 256).as("dg")).distinct()
      .persist()
    val sizes = dg.groupBy("source").agg(count(lit(1)).as("n_digests"))
    val inter = dg.join(dg.select(col("source").as("source_b"),
        col("dg").as("dg2")),
        col("dg") === col("dg2") && col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // full pair spine: zero-overlap pairs are part of the report (an
    // empty matrix and a clean corpus must look different)
    val spine = sizes.select(col("source").as("source_a"),
        col("n_digests").as("n_digests_a"))
      .join(sizes.select(col("source").as("source_b"),
        col("n_digests").as("n_digests_b")),
        col("source_a") < col("source_b"))
    val out = spine
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_digests_a"), col("n_digests_b"))
      .withColumn("jaccard_micro",
        expr("n_shared * 1000000L div (n_digests_a + n_digests_b - n_shared)"))
    val collected = graft.core.Checkpoints.stable(out)
    dg.unpersist(false)
    collected
  }

  /** Pairwise verbatim overlap between SOURCES at SHINGLE granularity
    * — the asymmetric-containment companion to [[dedupCrossSource]]'s
    * whole-doc digest matrix and source_divergence_js's
    * distributional one: partial reuse (syndication, quoting, shared
    * boilerplate families) never collides whole-doc hashes and only
    * blurs token distributions, but it lights up here. For each
    * ORDERED pair (a, b): containment = |shingles(a) ∩ shingles(b)| /
    * |shingles(a)| — asymmetric by design (a wire service is
    * contained in its republishers, not vice versa).
    *
    * Scale shape: shingles hash to md5 at the scan (the cross-engine
    * digest convention — text never shuffles); ONE distinct over
    * (source, digest); the intersection comes from a per-digest
    * collect_set(source) whose size is bounded by |sources| (the
    * dimension, not the corpus), exploded to ordered pairs; the
    * output is the |sources|² matrix.
    */
  def sourceOverlapShingles(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("source"), explode_outer(textShingles).as("g"))
      .filter(col("g").isNotNull)
      .select(col("source"), md5(col("g")).as("sd"))
      .distinct()
      .persist()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val inter = sh.groupBy("sd").agg(collect_set(col("source")).as("ss"))
      .select(explode(col("ss")).as("source_a"), col("ss"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
    // full ordered-pair spine: zero-overlap pairs stay in the report
    val spine = sizes.select(col("source").as("source_a"),
        col("n_shingles").as("n_shingles_a"))
      .join(sizes.select(col("source").as("source_b")),
        col("source_a") =!= col("source_b"))
    val out = spine
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_shingles_a"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("containment_micro",
        floor(col("n_shared").cast("double") * 1e6 / col("n_shingles_a")
          + lit(0.5)).cast("long"))
    val collected = graft.core.Checkpoints.stable(out)
    sh.unpersist(false)
    collected
  }

  /** b-bit MinHash (Li & König 2010, b = 1): keep only the LOWEST BIT
    * of each of the [[NumHashes]] signature minima, packed into ONE
    * int64 mask — a 48× smaller sketch than the full int signature
    * (the storage/bandwidth regime the paper targets: at 100 TB the
    * resident sketch store shrinks from 384 B to 8 B per doc, and the
    * pair comparison is a single XOR + popcount instead of 48 int
    * compares). Estimator (paper Thm 1 with b = 1, near-symmetric
    * sets): E[bit agreement] = ½ + R/2, so R̂ = max(0, 2·(m/48) − 1).
    * Candidates come from the SAME LSH band buckets as
    * [[minhashScored]] (full signatures route, 1-bit codes compare),
    * and the exact verified Jaccard is emitted next to the estimate —
    * the output is the estimator's own calibration report. Everything
    * is md5/mod-P/bit arithmetic → full DuckDB hash gate.
    */
  def dedupMinhashBbit(s: SparkSession, d: String): DataFrame =
    dedupMinhashBbitOn(Tables.documents(s, d))

  /** Core of [[dedupMinhashBbit]] over any (doc_id, text) frame. */
  def dedupMinhashBbitOn(documents: DataFrame): DataFrame = {
    val docs = nonEmptyShingles(documents)
    // the bucket fold minus the band finish: the raw 48 minima of `sh`,
    // then the low bit of each, MSB-first → bit j weighs 2^(47-j)
    def mask(sh: Column): Column = aggregate(
      transform(aggregate(
        transform(sh, x => conv(substring(md5(x), 1, 12), 16, 10).cast("long") % P),
        array_repeat(lit(P), NumHashes),
        (acc, h) => zip_with(acc,
          zip_with(hashA, hashB, (a, b) => (a * h + b) % P),
          (x, y) => least(x, y))), v => pmod(v, lit(2L))),
      lit(0L), (a, b) => a * 2 + b)
    verifyOverlap(minhashCandidateSizes(docs).select("doc_a", "doc_b"), docs, col("sh"))
      .select(col("doc_a"), col("doc_b"),
        (lit(NumHashes) - bit_count(mask(col("sets")(0)).bitwiseXOR(mask(col("sets")(1)))))
          .as("bit_matches"),
        jaccard.as("jac"))
      .select(col("doc_a"), col("doc_b"), col("bit_matches").cast("long").as("bit_matches"),
        round(greatest(lit(0.0),
          lit(2.0) * col("bit_matches") / NumHashes - 1.0), 4).as("jac_bbit"),
        round(col("jac"), 4).as("jac"))
      .orderBy(col("jac").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_bbit" -> dedupMinhashBbit,
    "dedup_cross_source" -> dedupCrossSource,
    "source_overlap_shingles" -> sourceOverlapShingles,
    "ngram_novelty" -> ngramNovelty,
    "dedup_bucket_stats" -> dedupBucketStats,
    "dedup_exact" -> dedupExact,
    "dedup_savings" -> dedupSavings,
    "dedup_ngram" -> dedupNgram,
    "dedup_tfidf" -> dedupTfidf,
    "dedup_tfidf_simhash" -> dedupTfidfSimhash,
    "dedup_eval" -> dedupEval,
    "dedup_containment" -> dedupContainment,
    "dedup_containment_sketch" -> dedupContainmentSketch,
    "dedup_minhash" -> dedupMinhash,
    "dedup_simhash" -> dedupSimhash,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_bloom" -> dedupIncrementalBloom,
    "dedup_incremental_minhash" -> dedupIncrementalMinhash,
    "join_similarity" -> dedupSimilarityJoin,
    "decontaminate" -> decontaminate,
    "decontaminate_report" -> decontaminateReport)

  // ---- DuckDB oracle fragments for the MinHash family ---------------
  // The whole signature pipeline is md5-derived + mod-P integer
  // arithmetic (see graft.functions.MinHashBuckets), so DuckDB
  // reproduces every bucket bit-for-bit and the entire family sits
  // under the driver's hash gate. These fragments are COMPOSED by string concatenation (never
  // nested stripMargin — an embedded line starting with '|' would be
  // eaten by an outer stripMargin).

  /** `sh(doc_id, shingles)` CTE text over a doc-shaped relation —
    * the same 3-gram letters-only distinct shingle definition every
    * dedup oracle inlines.
    */
  /** CTE chain `dt, scored` over [[tfidfWtSqlCtes]]'s `wt`/`nrm` —
    * `scored(doc_a, doc_b)` is the thresholded weighted edge set
    * ([[tfidfScoredOn]]'s pairs), the composable edge producer the
    * weighted keep oracle chains into the recursive CC. Pre-stripped.
    */
  private[queries] def tfidfScoredSqlCtes: String =
    s"""dt AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
       |  FROM wt a JOIN wt b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_a, doc_b
       |  FROM dt JOIN nrm na ON dt.doc_a = na.doc_id
       |    JOIN nrm nb ON dt.doc_b = nb.doc_id
       |  WHERE floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE))
       |    * sqrt(CAST(nb.nrm2 AS DOUBLE))) * 1e6 + 0.5) / 1e6
       |    >= $TfidfMinCos)""".stripMargin

  /** `(c, x, y, z)` VALUES rows mirroring [[SimhashBlockCombos]]. */
  private[queries] def simhashCombosSql: String =
    SimhashBlockCombos.zipWithIndex
      .map { case ((a, b, c), i) => s"($i, $a, $b, $c)" }.mkString(", ")

  /** CTE chain `wsx, g, tf, nd, dfs, wt, nrm` — the tf·idf weighted
    * posting space (3-gram multiplicity counts, df-capped, 1e-4
    * quantized idf, integer weights w = tf·idf_q, per-doc norms) —
    * shared by `dedup_tfidf` and `dedup_tfidf_simhash`. Pre-stripped
    * (no margin pipes) so it can interpolate into an outer
    * stripMargin without being eaten.
    */
  private[queries] def tfidfWtSqlCtes: String =
    s"""wsx AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM wsx WHERE len(ws) >= 3),
       |tf AS (SELECT doc_id, sh, CAST(least(count(*), $TfClamp) AS BIGINT) AS tf
       |       FROM g GROUP BY 1, 2),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |dfs AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |wt AS (
       |  SELECT tf.doc_id, tf.sh,
       |    tf.tf * CAST(floor(ln((nd.n_docs + 1.0) / (dfs.df + 1.0)) * 1e4
       |      + 0.5) AS BIGINT) AS w
       |  FROM tf JOIN dfs USING (sh) CROSS JOIN nd
       |  WHERE dfs.df <= $HotShingleCap),
       |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nrm2
       |        FROM wt GROUP BY 1 HAVING sum(w * w) > 0)""".stripMargin

  private[queries] def shSqlOver(src: String): String =
    s"""sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(w) - 2),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
       |    ELSE [] END AS shingles
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0) AS w
       |        FROM $src))""".stripMargin

  /** CTE chain `shm, mh, sig, bkt` — md5 shingle hashes → NumHashes-row
    * minimum signature → Bands polynomial band buckets per doc,
    * assuming a `sh(doc_id, shingles)` CTE is in scope. Constants
    * mirror [[graft.functions.MinHashBuckets]] exactly:
    * m = first-48-md5-bits mod P,
    * h_j = ((2j+1)m + (2654435761(j+1) mod P)) mod P, bucket_b =
    * ((b+1)·31^r + Σ_k sig_{rb+k}·31^(r-1-k)) mod P (the closed form
    * of the seeded ·31 fold; DuckDB sums in HUGEINT so nothing wraps).
    */
  private[queries] def minhashBucketsSql: String = {
    def pow31(e: Int): Long = Seq.fill(e)(31L).product
    val powCase = (0 until RowsPerBand - 1)
      .map(k => s"WHEN $k THEN ${pow31(RowsPerBand - 1 - k)}")
      .mkString(" ")
    s"""shm AS MATERIALIZED (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
       |mh AS (SELECT doc_id,
       |         CAST(('0x' || substr(md5(sg), 1, 12))::UBIGINT % 2147483647 AS BIGINT) AS m
       |       FROM (SELECT doc_id, unnest(shingles) AS sg FROM shm)),
       |sig AS (SELECT doc_id, js.j,
       |          min(((2 * js.j + 1) * m + (2654435761 * (js.j + 1)) % 2147483647)
       |              % 2147483647) AS mn
       |        FROM mh CROSS JOIN (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS j) js
       |        GROUP BY doc_id, js.j),
       |bkt AS MATERIALIZED (
       |  SELECT doc_id, band,
       |    CAST(((band + 1) * ${pow31(RowsPerBand)} +
       |          sum(mn * (CASE j % $RowsPerBand $powCase
       |                    ELSE 1 END))) % 2147483647 AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, j // $RowsPerBand AS band, j, mn FROM sig)
       |  GROUP BY doc_id, band)""".stripMargin
  }

  /** CTE chain `mcand, scored(doc_a, doc_b, jac)` — in-bucket candidate
    * pairs verified with exact Jaccard, reproducing [[minhashScored]];
    * assumes `shm` and `bkt` in scope. `threshold` appends the jac
    * gate the cluster-family consumers apply.
    */
  private[queries] def minhashScoredSql(threshold: Option[Double] = None): String = {
    val thr = threshold.map(t => s"\n  WHERE jac >= $t").getOrElse("")
    s"""mcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM bkt x JOIN bkt y
       |            ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |      / (len(a.shingles) + len(b.shingles)
       |         - len(list_intersect(a.shingles, b.shingles))) AS jac
       |  FROM mcand
       |  JOIN shm a ON a.doc_id = doc_a
       |  JOIN shm b ON b.doc_id = doc_b$thr)""".stripMargin
  }

  /** Full edge-producer prefix `sh … scored` over `documents` — the
    * composable head of every minhash-family oracle (cluster, keep,
    * kcore, triangle twins append their own suffixes).
    */
  private[queries] def minhashEdgesSql(threshold: Option[Double]): String =
    shSqlOver("documents") + ",\n" + minhashBucketsSql + ",\n" +
      minhashScoredSql(threshold)

  def oracleSql: Map[String, String] = Map(
    "dedup_minhash_bbit" ->
      ("WITH " + shSqlOver("documents") + ",\n" + minhashBucketsSql + ",\n" +
        minhashScoredSql(None) + ",\n" +
        s"""bmask AS (
           |  SELECT doc_id,
           |    CAST(sum((mn % 2) * (CAST(1 AS BIGINT) << CAST(47 - j AS INTEGER)))
           |      AS BIGINT) AS mask
           |  FROM sig GROUP BY doc_id)
           |SELECT doc_a, doc_b,
           |  CAST($NumHashes - bit_count(xor(a.mask, b.mask)) AS BIGINT)
           |    AS bit_matches,
           |  round(greatest(0.0,
           |    2.0 * ($NumHashes - bit_count(xor(a.mask, b.mask)))
           |      / $NumHashes - 1.0), 4) AS jac_bbit,
           |  round(jac, 4) AS jac
           |FROM scored JOIN bmask a ON a.doc_id = doc_a
           |JOIN bmask b ON b.doc_id = doc_b
           |ORDER BY round(jac, 4) DESC, doc_a ASC, doc_b ASC
           |LIMIT 50""".stripMargin),
    "source_overlap_shingles" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, md5(g) AS sd
        |  FROM (SELECT source, unnest(
        |      CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |        generate_series(1, len(w) - 2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |      ELSE [] END) AS g
        |    FROM (SELECT source,
        |            list_filter(string_split_regex(text, '[^\p{L}]+'),
        |                        x -> len(x) > 0) AS w
        |          FROM documents))),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |          FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM sh a JOIN sh b ON a.sd = b.sd AND a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS source_a, sb.source AS source_b,
        |  sa.n AS n_shingles_a,
        |  coalesce(i.n_shared, 0) AS n_shared,
        |  CAST(floor(CAST(coalesce(i.n_shared, 0) AS DOUBLE) * 1e6 / sa.n
        |    + 0.5) AS BIGINT) AS containment_micro
        |FROM sizes sa JOIN sizes sb ON sa.source <> sb.source
        |LEFT JOIN inter i
        |  ON i.source_a = sa.source AND i.source_b = sb.source""".stripMargin,
    "dedup_cross_source" ->
      """WITH dg AS (
        |  SELECT DISTINCT source, sha256(text) AS dg FROM documents),
        |sizes AS (SELECT source, count(*) AS n_digests FROM dg GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM dg a JOIN dg b ON b.dg = a.dg AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS source_a, sb.source AS source_b,
        |  CAST(coalesce(i.n_shared, 0) AS BIGINT) AS n_shared,
        |  sa.n_digests AS n_digests_a, sb.n_digests AS n_digests_b,
        |  CAST(coalesce(i.n_shared, 0) * 1000000
        |    // (sa.n_digests + sb.n_digests - coalesce(i.n_shared, 0))
        |    AS BIGINT) AS jaccard_micro
        |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
        |LEFT JOIN inter i
        |  ON i.source_a = sa.source AND i.source_b = sb.source""".stripMargin,
    "ngram_novelty" ->
      ("WITH " + shSqlOver("documents") + ",\n" +
        """ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh
          |        WHERE len(shingles) > 0),
          |fd AS (SELECT shingle, min(doc_id) AS first_doc
          |       FROM ex GROUP BY shingle)
          |SELECT e.doc_id, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN fd.first_doc = e.doc_id THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_novel,
          |  CAST(sum(CASE WHEN fd.first_doc = e.doc_id THEN 1 ELSE 0 END)
          |    * 1000000 // count(*) AS BIGINT) AS novelty_micro
          |FROM ex e JOIN fd USING (shingle)
          |GROUP BY e.doc_id""".stripMargin),
    "dedup_bucket_stats" ->
      ("WITH " + shSqlOver("documents") + ",\n" + minhashBucketsSql + ",\n" +
        """cells AS (SELECT band, bucket, count(*) AS k
          |          FROM bkt GROUP BY 1, 2)
          |SELECT CAST(band AS BIGINT) AS band,
          |  count(*) AS n_buckets,
          |  CAST(sum(k) AS BIGINT) AS n_docs,
          |  CAST(max(k) AS BIGINT) AS max_bucket_size,
          |  CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_singletons,
          |  CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_candidate_pairs
          |FROM cells GROUP BY band""".stripMargin),
    "dedup_minhash" ->
      ("WITH " + minhashEdgesSql(None) + "\n" +
        """SELECT doc_a, doc_b, round(jac, 4) AS jac FROM scored
          |ORDER BY jac DESC, doc_a, doc_b LIMIT 50""".stripMargin),
    "dedup_eval" ->
      ("WITH " + shSqlOver("documents") + ",\n" + minhashBucketsSql + ",\n" +
        """mcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          |          FROM bkt x JOIN bkt y
          |            ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
          |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
          |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
          |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
          |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
          |pairs AS (
          |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
          |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |  GROUP BY 1, 2),
          |truth AS (
          |  SELECT doc_a, doc_b FROM pairs
          |  JOIN sizes sa ON sa.doc_id = doc_a
          |  JOIN sizes sb ON sb.doc_id = doc_b
          |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
          |f AS (
          |  SELECT coalesce(t.in_t, 0) AS in_t, coalesce(c.in_c, 0) AS in_c
          |  FROM (SELECT doc_a, doc_b, 1 AS in_t FROM truth) t
          |  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_c FROM mcand) c
          |    USING (doc_a, doc_b))
          |SELECT CAST(sum(in_t) AS BIGINT) AS n_truth,
          |  CAST(sum(in_c) AS BIGINT) AS n_cand,
          |  CAST(sum(CASE WHEN in_t = 1 AND in_c = 1 THEN 1 END) AS BIGINT) AS n_hit,
          |  floor(sum(CASE WHEN in_t = 1 AND in_c = 1 THEN 1 END) * 10000.0
          |        / sum(in_t)) / 100.0 AS recall_pct,
          |  floor(sum(CASE WHEN in_t = 1 AND in_c = 1 THEN 1 END) * 10000.0
          |        / sum(in_c)) / 100.0 AS precision_pct
          |FROM f""".stripMargin),
    "dedup_incremental_minhash" ->
      ("WITH " + shSqlOver("documents") + ",\n" + minhashBucketsSql + ",\n" +
        """exact_new AS (
          |  SELECT b.doc_id, sha256(b.text) AS text_hash
          |  FROM documents b
          |  WHERE b.doc_id % 5 = 0
          |    AND NOT EXISTS (SELECT 1 FROM documents c
          |                    WHERE c.doc_id % 5 <> 0
          |                      AND sha256(c.text) = sha256(b.text))),
          |bb AS (SELECT bkt.doc_id, band, bucket
          |       FROM bkt JOIN exact_new USING (doc_id)),
          |cb AS (SELECT doc_id, band, bucket FROM bkt WHERE doc_id % 5 <> 0),
          |xc AS (SELECT DISTINCT bb.doc_id, cb.doc_id AS dup_of
          |       FROM bb JOIN cb ON bb.band = cb.band AND bb.bucket = cb.bucket),
          |near AS (
          |  SELECT DISTINCT xc.doc_id
          |  FROM xc
          |  JOIN shm a ON a.doc_id = xc.doc_id
          |  JOIN shm b ON b.doc_id = xc.dup_of
          |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          |        / (len(a.shingles) + len(b.shingles)
          |           - len(list_intersect(a.shingles, b.shingles))) >= 0.6)
          |SELECT doc_id, text_hash FROM exact_new
          |WHERE doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin),
    "dedup_exact" ->
      """SELECT sha256(text) AS text_hash, count(*) AS n_copies,
        |  min(doc_id) AS keeper
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    "dedup_savings" ->
      """WITH g AS (
        |  SELECT sha256(text) AS text_hash, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes,
        |    max(n_chars) AS per_doc
        |  FROM documents GROUP BY 1)
        |SELECT count(*) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_groups,
        |  CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(bytes) AS BIGINT) AS total_chars,
        |  CAST(sum((n - 1) * per_doc) AS BIGINT) AS chars_saved
        |FROM g""".stripMargin,
    // 63-bit md5-derived simhash (see simhashSql): per-word
    // h = (first32 mod 2^31)·2^32 + next32, ±1 per bit, sign →
    // simhash; candidates via 4×16-bit chunk collision. Docs with no
    // words get simhash 0 (the Spark aggregate over an empty array),
    // hence the LEFT JOIN re-attach.
    "dedup_simhash" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '[^\p{L}]+'),
        |                       x -> len(x) > 0)) AS w
        |  FROM documents),
        |wh AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(w), 1, 8))::UBIGINT % 2147483648 AS BIGINT)
        |           * 4294967296
        |         + CAST(('0x' || substr(md5(w), 9, 8))::UBIGINT AS BIGINT) AS h
        |       FROM words),
        |bits AS (SELECT doc_id, i.i,
        |           sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 62)) AS i) i
        |         GROUP BY doc_id, i.i),
        |sim AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
        |               AS BIGINT) AS simhash
        |        FROM bits GROUP BY doc_id),
        |sim0 AS (SELECT d.doc_id, coalesce(sim.simhash, 0) AS simhash
        |         FROM documents d LEFT JOIN sim USING (doc_id)),
        |ch AS (SELECT doc_id, simhash, c.c AS chunk,
        |         (simhash >> (c.c * 16)) & 65535 AS ckey
        |       FROM sim0 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) c),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |           x.simhash AS ha, y.simhash AS hb
        |         FROM ch x JOIN ch y
        |           ON x.chunk = y.chunk AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 12
        |ORDER BY hamming, doc_a, doc_b LIMIT 50""".stripMargin,
    "dedup_tfidf" ->
      s"""WITH $tfidfWtSqlCtes,
        |dt AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(sum(a.w * b.w) AS BIGINT) AS dot,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM wt a JOIN wt b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT doc_a, doc_b, n_shared,
        |    floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE))
        |      * sqrt(CAST(nb.nrm2 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS cos
        |  FROM dt JOIN nrm na ON dt.doc_a = na.doc_id
        |    JOIN nrm nb ON dt.doc_b = nb.doc_id)
        |SELECT doc_a, doc_b, n_shared, cos
        |FROM (SELECT *, row_number() OVER (ORDER BY cos DESC, doc_a ASC,
        |        doc_b ASC) AS rk
        |      FROM sc WHERE cos >= $TfidfMinCos)
        |WHERE rk <= 50""".stripMargin,
    "dedup_tfidf_simhash" ->
      s"""WITH $tfidfWtSqlCtes,
        |wh AS (
        |  SELECT doc_id, w,
        |    CAST(('0x' || substr(md5(sh), 1, 12))::UBIGINT AS BIGINT) AS h1,
        |    CAST(('0x' || substr(md5(sh), 13, 3))::UBIGINT AS BIGINT) AS h2
        |  FROM wt),
        |bits AS (SELECT doc_id, i.i,
        |           CASE WHEN sum(CASE WHEN (CASE WHEN i.i < 48 THEN (h1 >> i.i)
        |                 ELSE (h2 >> (i.i - 48)) END) & 1 = 1
        |               THEN w ELSE -w END) > 0 THEN 1 ELSE 0 END AS b
        |         FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) i
        |         GROUP BY doc_id, i.i),
        |blk AS (SELECT doc_id, CAST(i // 10 AS INTEGER) AS bno,
        |          CAST(sum(CAST(b AS BIGINT) << (i % 10)) AS BIGINT) AS v
        |        FROM bits GROUP BY doc_id, i // 10),
        |combos(c, x, y, z) AS (VALUES $simhashCombosSql),
        |bkt AS (SELECT bx.doc_id,
        |          CAST(cm.c AS BIGINT) * 1073741824 + bx.v * 1048576
        |            + by_.v * 1024 + bz.v AS bucket
        |        FROM combos cm
        |        JOIN blk bx ON bx.bno = cm.x
        |        JOIN blk by_ ON by_.doc_id = bx.doc_id AND by_.bno = cm.y
        |        JOIN blk bz ON bz.doc_id = bx.doc_id AND bz.bno = cm.z),
        |cand AS (SELECT DISTINCT xx.doc_id AS doc_a, yy.doc_id AS doc_b
        |         FROM bkt xx JOIN bkt yy
        |           ON xx.bucket = yy.bucket AND xx.doc_id < yy.doc_id),
        |ham AS (SELECT cand.doc_a, cand.doc_b,
        |          CAST(sum(bit_count(xor(ba.v, bb.v))) AS INTEGER) AS hamming
        |        FROM cand JOIN blk ba ON ba.doc_id = cand.doc_a
        |          JOIN blk bb ON bb.doc_id = cand.doc_b AND bb.bno = ba.bno
        |        GROUP BY 1, 2),
        |dt AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |    CAST(sum(a.w * b.w) AS BIGINT) AS dot,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM cand JOIN wt a ON a.doc_id = cand.doc_a
        |    JOIN wt b ON b.doc_id = cand.doc_b AND b.sh = a.sh
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT dt.doc_a, dt.doc_b, ham.hamming, n_shared,
        |    floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE))
        |      * sqrt(CAST(nb.nrm2 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS cos
        |  FROM dt JOIN ham ON ham.doc_a = dt.doc_a AND ham.doc_b = dt.doc_b
        |    JOIN nrm na ON dt.doc_a = na.doc_id
        |    JOIN nrm nb ON dt.doc_b = nb.doc_id)
        |SELECT doc_a, doc_b, hamming, n_shared, cos
        |FROM (SELECT *, row_number() OVER (ORDER BY cos DESC, doc_a ASC,
        |        doc_b ASC) AS rk
        |      FROM sc WHERE cos >= $TfidfMinCos)
        |WHERE rk <= 50""".stripMargin,
    "dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common), 4) AS jac
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |ORDER BY jac DESC, doc_a, doc_b LIMIT 50""".stripMargin,
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / least(sa.nsh, sb.nsh), 4) AS cont,
        |  round(CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common), 4) AS jac
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(common AS DOUBLE) / least(sa.nsh, sb.nsh) >= 0.8
        |ORDER BY cont DESC, jac DESC, doc_a, doc_b LIMIT 50""".stripMargin,
    "dedup_containment_sketch" ->
      ("WITH " + shSqlOver("documents") + ",\n" +
        s"""shm AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
           |hs AS (SELECT doc_id,
           |         CAST(('0x' || substr(md5(sg), 1, 12))::UBIGINT AS BIGINT) AS h
           |       FROM (SELECT doc_id, unnest(shingles) AS sg FROM shm)),
           |sk AS (SELECT doc_id, h FROM (
           |         SELECT doc_id, h,
           |           row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
           |         FROM hs)
           |       WHERE rn <= $ContainK),
           |ok AS (SELECT h FROM sk GROUP BY h
           |       HAVING count(*) > 1 AND count(*) <= $HotShingleCap),
           |skf AS (SELECT sk.doc_id, sk.h FROM sk JOIN ok USING (h)),
           |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |         FROM skf x JOIN skf y
           |           ON x.h = y.h AND x.doc_id < y.doc_id),
           |v AS (
           |  SELECT doc_a, doc_b,
           |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |      / least(len(a.shingles), len(b.shingles)) AS cont,
           |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |      / (len(a.shingles) + len(b.shingles)
           |         - len(list_intersect(a.shingles, b.shingles))) AS jac
           |  FROM cand
           |  JOIN shm a ON a.doc_id = doc_a
           |  JOIN shm b ON b.doc_id = doc_b)
           |SELECT doc_a, doc_b, round(cont, 4) AS cont, round(jac, 4) AS jac
           |FROM v WHERE cont >= $ContainTau
           |ORDER BY cont DESC, jac DESC, doc_a, doc_b LIMIT 50""".stripMargin),
    "join_similarity" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common), 4) AS jac
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.5""".stripMargin,
    "dedup_incremental" ->
      """SELECT b.doc_id, sha256(b.text) AS text_hash
        |FROM documents b
        |WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 5 <> 0
        |                    AND sha256(c.text) = sha256(b.text))""".stripMargin,
    // The bloom prefilter is an exact-result optimization (no false
    // negatives + anti-join verify), so the SAME SQL gates it.
    "dedup_incremental_bloom" ->
      """SELECT b.doc_id, sha256(b.text) AS text_hash
        |FROM documents b
        |WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 5 <> 0
        |                    AND sha256(c.text) = sha256(b.text))""".stripMargin,
    "decontaminate_report" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |bench AS (SELECT doc_id AS bench_id, unnest(shingles) AS shingle
        |          FROM sh WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, unnest(shingles) AS shingle
        |           FROM sh WHERE doc_id >= 20),
        |hits AS (
        |  SELECT b.bench_id, count(DISTINCT c.doc_id) AS n_corpus_docs,
        |    count(*) AS n_shingle_hits
        |  FROM corpus c JOIN bench b USING (shingle)
        |  GROUP BY b.bench_id)
        |SELECT s.doc_id AS bench_id,
        |  CAST(coalesce(h.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
        |  CAST(coalesce(h.n_shingle_hits, 0) AS BIGINT) AS n_shingle_hits
        |FROM sh s LEFT JOIN hits h ON h.bench_id = s.doc_id
        |WHERE s.doc_id < 20""".stripMargin,
    "decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id >= 20)
        |SELECT doc_id, count(*) AS n_hits
        |FROM corpus JOIN bench USING (shingle)
        |GROUP BY doc_id""".stripMargin)
}
