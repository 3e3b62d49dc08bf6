package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD'03 — the MOSS algorithm) and the near-dup detector built on
  * them. Winnowing selects, from the rolling k-gram hash stream, the
  * RIGHTMOST MINIMUM of every w-hash window — guaranteeing at least
  * one shared fingerprint for any match of length ≥ w+k-1 while
  * keeping ~2/(w+1) of positions. Unlike MinHash (set-level Jaccard),
  * winnowed fingerprints are POSITIONAL: they localize where the
  * overlap is, which is what plagiarism/provenance tooling needs.
  *
  * Hashes are the md5-derived 48-bit values this repo standardizes on
  * (functions/MinHashBuckets.scala): `conv(substr(md5(g),1,12),16,10)`
  * reproduces bit-for-bit in DuckDB as
  * `('0x' || substr(md5(g),1,12))::BIGINT` — so the whole selection,
  * including the tie rule, sits under the driver's hash-compare gate.
  *
  * Scale design: everything up to the final pair join is per-document
  * and linear (tokenize once, one window pass, a within-doc join-back
  * whose fan-out is the constant w). The pair stage joins on
  * fingerprint value with the same df-cap guard as dedup_ngram —
  * candidate volume is Σ df², bounded by the cap, never |docs|².
  */
object Winnow {

  private val K = 3  // k-gram size (shared with the dedup_ngram family)
  private[graft] val W = 4  // winnowing window: guarantee t = W + K - 1 = 6 tokens
  private val DfCap = 128   // hot-fingerprint guard (dedup_ngram's cap)
  private val MinCommon = 3 // pair emission floor

  private def toks(c: Column): Column =
    filter(split(c, "[^\\p{L}]+"), w => length(w) > 0)

  /** (doc_id, pos, h): rolling k-gram 48-bit hashes, pos 1-based. */
  private def grams(s: SparkSession, d: String): DataFrame = {
    val w = toks(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= K)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (K - 1)),
        i => struct(i.as("pos"),
          conv(substring(md5(concat_ws(" ",
            element_at(col("w"), i), element_at(col("w"), i + 1),
            element_at(col("w"), i + 2))), 1, 12), 16, 10)
            .cast("long").as("h")))).as("g"))
      // pos as long: DuckDB's generate_series unnests to BIGINT and the
      // driver's compare is type-sensitive
      .select(col("doc_id"), col("g.pos").cast("long").as("pos"), col("g.h").as("h"))
  }

  /** Selected fingerprints: for every full window of W consecutive
    * hashes, the rightmost minimum. Two passes: (1) a window-function
    * min + count over [pos, pos+W-1] marks each FULL window's minimum
    * value; (2) a within-doc range join picks the rightmost position
    * carrying that value (SQL window frames can't nest an argmax, and
    * the join-back fan-out is the constant W). DISTINCT collapses the
    * overlapping windows that elect the same position.
    */
  def winnowed(s: SparkSession, d: String): DataFrame = {
    val g = grams(s, d).cache()
    val fwd = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, W - 1)
    val wins = g
      .withColumn("mnv", min("h").over(fwd))
      .withColumn("nfull", count(lit(1)).over(fwd))
      .filter(col("nfull") === W) // only full windows select
      .select(col("doc_id"), col("pos").as("j"), col("mnv"))
    val g2 = g.select(col("doc_id").as("d2"), col("pos").as("p2"), col("h").as("h2"))
    wins.join(g2,
        col("doc_id") === col("d2") && col("p2").between(col("j"), col("j") + (W - 1)) &&
          col("h2") === col("mnv"))
      .drop("d2")
      .groupBy(col("doc_id"), col("j"))
      .agg(max("p2").as("pos"), first("mnv").as("fp"))
      .select("doc_id", "pos", "fp").distinct()
  }

  /** Registry form: the winnowed fingerprint set, one row per selected
    * (doc, position). Density ~2/(W+1) of k-gram positions.
    */
  def fingerprintWinnow(s: SparkSession, d: String): DataFrame =
    winnowed(s, d)

  /** Near-dup pairs by shared winnowed fingerprints: distinct fp per
    * doc, df-capped self-join, pairs with ≥ MinCommon common
    * fingerprints scored by containment
    * (common / min(|fp_a|, |fp_b|)). Top 50 under a total order.
    */
  def dedupWinnow(s: SparkSession, d: String): DataFrame = {
    // ride the NATIVE map-only selection (zero exchanges, no window
    // sort / W-fan-out join-back; WinnowSpec pins it row-identical to
    // the windowed form, which stays registered as fingerprint_winnow)
    // — the pair stage only consumes the distinct (doc_id, fp) set
    val fps = fingerprintWinnowNative(s, d).select("doc_id", "fp").distinct().cache()
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val ok = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap).select("fp")
    val f = fps.join(ok, "fp")
    val a = f.select(col("fp"), col("doc_id").as("doc_a"))
    val b = f.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, "fp").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .filter(col("common") >= MinCommon)
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("nfp", "nfp_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("nfp", "nfp_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("common"),
        round(col("common").cast("double") / least(col("nfp_a"), col("nfp_b")), 4)
          .as("overlap"))
      .orderBy(col("overlap").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }

  /** The same selection through the NATIVE [[graft.functions
    * .WinnowSelect]] expression: per-doc gram-hash ARRAY (no explode),
    * one sequential rightmost-min scan per document, positions
    * exploded after selection. MAP-ONLY — zero exchanges vs the
    * windowed form's shuffle-sort + join-back (WinnowSpec asserts
    * plan shape and row identity; the driver gate runs it against the
    * identical oracle SQL).
    */
  def fingerprintWinnowNative(s: SparkSession, d: String): DataFrame = {
    val w = toks(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= K)
      .select(col("doc_id"), transform(
        sequence(lit(1), size(col("w")) - (K - 1)),
        i => conv(substring(md5(concat_ws(" ",
          element_at(col("w"), i), element_at(col("w"), i + 1),
          element_at(col("w"), i + 2))), 1, 12), 16, 10).cast("long")).as("hs"))
      .select(col("doc_id"), col("hs"),
        explode(graft.functions.WinnowSelect.selectCol(col("hs"))).as("pos"))
      .select(col("doc_id"), col("pos"),
        element_at(col("hs"), col("pos").cast("int")).as("fp"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fingerprint_winnow" -> fingerprintWinnow,
    "fingerprint_winnow_native" -> fingerprintWinnowNative,
    "dedup_winnow" -> dedupWinnow)

  def oracleSql: Map[String, String] = base +
    ("fingerprint_winnow_native" -> base("fingerprint_winnow"))

  private lazy val base: Map[String, String] = Map(
    "fingerprint_winnow" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, g.i AS pos,
        |    CAST(('0x' || substr(md5(w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2]), 1, 12))
        |      AS BIGINT) AS h
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
        |  WHERE len(w) >= 3),
        |wins AS (
        |  SELECT doc_id, pos AS j,
        |    min(h) OVER fwd AS mnv, count(*) OVER fwd AS nfull
        |  FROM grams
        |  WINDOW fwd AS (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
        |sel AS (
        |  SELECT w.doc_id, w.j, max(g2.pos) AS pos, w.mnv AS fp
        |  FROM wins w JOIN grams g2
        |    ON g2.doc_id = w.doc_id AND g2.pos BETWEEN w.j AND w.j + 3
        |   AND g2.h = w.mnv
        |  WHERE w.nfull = 4
        |  GROUP BY w.doc_id, w.j, w.mnv)
        |SELECT DISTINCT doc_id, pos, fp FROM sel""".stripMargin,
    "dedup_winnow" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, g.i AS pos,
        |    CAST(('0x' || substr(md5(w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2]), 1, 12))
        |      AS BIGINT) AS h
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
        |  WHERE len(w) >= 3),
        |wins AS (
        |  SELECT doc_id, pos AS j,
        |    min(h) OVER fwd AS mnv, count(*) OVER fwd AS nfull
        |  FROM grams
        |  WINDOW fwd AS (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
        |sel AS (
        |  SELECT w.doc_id, w.j, max(g2.pos) AS pos, w.mnv AS fp
        |  FROM wins w JOIN grams g2
        |    ON g2.doc_id = w.doc_id AND g2.pos BETWEEN w.j AND w.j + 3
        |   AND g2.h = w.mnv
        |  WHERE w.nfull = 4
        |  GROUP BY w.doc_id, w.j, w.mnv),
        |fps AS (SELECT DISTINCT doc_id, fp FROM sel),
        |sizes AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY 1),
        |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 128),
        |f AS (SELECT fps.doc_id, fps.fp FROM fps JOIN ok USING (fp)),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT doc_a, doc_b, common,
        |  round(CAST(common AS DOUBLE) / least(sa.nfp, sb.nfp), 4) AS overlap
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |ORDER BY overlap DESC, doc_a ASC, doc_b ASC
        |LIMIT 50""".stripMargin)
}
