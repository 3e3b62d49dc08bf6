package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Preference-pair construction ([EXT]) — the chosen/rejected pair
  * miner a DPO/RLHF data pipeline runs over a scored corpus: within
  * each source, rank documents by the composite quality score and
  * pair rank k with rank n−k+1 (best with worst, second-best with
  * second-worst …), keeping pairs whose quality margin clears a
  * floor so near-ties never become training signal.
  *
  * Exactness: quality is the 1e-4-quantized composite from
  * quality_score; margins are recovered as exact integer 1e-4 units
  * (floor(q·1e4+0.5) on both sides), so ranks, pairing, and the
  * margin filter are integer-deterministic.
  *
  * Scale shape: one tokenize pass for the scores, two per-source
  * rank windows over score cells, one same-source join on the
  * mirrored rank. Window input is the corpus — partitioned by
  * source, the mixture designer's natural shard key.
  */
object Preference {

  /** Minimum quality margin in 1e-4 units (0.05). */
  val MarginMinE4 = 500L

  def preferencePairs(s: SparkSession, d: String): DataFrame = {
    val q = TextOps.qualityScore(s, d).select(col("doc_id"), col("quality"))
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"),
        floor(col("quality") * 10000 + lit(0.5)).cast("long").as("q_e4"))
    // per-source (rank, size) via the ScalableRank grouped rank —
    // sources are few and populations huge, so a per-source window
    // partition would serialize each source on one core.
    // checkpointed: the mirror-rank self-join reads it twice, and the
    // tokenize+score pass behind it is the query's whole cost
    val ranked = graft.core.ScalableRank
      .groupedRank(q, "source", "rk", "n",
        col("q_e4").desc, col("doc_id").asc).stable
    val top = ranked.select(col("source"), col("rk"), col("n"),
      col("doc_id").as("chosen_id"), col("q_e4").as("q_chosen_e4"))
    val bot = ranked.select(col("source"),
      (col("n") - col("rk") + 1).as("rk"),
      col("doc_id").as("rejected_id"), col("q_e4").as("q_rejected_e4"))
    val out = top.join(bot, Seq("source", "rk"))
      .filter(col("rk") * 2 < col("n") + 1) // strict upper half only
      .filter(col("q_chosen_e4") - col("q_rejected_e4") >= MarginMinE4)
      .select(col("source"), col("rk").as("pair_rank"), col("chosen_id"),
        col("rejected_id"), col("q_chosen_e4"), col("q_rejected_e4"),
        (col("q_chosen_e4") - col("q_rejected_e4")).as("margin_e4"))
      .stable
    ranked.unpersist(false)
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "preference_pairs" -> preferencePairs)

  def oracleSql: Map[String, String] = Map(
    "preference_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    list_filter(string_split_regex(text, '[^\\p{L}]+'),
         |                x -> len(x) > 0) AS ws
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |    CAST(len(ws) AS DOUBLE) AS n_tokens,
         |    CAST(len(list_filter(ws, x -> list_contains(
         |      ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) AS nstop,
         |    CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
         |      AS DOUBLE) AS punct,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM t),
         |q AS (
         |  SELECT doc_id, source,
         |    CAST(floor((floor(((nstop / n_tokens) * 0.4
         |        + least(n_tokens / 100.0, 1.0) * 0.3
         |        + (1.0 - punct / n_chars) * 0.3) * 10000 + 0.5) / 10000.0)
         |      * 10000 + 0.5) AS BIGINT) AS q_e4
         |  FROM m),
         |ranked AS (
         |  SELECT doc_id, source, q_e4,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY q_e4 DESC, doc_id ASC) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM q)
         |SELECT a.source, a.rk AS pair_rank, a.doc_id AS chosen_id,
         |  b.doc_id AS rejected_id, a.q_e4 AS q_chosen_e4,
         |  b.q_e4 AS q_rejected_e4, a.q_e4 - b.q_e4 AS margin_e4
         |FROM ranked a JOIN ranked b
         |  ON b.source = a.source AND b.rk = a.n - a.rk + 1
         |WHERE a.rk * 2 < a.n + 1
         |  AND a.q_e4 - b.q_e4 >= $MarginMinE4""".stripMargin)
}
