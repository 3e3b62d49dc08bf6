package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** k-nearest-neighbor operators over the embedding table [EXT] —
  * the two serving-side uses of exact cosine retrieval that the ANN
  * family ([[Similarity]]) does not yet expose as first-class ops:
  *
  *  - `knn_classify`: majority-vote k-NN classification of a
  *    held-out query set against the labeled corpus — the standard
  *    "label new data by its neighbors" weak-supervision /
  *    auto-labeling pass (and the evaluation harness for embedding
  *    quality: k-NN accuracy is THE linear-probe-free metric).
  *  - `mnn_pairs`: mutual-nearest-neighbor pair mining with the
  *    Artetxe & Schwenk '19 margin criterion — the bitext-mining
  *    recipe (CCMatrix/LASER): split the corpus into two pools,
  *    take each side's top-1 across the divide, keep pairs that
  *    choose each other, score by how far the best neighbor stands
  *    above the next three.
  *
  * Determinism: neighbor ranking is (cos DESC, vec_id ASC) — the
  * ann_cosine convention. Votes are integer counts with a
  * (votes DESC, label ASC) tie-break. Margins are computed on
  * PER-NEIGHBOR micro-quantized cosines (floor(cos·1e6 + 0.5))
  * and folded as 3·top1 − (top2+top3+top4) — pure integer
  * arithmetic, no float summation order anywhere.
  *
  * Scale design: the query/divide sides broadcast (fixed-size query
  * set; top-1 frames are |pool|-bounded with 3 longs per row); the
  * corpus is scanned once per retrieval. At 100 TB the exact scan
  * becomes the IVF/LSH route the registry already ships — these
  * operators define the semantics the approximate paths must hit.
  */
object Knn {

  private val K = 7
  private val MarginTop = 4

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(a, b)

  /** vec_id, label, v (double[]), nrm — local twin of
    * Similarity.vecs keeping the label column.
    */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Majority-vote k-NN (k=7) for the held-out queries (vec_id % 10
    * = 0) against the rest. Columns: query_id, true_label,
    * pred_label, votes, correct.
    */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val nn = all.filter(col("vec_id") % 10 =!= 0)
      .join(broadcast(q), lit(true))
      .select(col("query_id"), col("true_label"), col("vec_id"), col("label"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
    val wv = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label").asc)
    nn.groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"),
        when(col("label") === col("true_label"), 1L).otherwise(0L).as("correct"))
  }

  /** Mutual-top-1 pairs across the even/odd vec_id divide with the
    * integer margin 3·cq1 − (cq2+cq3+cq4) on each side. Columns:
    * id_a (even), id_b (odd), fwd_margin3, bwd_margin3.
    */
  def mnnPairs(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val a = all.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = all.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val scored = b.join(broadcast(a), lit(true))
      .select(col("id_a"), col("id_b"),
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb"))
          * 1000000 + lit(0.5)).cast("long").as("cq"))
    def top1Margin(part: String, other: String): DataFrame = {
      val w = Window.partitionBy(part).orderBy(col("cq").desc, col(other).asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= MarginTop)
        .groupBy(col(part))
        .agg(
          max(when(col("rn") === 1, col(other))).as(s"${part}_nn"),
          (lit(3) * max(when(col("rn") === 1, col("cq")))
            - sum(when(col("rn") > 1, col("cq")))).as(s"${part}_margin3"))
    }
    val fwd = top1Margin("id_a", "id_b")
      .select(col("id_a"), col("id_a_nn").as("id_b"),
        col("id_a_margin3").as("fwd_margin3"))
    val bwd = top1Margin("id_b", "id_a")
      .select(col("id_b"), col("id_b_nn").as("id_a"),
        col("id_b_margin3").as("bwd_margin3"))
    fwd.join(bwd, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("fwd_margin3"), col("bwd_margin3"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_classify" -> knnClassify,
    "mnn_pairs" -> mnnPairs)

  def oracleSql: Map[String, String] = Map(
    "knn_classify" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |             CAST(embedding AS DOUBLE[]) AS v,
         |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[]))) AS nrm
         |           FROM embeddings),
         |nn AS (
         |  SELECT q.vec_id AS query_id, q.label AS true_label,
         |    c.vec_id, c.label,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC,
         |               c.vec_id) AS rn
         |  FROM e c JOIN e q ON q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
         |votes AS (
         |  SELECT query_id, true_label, label, count(*) AS votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY count(*) DESC, label ASC) AS vr
         |  FROM nn WHERE rn <= $K
         |  GROUP BY query_id, true_label, label)
         |SELECT query_id, true_label, label AS pred_label, votes,
         |  CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT)
         |    AS correct
         |FROM votes WHERE vr = 1""".stripMargin,
    "mnn_pairs" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[]))) AS nrm
         |           FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
         |      * 1000000 + 0.5) AS BIGINT) AS cq
         |  FROM e a JOIN e b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
         |fr AS (SELECT id_a, id_b, cq, row_number() OVER (PARTITION BY id_a
         |         ORDER BY cq DESC, id_b ASC) AS rn FROM scored),
         |fwd AS (
         |  SELECT id_a, max(CASE WHEN rn = 1 THEN id_b END) AS id_b,
         |    3 * max(CASE WHEN rn = 1 THEN cq END)
         |      - CAST(sum(CASE WHEN rn > 1 THEN cq END) AS BIGINT)
         |      AS fwd_margin3
         |  FROM fr WHERE rn <= $MarginTop GROUP BY id_a),
         |br AS (SELECT id_a, id_b, cq, row_number() OVER (PARTITION BY id_b
         |         ORDER BY cq DESC, id_a ASC) AS rn FROM scored),
         |bwd AS (
         |  SELECT id_b, max(CASE WHEN rn = 1 THEN id_a END) AS id_a,
         |    3 * max(CASE WHEN rn = 1 THEN cq END)
         |      - CAST(sum(CASE WHEN rn > 1 THEN cq END) AS BIGINT)
         |      AS bwd_margin3
         |  FROM br WHERE rn <= $MarginTop GROUP BY id_b)
         |SELECT fwd.id_a, fwd.id_b, fwd.fwd_margin3, bwd.bwd_margin3
         |FROM fwd JOIN bwd ON fwd.id_a = bwd.id_a AND fwd.id_b = bwd.id_b""".stripMargin)
}
