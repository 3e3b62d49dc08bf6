package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Checkpoints.StableOps

/** Item-item collaborative filtering ([EXT]) — the classic
  * neighborhood recommender (Sarwar et al. '01 / Amazon item-to-item)
  * over the implicit purchase matrix (customer × part from
  * lineitem⋈orders). Complements [[EventOps]]'s basket_pairs (order
  * co-occurrence lift): here co-preference is USER-level, scored by
  * cosine over binary interaction vectors, and served as top-k
  * neighbor lists plus per-user recommendations.
  *
  * Scale shape: the pair producer self-joins the interaction table on
  * user_id, so per-user fan-out is the square of basket size — the
  * [[Recommend.MaxBasket]] deterministic md5-rank cap bounds it (the
  * dedup_ngram df-cap pattern; power users contribute a bounded
  * sample of their basket, a standard CF degree cap). Everything
  * downstream is groupBy/join on item keys — linear shuffles of
  * (item, item) count cells, never raw baskets. Cosine stays exact:
  * co/sqrt(n_a·n_b) is a single correctly-rounded IEEE chain, and the
  * serving score is an INTEGER micro-unit sum so ranking reproduces
  * bit-for-bit in any engine (the int-cent convention).
  */
object Recommend {

  /** Per-user interaction cap before the pair self-join. */
  val MaxBasket = 256
  /** Minimum co-preference support for a neighbor edge. */
  val CoMin = 2
  /** Neighbors kept per item. */
  val TopK = 5
  /** Recommendations served per user. */
  val RecK = 3

  /** Distinct (user, item) implicit-feedback interactions. */
  private def positives(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("part_id"))
      .distinct()

  /** Interactions with each user's basket capped at [[MaxBasket]] by
    * deterministic md5 rank (reproducible across runs/backfills).
    */
  private def cappedOf(pos: DataFrame): DataFrame = {
    val rkW = Window.partitionBy("user_id").orderBy(
      md5(concat(col("user_id").cast("string"), lit(":"),
        col("part_id").cast("string"))).asc, col("part_id").asc)
    pos
      .withColumn("rk", row_number().over(rkW))
      .filter(col("rk") <= MaxBasket)
      .drop("rk")
  }

  /** Top-[[TopK]] cosine neighbors per item: co-preference counts from
    * the user-keyed self-join, cosine co/sqrt(n_a·n_b) against item
    * degrees, support floor [[CoMin]], deterministic
    * (cosine desc, id asc) rank. The positives frame is injected so
    * [[itemRecommend]] can share ONE materialization across the CF
    * build, the vote join, and the freshness anti-join.
    */
  def itemCf(s: SparkSession, d: String): DataFrame =
    graft.core.ModelStore.putDurable(s, d, "recommend_nbrs",
      NbrConstants, itemCfOn(positives(s, d)).stable)(Seq(_))

  /** Train-once/serve-many wiring ([[ModelCache]]): `item_cf` always
    * rebuilds the neighbor model (its cost stays an honest measure of
    * the CF build) and refreshes the session cache; `item_recommend`
    * reuses the trained neighbor lists when present and builds on
    * demand otherwise. Only the NEIGHBOR frame is cached — it is
    * model-sized (≤ TopK rows per item). The corpus-sized interaction
    * table is deliberately NOT cached or checkpointed: within one
    * plan its repeated reads share a single identical subtree, so
    * Spark's ReuseExchange computes the distinct's shuffle once and
    * feeds every consumer from it (deg + both self-join sides in the
    * CF build; vote join + freshness anti-join in serving) — the
    * single-materialization perf WITHOUT pinning |users×items| blocks
    * for the session lifetime (the ModelCache bounded-retention
    * contract).
    */
  private val NbrConstants =
    s"basket=$MaxBasket,comin=$CoMin,topk=$TopK"

  private def nbrsCached(s: SparkSession, d: String): DataFrame =
    graft.core.ModelStore.cachedDurable(s, d, "recommend_nbrs",
      NbrConstants, 1)(itemCfOn(positives(s, d)).stable)(Seq(_))(_.head)

  private def itemCfOn(pos: DataFrame): DataFrame = {
    val base = cappedOf(pos)
    val deg = base.groupBy("part_id").agg(count(lit(1)).as("n"))
    val a = base.select(col("user_id"), col("part_id").as("pa"))
    val b = base.select(col("user_id"), col("part_id").as("pb"))
    val pairs = a.join(b, "user_id")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("co"))
      .filter(col("co") >= CoMin)
    val sym = pairs.select(col("pa").as("part_id"), col("pb").as("neighbor_id"), col("co"))
      .unionAll(pairs.select(col("pb").as("part_id"), col("pa").as("neighbor_id"), col("co")))
    val scored = sym
      .join(deg.select(col("part_id"), col("n").as("n_a")), "part_id")
      .join(deg.select(col("part_id").as("neighbor_id"), col("n").as("n_b")), "neighbor_id")
      .withColumn("cos_micro",
        floor(col("co").cast("double")
          / sqrt(col("n_a").cast("double") * col("n_b").cast("double"))
          * 1000000 + lit(0.5)).cast("long"))
    val rkW = Window.partitionBy("part_id")
      .orderBy(col("cos_micro").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(rkW).cast("long"))
      .filter(col("rk") <= TopK)
      .select("part_id", "neighbor_id", "co", "cos_micro", "rk")
  }

  /** Per-user top-[[RecK]] recommendations: each purchased item votes
    * its neighbor list, candidate scores are EXACT integer sums of
    * cosine micro-units, already-purchased items are anti-joined away,
    * ties break on item id.
    */
  def itemRecommend(s: SparkSession, d: String): DataFrame = {
    // the interaction table appears twice below (vote join +
    // freshness anti-join) as one identical subtree — ReuseExchange
    // shares the distinct's shuffle, so the orderkey join runs once
    // per execution and nothing corpus-sized is pinned. The neighbor
    // model comes from the session cache, shared with item_cf.
    val pos = positives(s, d)
    val nbrs = nbrsCached(s, d)
    val votes = pos.join(nbrs, "part_id")
      .groupBy(col("user_id"), col("neighbor_id").as("rec_id"))
      .agg(sum("cos_micro").as("score_micro"), count(lit(1)).as("n_src"))
    val fresh = votes.join(
      pos.select(col("user_id"), col("part_id").as("rec_id")),
      Seq("user_id", "rec_id"), "left_anti")
    val rkW = Window.partitionBy("user_id")
      .orderBy(col("score_micro").desc, col("rec_id").asc)
    fresh.withColumn("rk", row_number().over(rkW).cast("long"))
      .filter(col("rk") <= RecK)
      .select("user_id", "rec_id", "score_micro", "n_src", "rk")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "item_cf" -> itemCf,
    "item_recommend" -> itemRecommend)

  private val cappedSql =
    """pos AS (
      |  SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS part_id
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |capped AS (
      |  SELECT user_id, part_id FROM (
      |    SELECT user_id, part_id, row_number() OVER (PARTITION BY user_id
      |      ORDER BY md5(CAST(user_id AS VARCHAR) || ':' || CAST(part_id AS VARCHAR)) ASC,
      |        part_id ASC) AS rk
      |    FROM pos) WHERE rk <= 256),
      |deg AS (SELECT part_id, count(*) AS n FROM capped GROUP BY part_id),
      |pairs AS (
      |  SELECT a.part_id AS pa, b.part_id AS pb, count(*) AS co
      |  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.part_id < b.part_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (
      |  SELECT pa AS part_id, pb AS neighbor_id, co FROM pairs
      |  UNION ALL SELECT pb, pa, co FROM pairs),
      |scored AS (
      |  SELECT s.part_id, s.neighbor_id, CAST(s.co AS BIGINT) AS co,
      |    CAST(floor(CAST(s.co AS DOUBLE)
      |      / sqrt(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT) AS cos_micro
      |  FROM sym s JOIN deg da ON s.part_id = da.part_id
      |             JOIN deg db ON s.neighbor_id = db.part_id),
      |nbrs AS (
      |  SELECT part_id, neighbor_id, co, cos_micro,
      |    row_number() OVER (PARTITION BY part_id
      |      ORDER BY cos_micro DESC, neighbor_id ASC) AS rk
      |  FROM scored)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "item_cf" ->
      s"""WITH $cappedSql
         |SELECT part_id, neighbor_id, co, cos_micro, rk
         |FROM nbrs WHERE rk <= 5""".stripMargin,
    "item_recommend" ->
      s"""WITH $cappedSql,
         |votes AS (
         |  SELECT p.user_id, n.neighbor_id AS rec_id,
         |    CAST(sum(n.cos_micro) AS BIGINT) AS score_micro,
         |    count(*) AS n_src
         |  FROM pos p JOIN nbrs n ON p.part_id = n.part_id AND n.rk <= 5
         |  GROUP BY 1, 2),
         |fresh AS (
         |  SELECT v.* FROM votes v
         |  WHERE NOT EXISTS (SELECT 1 FROM pos x
         |                    WHERE x.user_id = v.user_id AND x.part_id = v.rec_id)),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY score_micro DESC, rec_id ASC) AS rk
         |  FROM fresh)
         |SELECT user_id, rec_id, score_micro, n_src, rk
         |FROM ranked WHERE rk <= 3""".stripMargin)
}
