package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Pipeline, Pq}

/** Scale-curve evidence for the ANN SERVING path (ann_ivfpq_rerank):
  * per-stage row counts on the sf0.1 embeddings table and a ×10
  * replication. The 100 TB claim: the only corpus-proportional stage
  * is the ADC scan of the probed inverted lists (|corpus|·NProbe/
  * NCells rows); the probe table (queries × NProbe), the candidate
  * cut (Cand·|queries|), the exact-refine fetches, and the final
  * top-k are all CONSTANT in corpus size — serving cost per query is
  * a fixed fraction of the corpus, never all-pairs.
  *
  * Replication perturbs one coordinate per copy (direction changes,
  * so copies don't collapse onto one point) and offsets vec_ids so
  * the query set (vec_id < QueryCap) and the PQ training sample
  * (vec_id < PqTrainCap) stay EXACTLY the base table's — a serving
  * census holds the query workload fixed while the corpus grows.
  *
  * Usage: Test/runMain graft.tools.AnnScaleCurve [sfDir]
  */
object AnnScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = ScaleTools.session()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

    def scaled(copies: Int): DataFrame =
      (0 until copies).map { k =>
        if (k == 0) base
        else base.select(
          (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          transform(col("v"),
            (x, i) => x + when(i === 0, lit(0.01 * k)).otherwise(lit(0.0)))
            .as("v"))
      }.reduce(_ unionAll _)

    def run(tag: String, emb: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val nVecs = emb.count()
      val (scored, raw) = Pq.ivfPqScoredOn(emb)
      val nScored = scored.count() // ADC rows = Σ probed cell sizes
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)
      val cand = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Pq.Cand).select("query_id", "neighbor_id")
      val nCand = cand.count()
      // exact-refine fetch rows (id-keyed joins, never corpus-wide)
      val nRefine = cand
        .join(raw.select(col("vec_id").as("neighbor_id")), "neighbor_id")
        .count()
      val tAll = (System.nanoTime() - t0) / 1e9
      val probeRows = graft.queries.Pq.QueryCap * graft.queries.Similarity.NProbe
      println(f"[ann-scale] $tag vecs=$nVecs probe_rows=$probeRows " +
        f"adc_rows=$nScored cand_rows=$nCand refine_rows=$nRefine " +
        f"wall=$tAll%.2f s")
    }

    run("x1 ", scaled(1))
    run("x10", scaled(10))
    spark.stop()
  }
}

/** Scale-curve evidence for a COMPOSED pipeline
  * (pipeline_pretrain_minhash): per-stage survivor counts on the
  * sf0.1 documents corpus and a duplicate-rate-preserving ×10
  * replication (the ScaleCurve letter-tag convention — cross-copy
  * Jaccard 0). The curate stages (quality gate, MinHash edges, keep,
  * decontamination, split) must grow ~linearly with the corpus; the
  * pretrain tail (token-budget cap → chunks → shards) is clamped by
  * the FIXED TokenBudget — the absolute-budget semantics a training
  * job wants — so its counts saturate rather than grow.
  *
  * Usage: Test/runMain graft.tools.PipelineScaleCurve [sfDir]
  */
object PipelineScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = ScaleTools.session()
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source", "text")

    def scaled(copies: Int): DataFrame =
      (0 until copies).map { k =>
        val tag = ('a' + k).toChar
        if (k == 0) base
        else base.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          col("lang"), col("source"),
          regexp_replace(col("text"), "(\\p{L}+)", s"$$1zz$tag").as("text"))
      }.reduce(_ unionAll _)

    def run(tag: String, docs: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val st = Pipeline.curateStagesOn(spark, docs,
        d => Dedup.minhashScoredFromShingles(d, 0.6)
          .filter(col("jac") >= 0.6).select(col("doc_a"), col("doc_b")),
        Pipeline.heuristicKeptIds)
      val nCorpus = st.corpus.count()
      val nS1 = st.s1.count()
      val nClustered = st.clusters.count()
      val nS2 = st.s2.count()
      val nS3 = st.s3.count()
      val train = st.splits.filter(col("split") === "train")
      val nTrain = train.count()
      // pretrain tail over the train split (budget-clamped by design)
      val wSrc = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val s5 = st.corpus.join(train.select("doc_id"), "doc_id")
        .select(col("doc_id"), col("source"),
          size(Dedup.tokensCol(col("text"))).as("ntok"))
        .withColumn("cum", sum("ntok").over(wSrc))
        .filter(col("cum") <= graft.queries.Curation.TokenBudget)
      val nCap = s5.count()
      val tAll = (System.nanoTime() - t0) / 1e9
      st.s1.unpersist(false); st.sh1.unpersist(false)
      println(f"[pipe-scale] $tag corpus=$nCorpus quality=$nS1 " +
        f"clustered=$nClustered dedup=$nS2 decontam=$nS3 train=$nTrain " +
        f"cap=$nCap wall=$tAll%.2f s")
    }

    run("x1 ", scaled(1))
    run("x10", scaled(10))
    spark.stop()
  }
}

private[tools] object ScaleTools {
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
