package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{Cluster, Dedup}

/** Scale-curve evidence for the linear dedup path (dedup_keep_minhash:
  * signatures → LSH buckets → candidate pairs → exact verify → CC →
  * keep): run the identical pipeline on the sf0.1 corpus and on a 10×
  * replication of it, and record per-stage row counts + wall time.
  * The 100 TB claim rests on the candidate-pair count growing ~10×
  * with a 10× corpus (cost ∝ corpus + true near-dups, never n²) —
  * this prints the measured ratios.
  *
  * The ×10 corpus keeps the duplicate RATE constant: each copy k > 0
  * suffixes every word with a copy tag, so within-copy near-dup
  * structure is exactly sf0.1's while cross-copy Jaccard is 0 (no
  * shingle survives a whole-vocabulary rename). Replicating verbatim
  * would instead make every doc a 10-way duplicate — a different
  * (denser) problem than a 10× crawl.
  *
  * Usage: Test/runMain graft.tools.ScaleCurve [sfDir]
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")

    def scaled(copies: Int): DataFrame =
      (0 until copies).map { k =>
        // copy tag must be LETTERS ONLY: the word tokenizer splits on
        // non-letters, so a digit tag would be stripped and every copy
        // would share one vocabulary (cross-copy jaccard 1, not 0)
        val tag = ('a' + k).toChar
        if (k == 0) base
        else base.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\p{L}+)", s"$$1zz$tag").as("text"))
      }.reduce(_ unionAll _)

    def run(tag: String, documents: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val docs = documents
        .select(col("doc_id"), expr("word_shingles(text)").as("sh"))
        .filter(size(col("sh")) > 0)
      val nDocs = docs.count()
      val cand = Dedup.minhashCandidateSizes(docs)
      val nCand = cand.count()
      val nCandPruned = cand
        .filter(col("nmin").cast("double") >= lit(0.6) * col("nmax")).count()
      val edges = Dedup.minhashScored(documents, 0.6)
        .filter(col("jac") >= 0.6).select("doc_a", "doc_b")
      val nEdges = edges.count()
      val clusters = Cluster.clustersOf(edges)
      val nClustered = clusters.count()
      // end-to-end keep (fresh plan, full pipeline, one wall number)
      val tKeep0 = System.nanoTime()
      val nKeep = Cluster.dedupKeepFrom(documents,
        Dedup.minhashScored(documents, 0.6)
          .filter(col("jac") >= 0.6).select("doc_a", "doc_b")).count()
      val tKeep = (System.nanoTime() - tKeep0) / 1e9
      val tAll = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $tag docs=$nDocs cand_pairs=$nCand " +
        f"cand_pruned=$nCandPruned verified_edges=$nEdges " +
        f"clustered_docs=$nClustered keep_rows=$nKeep " +
        f"keep_wall=$tKeep%.2f s stages_wall=$tAll%.2f s")
    }

    run("x1 ", scaled(1))
    run("x10", scaled(10))
    spark.stop()
  }
}
