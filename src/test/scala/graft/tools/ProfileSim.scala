package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness: stage-by-stage timing of similarityJoin at a SF dir —
  * drives the SAME private[graft] stage functions the shipped operator
  * composes, so timings always correspond to the production plan.
  */
object ProfileSim {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val tau = graft.queries.Dedup.SimJoinTau
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr("word_shingles(text)").as("sh"))
      .filter(size(col("sh")) > 0)
    time("shingle-count")(println("  docs=" + docs.count()))
    val ex = docs.select(col("doc_id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("shingle"))
    time("explode-count")(println("  ex=" + ex.count()))
    val prefix = graft.queries.Dedup.ssjPrefix(ex, tau)
    time("prefix")(println("  prefix=" + prefix.count()))
    val cand = graft.queries.Dedup.ssjCandidates(prefix, tau)
    time("candidates")(println("  cand=" + cand.count()))
    val full = graft.queries.Dedup.similarityJoin(
      graft.core.Tables.documents(spark, sfDir), tau)
    time("full")(println("  out=" + full.count()))
    spark.stop()
  }
}
