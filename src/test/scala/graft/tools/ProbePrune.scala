package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object ProbePrune {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.1")
    val d = docs.select(col("doc_id"), expr("word_shingles(text)").as("sh")).filter(size(col("sh")) > 0)
    val bands = d.select(col("doc_id"), size(col("sh")).as("n"), posexplode_outer(expr("minhash_buckets(sh)")))
      .toDF("doc_id", "n", "band", "bucket")
    val cand = bands.groupBy("band", "bucket")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(explode(transform(slice(col("ids"), col("i") + 2, size(col("ids"))),
        b => struct(least(col("a.doc_id"), b.getField("doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), b.getField("doc_id")).as("doc_b"),
          least(col("a.n"), b.getField("n")).as("nmin"),
          greatest(col("a.n"), b.getField("n")).as("nmax")))).as("p"))
      .select(col("p.*")).distinct()
    val total = cand.count()
    val pruned = cand.filter(col("nmin").cast("double") < lit(0.6) * col("nmax")).count()
    println(s"[probe] candidates=$total prunedBySizeRatio=$pruned (${100.0*pruned/total}%)")
    spark.stop()
  }
}
