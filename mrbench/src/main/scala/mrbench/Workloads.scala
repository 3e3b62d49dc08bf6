package mrbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{KV, MapReduceJob, Tables}
import graft.queries.{Cluster, Dedup}

/** A benchmark workload: seeded inputs already on disk, the job a user
  * would run on them, its correctness gate, and the traced layer-by-layer
  * pass. `job` writes its committed output under `out`.
  */
trait Workload {
  def name: String
  def inputBytes: Long
  /** Input properties recorded with every result. */
  def properties: Seq[(String, Any)]
  def job(out: Path): Unit
  /** None when the output under `out` is correct. */
  def check(out: Path, exact: Boolean): Option[String]
  /** The job again, one span per layer call; every layer's input is
    * cached first, so each span times only its own layer. Returns the
    * work counts of the pass, keyed by per-layer metric name.
    */
  def layers(out: Path, t: Tracer): Map[String, Double]
}

object Workloads {
  val names: Seq[String] = Seq("mr_invindex", "dedup_keep")

  /** Output files of the MapReduce job, as in the reference's runs. */
  val NReduce = 10
  val Threshold = 0.6

  /** Each workload draws its inputs from its own seed stream. */
  private def stream(seed: Long, salt: Long): Long = seed * 0x9e3779b97f4a7c15L + salt

  def text(size: String): Gen.TextSpec = size match {
    case "tiny" => Gen.TextSpec(files = 8, totalBytes = 200000L, vocab = 2000, zipfS = 1.1)
    case _ => Gen.TextSpec(files = 128, totalBytes = 16000000L, vocab = 40000, zipfS = 1.1)
  }

  def docs(size: String): Gen.DocSpec = size match {
    case "tiny" => Gen.DocSpec(docs = 1500, vocab = 5000, zipfS = 1.0,
      minWords = 30, maxWords = 150, plantedShare = 0.10, mutationRate = 0.02)
    case _ => Gen.DocSpec(docs = 16000, vocab = 40000, zipfS = 1.0,
      minWords = 30, maxWords = 150, plantedShare = 0.10, mutationRate = 0.02)
  }

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long, size: String): Workload =
    name match {
      case "mr_invindex" => new IndexWorkload(spark, dir, stream(seed, 2), text(size))
      case "dedup_keep" => new DedupWorkload(spark, dir, stream(seed, 3), docs(size))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
    }

  private[mrbench] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[mrbench] def dirBytes(out: Path): Long =
    if (!Files.isDirectory(out)) 0L
    else {
      val s = Files.walk(out)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

/** WholeFileSource → MapReduceJob.runPlugin(…, "indexer") → KvTextSink:
  * the reference's inverted index through the generic, combiner-free
  * `run`, so every (word, file) pair is shuffled.
  */
final class IndexWorkload(spark: SparkSession, dir: Path, seed: Long, spec: Gen.TextSpec)
    extends Workload {
  import spark.implicits._

  val name = "mr_invindex"
  private val corpus = Gen.textFiles(dir.resolve("input"), seed, spec)
  private val inPath = corpus.dir.toFile.getAbsolutePath
  val expected: MrModel.Expected = MrModel.indexer(MrModel.read(corpus.dir))

  def inputBytes: Long = corpus.bytes
  def properties: Seq[(String, Any)] = Seq(
    "files" -> corpus.files, "bytes" -> corpus.bytes, "vocabulary" -> spec.vocab,
    "zipf_s" -> spec.zipfS, "pairs_emitted" -> expected.pairs,
    "output_lines" -> expected.lines.length, "input_sha256" -> corpus.digest)

  private def records: Dataset[KV] =
    spark.read.format("graft.sources.WholeFileSource").load(inPath)
      .select(col("path").as("key"), col("content").as("value")).as[KV]

  private def mapReduce(recs: Dataset[KV]): Dataset[KV] =
    MapReduceJob.runPlugin(recs, "indexer", Workloads.NReduce)

  private def sink(ds: Dataset[KV], out: Path): Unit =
    ds.toDF("key", "value").write.format("graft.sources.KvTextSink")
      .mode("append").save(out.toString)

  def job(out: Path): Unit = sink(mapReduce(records), out)

  def check(out: Path, exact: Boolean): Option[String] = MrModel.check(expected, out, exact)

  def layers(out: Path, t: Tracer): Map[String, Double] = {
    val (recs, _) = t.span("sources.scan") {
      val r = records.persist(StorageLevel.MEMORY_ONLY)
      Workloads.noop(r.toDF())
      r
    }
    val (res, run) = t.span("core.run") {
      val o = mapReduce(recs).persist(StorageLevel.MEMORY_ONLY)
      Workloads.noop(o.toDF())
      o
    }
    t.span("sources.sink")(sink(res, out))
    res.unpersist(blocking = true)
    recs.unpersist(blocking = true)
    Map(
      "sources.scan_mb" -> corpus.bytes / 1e6, "sources.scan_files" -> corpus.files.toDouble,
      "core.combine_ratio" -> run.counters("map_shuffle_records") / expected.pairs,
      "sources.sink_mb" -> Workloads.dirBytes(out) / 1e6,
      "sources.sink_files" -> MrModel.outputFiles(out).size.toDouble)
  }
}

/** Planted near-duplicate documents (parquet) → Cluster.dedupKeepMinhash:
  * shingles → MinHash LSH candidates → exact Jaccard verify → connected
  * components → keep one document per cluster, written as parquet.
  */
final class DedupWorkload(spark: SparkSession, dir: Path, seed: Long, spec: Gen.DocSpec)
    extends Workload {
  import spark.implicits._

  val name = "dedup_keep"
  val corpus: Gen.DocCorpus = Gen.documents(seed, spec)
  private val tables = dir.toFile.getAbsolutePath
  Gen.writeDocuments(dir, corpus, spark.sparkContext.defaultParallelism)
  val model = new DedupModel(corpus, Workloads.Threshold, minRecall = 0.99)

  def inputBytes: Long = corpus.bytes
  def properties: Seq[(String, Any)] = Seq(
    "docs" -> spec.docs, "bytes" -> corpus.bytes, "vocabulary" -> spec.vocab,
    "zipf_s" -> spec.zipfS, "words_per_doc" -> s"${spec.minWords}-${spec.maxWords}",
    "near_dup_rate" -> corpus.groups.map(_.ids.length).sum.toDouble / spec.docs,
    "planted_groups" -> corpus.groups.length, "planted_copies" -> model.plantedCopies,
    "mutation_rate" -> spec.mutationRate, "input_sha256" -> corpus.digest)

  def job(out: Path): Unit =
    Cluster.dedupKeepMinhash(spark, tables).write.parquet(out.toString)

  def keptIds(out: Path): Array[Long] =
    spark.read.parquet(out.toString).select(col("doc_id")).as[Long].collect()

  def check(out: Path, exact: Boolean): Option[String] =
    model.check(keptIds(out)).left.toOption

  /** Span `name` around caching and counting `df`. */
  private def cachedSpan(t: Tracer, name: String)(df: => DataFrame): (DataFrame, Long) =
    t.span(name) {
      val c = df.persist(StorageLevel.MEMORY_ONLY)
      (c, c.count())
    }._1

  /** Each stage caches the exact plan the next public call rebuilds, so
    * Spark's cache manager substitutes it and the next span excludes it.
    * `dedupKeepFrom` re-derives clusters from the edges itself, so the
    * keep span includes one more connected-components pass.
    */
  def layers(out: Path, t: Tracer): Map[String, Double] = {
    val (docs, _) = cachedSpan(t, "sources.parquet_scan")(Tables.documents(spark, tables))
    val (sh, _) = cachedSpan(t, "functions.shingle")(Dedup.shingleDocs(spark, tables))
    val (cand, candidates) = cachedSpan(t, "queries.candidates") {
      graft.functions.MinHashBuckets.register(spark)
      Dedup.minhashCandidateSizes(sh.filter(size(col("sh")) > 0))
    }
    val (edges, nEdges) = cachedSpan(t, "queries.verify") {
      Dedup.minhashScored(docs, Workloads.Threshold)
        .filter(col("jac") >= Workloads.Threshold).select(col("doc_a"), col("doc_b"))
    }
    val (clusters, clustered) = cachedSpan(t, "queries.cluster")(Cluster.clustersOf(edges))
    t.span("queries.keep")(Cluster.dedupKeepFrom(docs, edges).write.parquet(out.toString))
    val shingles = sh.agg(sum(size(col("sh")))).as[Long].first()
    Seq(clusters, edges, cand, sh, docs).foreach(_.unpersist(blocking = true))
    Map(
      "functions.shingles" -> shingles.toDouble, "queries.candidate_pairs" -> candidates.toDouble,
      "queries.edges" -> nEdges.toDouble, "queries.verify_yield" -> nEdges.toDouble / candidates,
      "queries.clustered_docs" -> clustered.toDouble,
      "queries.kept_docs" -> spark.read.parquet(out.toString).count().toDouble)
  }
}
