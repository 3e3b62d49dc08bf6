package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{KV, MapReduceJob, Tables}
import graft.functions.LetterTokens

/** The reference's bundled applications (reference: mrapps/ wc.go,
  * indexer.go, crash.go, nocrash.go),
  * re-expressed two ways:
  *   - relationally (split/explode/groupBy — unlocks codegen, partial
  *     aggregation, pushdown; the scalable form), and
  *   - through the closure ABI ([[graft.core.MapReduceJob]]) for exact
  *     programming-model parity.
  * The `documents` table's text column stands in for the reference's
  * pg*.txt whole files (doc name = printf("d%06d", doc_id)).
  */
object Parity {

  /** Go `unicode.IsLetter` tokenizer parity (reference: mrapps/wc.go:21-34
    * splits on non-letter runes). Java \p{L} matches the same Unicode L*
    * categories; `split` leaves empty strings where Go's FieldsFunc drops
    * them, hence the length filter (SURVEY.md §7.4). The closure forms
    * tokenize with [[LetterTokens]], the same split without the regex.
    */
  val TokenRe = "[^\\p{L}]+"

  private def tokens(docs: DataFrame): DataFrame =
    docs
      .select(format_string("d%06d", col("doc_id")).as("doc"),
        explode(split(col("text"), TokenRe)).as("word"))
      .filter(length(col("word")) > 0)

  /** A1+A2: word count, relational form. Hash aggregation with automatic
    * partial+final — strictly better than the reference's final-only
    * sort-aggregate (worker.go:70-94).
    */
  def wc(spark: SparkSession, dir: String): DataFrame =
    tokens(Tables.documents(spark, dir))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** wc through the closure ABI: mapf emits (word,"1") per occurrence
    * (reference wc.go:21-34); the reduce counts them (wc.go:41-44) as a
    * sum, which also serves as the map-side combiner.
    */
  private val wcMap: (String, String) => IterableOnce[KV] =
    (_, contents) => LetterTokens(contents).map(w => KV(w, "1"))
  private val wcSum: (String, Seq[String]) => String =
    (_, counts) => counts.map(_.toLong).sum.toString

  /** A1+A2 through the closure ABI, with the combiner — the reference's
    * semantics, Spark's scalability.
    */
  def wcMapReduce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val records = Tables.documents(spark, dir)
      .select(format_string("d%06d", col("doc_id")).as("key"),
        col("text").as("value"))
      .as[KV]
    MapReduceJob.run(records, wcMap, reducef = wcSum, combine = Some(wcSum))
      .toDF("key", "value")
  }

  /** A3+A4: inverted index. Map de-dups words within a document
    * (indexer.go:20-31 uses a set → `distinct()` here); reduce emits
    * "count doc1,doc2,…" with the doc list sorted ascending
    * (indexer.go:36-39 → sort_array before array_join).
    */
  def indexer(spark: SparkSession, dir: String): DataFrame =
    tokens(Tables.documents(spark, dir))
      .distinct()
      .groupBy("word")
      .agg(count(lit(1)).as("n_docs"),
        array_join(sort_array(collect_set(col("doc"))), ",").as("docs"))

  /** A5: the crash/nocrash apps' deterministic string aggregation
    * (reference: mrapps/nocrash.go:26-47): per input file emit four
    * constant keys a..d valued (filename, len(filename), len(contents),
    * "xyzzy"); reduce sorts values and joins with a space
    * (crash.go:45-55). Value sort is the app's job because MR value
    * order is unspecified — preserved here via sort_array.
    */
  def crashAgg(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(format_string("d%06d", col("doc_id")).as("doc"), col("text"))
    val kv = docs.select(explode(array(
      struct(lit("a").as("key"), col("doc").as("value")),
      struct(lit("b").as("key"), length(col("doc")).cast("string").as("value")),
      struct(lit("c").as("key"), length(col("text")).cast("string").as("value")),
      struct(lit("d").as("key"), lit("xyzzy").as("value")))).as("kv"))
      .select(col("kv.key").as("key"), col("kv.value").as("value"))
    kv.groupBy("key")
      .agg(array_join(sort_array(collect_list(col("value"))), " ").as("agg"))
  }

  /** Scratch root visible to BOTH the driver and every executor.
    * `spark.graft.scratchDir` (a shared filesystem path — NFS, a
    * fuse-mounted object store, …) makes the staging cluster-safe; when
    * unset we fall back to a driver-local temp dir, which is only
    * correct when executors share the driver's filesystem, i.e. a
    * `local[*]` master — enforced loudly here rather than letting the
    * read-back silently find zero files on a real cluster.
    */
  private def scratchDir(spark: SparkSession, prefix: String): String =
    spark.conf.getOption("spark.graft.scratchDir") match {
      case Some(root) =>
        val d = new java.io.File(root, prefix + "-" + java.util.UUID.randomUUID())
        require(d.mkdirs(), s"cannot create scratch dir $d under spark.graft.scratchDir=$root")
        d.toString
      case None =>
        require(spark.sparkContext.isLocal,
          "mr_pipeline stages files on a filesystem shared by driver and " +
            "executors; on a cluster set spark.graft.scratchDir to a shared " +
            "path — a driver-local temp dir is invisible to executor writes")
        java.nio.file.Files.createTempDirectory(prefix).toString
    }

  /** The reference's FULL pipeline under the driver's hash gate — F1
    * scan → F2..F8 map/shuffle/reduce → F9 sink, byte-for-byte
    * (reference: main/test-mr.sh:59-60 checks `sort mr-out-* | grep .`
    * against the sequential run; worker.go:92-97 writes "key value"
    * lines):
    *
    *  1. stage one input FILE per document (executor-side writes — the
    *     driver never holds contents), bounded to doc_id < 500 so the
    *     file count is constant at any SF (the unbounded row-shaped
    *     form is [[wc]]);
    *  2. read them through the DSv2 [[graft.sources.WholeFileSource]]
    *     (one record per file, files packed into byte-balanced map
    *     tasks, column pruning);
    *  3. run wc through the closure ABI with the combiner, in
    *     nReduce = 5 reduce tasks behind one hash exchange
    *     (worker.go:113-117 ihash%R parity);
    *  4. write through the DSv2 [[graft.sources.KvTextSink]] — real
    *     `mr-out-<r>` files, temp-file + atomic-rename commit — one
    *     per reduce task, so 5 files;
    *  5. read the committed bytes back and split "key value" lines.
    *
    * The returned rows therefore certify the sink's on-disk byte
    * format, not just the in-memory result; oracle = the wc SQL on the
    * same slice.
    */
  def mrPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stage = scratchDir(spark, "graft_mr_in")
    val outDir = scratchDir(spark, "graft_mr_out")
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 500)
      .select(format_string("d%06d", col("doc_id")).as("key"), col("text").as("value"))
      .as[KV]
      .foreachPartition { (it: Iterator[KV]) =>
        it.foreach { kv =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(stage, kv.key + ".txt"),
            kv.value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    val records = spark.read.format("graft.sources.WholeFileSource").load(stage)
      .select(col("path").as("key"), col("content").as("value"))
      .as[KV]
    val counted = MapReduceJob.run(records, wcMap, reducef = wcSum, nReduce = 5,
      combine = Some(wcSum))
    counted.toDF()
      .write.format("graft.sources.KvTextSink").mode("append").save(outDir)
    // the sink write above is an action, so the staged inputs are fully
    // consumed — reclaim them now rather than leaking a corpus copy per
    // run onto the shared scratch root. outDir must outlive this call
    // (the returned frame reads it lazily); it is one "key value" line
    // per distinct word — vocabulary-sized, not corpus-sized.
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(): Unit
    }
    rmRf(new java.io.File(stage))
    spark.read.text(outDir)
      .select(
        substring_index(col("value"), " ", 1).as("key"),
        expr("substring(value, instr(value, ' ') + 1)").as("value"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wc" -> wc,
    "wc_mr" -> wcMapReduce,
    "mr_pipeline" -> mrPipeline,
    "indexer" -> indexer,
    "crash_agg" -> crashAgg)

  /** DuckDB oracles (driver runs these on the same parquet; column names
    * must match the Spark results exactly — driver sorts columns by name
    * before hashing).
    */
  def oracleSql: Map[String, String] = {
    val tok =
      s"""SELECT printf('d%06d', doc_id) AS doc, word
         |FROM (SELECT doc_id, unnest(string_split_regex(text, '[^\\p{L}]+')) AS word
         |      FROM documents)
         |WHERE length(word) > 0""".stripMargin
    Map(
      "wc" ->
        s"SELECT word, count(*) AS cnt FROM ($tok) GROUP BY word",
      "wc_mr" ->
        s"SELECT word AS key, CAST(count(*) AS VARCHAR) AS value FROM ($tok) GROUP BY word",
      "mr_pipeline" ->
        s"""SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
           |FROM (SELECT unnest(string_split_regex(text, '[^\\p{L}]+')) AS word
           |      FROM documents WHERE doc_id < 500)
           |WHERE length(word) > 0 GROUP BY word""".stripMargin,
      "indexer" ->
        s"""SELECT word, count(*) AS n_docs,
           |       string_agg(doc, ',' ORDER BY doc) AS docs
           |FROM (SELECT DISTINCT doc, word FROM ($tok))
           |GROUP BY word""".stripMargin,
      "crash_agg" ->
        s"""WITH d AS (SELECT printf('d%06d', doc_id) AS doc, text FROM documents),
           |kv AS (
           |  SELECT 'a' AS key, doc AS value FROM d
           |  UNION ALL SELECT 'b', CAST(length(doc) AS VARCHAR) FROM d
           |  UNION ALL SELECT 'c', CAST(length(text) AS VARCHAR) FROM d
           |  UNION ALL SELECT 'd', 'xyzzy' FROM d)
           |SELECT key, string_agg(value, ' ' ORDER BY value) AS agg
           |FROM kv GROUP BY key""".stripMargin)
  }
}
