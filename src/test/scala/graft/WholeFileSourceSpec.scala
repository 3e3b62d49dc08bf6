package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** DSv2 whole-file source: F1-scan parity (filename + full contents),
  * pruned metadata-only reads, byte-balanced packing of whole files
  * into map tasks, and fail-fast planning on bad input.
  */
class WholeFileSourceSpec extends SparkSuite {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft_wholefile")

  private def write(dir: Path, files: Seq[(String, String)]): String = {
    Files.createDirectories(dir)
    files.foreach { case (n, body) => Files.write(dir.resolve(n), body.getBytes(UTF_8)) }
    dir.toString
  }

  private lazy val dir = {
    val d = write(root.resolve("small"),
      Seq("a.txt" -> "alpha beta beta", "b.txt" -> "gamma", "c.txt" -> "x y z"))
    // hidden/underscore files are skipped
    Files.write(root.resolve("small/_SUCCESS"), Array.empty[Byte])
    Files.write(root.resolve("small/.hidden"), "skip".getBytes(UTF_8))
    d
  }

  /** 40 files of 0..3000 bytes (non-ASCII included), in a seeded mix. */
  private lazy val corpus: Map[String, String] = {
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "héllo", "wörld", "日本語", "𝐀𝐁", "x")
    (0 until 40).map { i =>
      val n = rnd.nextInt(600)
      f"f$i%03d.txt" -> Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    }.toMap
  }
  private lazy val corpusDir = write(root.resolve("corpus"), corpus.toSeq)

  private def read(d: String = dir) = spark.read.format("graft.sources.WholeFileSource").load(d)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private val MaxBytes = "spark.sql.files.maxPartitionBytes"
  private val OpenCost = "spark.sql.files.openCostInBytes"
  private val MinPartitions = "spark.sql.files.minPartitionNum"

  /** The paths each partition reads, in partition and read order. */
  private def bins(d: String): Seq[Seq[String]] =
    read(d).select("path").as[String].rdd.glom().collect().toSeq
      .map(_.toSeq.map(p => new java.io.File(p).getName))

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("one record per file with full contents, keyed by absolute path (worker.go:102-109 parity)") {
    val rows = read().collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rows.keySet === Set("a.txt", "b.txt", "c.txt").map(n => s"$dir/$n"))
    assert(rows.map { case (p, c) => new java.io.File(p).getName -> c } ===
      Map("a.txt" -> "alpha beta beta", "b.txt" -> "gamma", "c.txt" -> "x y z"))
  }

  test("maxPartitionBytes = 1 plans one partition per file, in name order") {
    withConf(MaxBytes -> "1") {
      assert(read().rdd.getNumPartitions === 3) // ≡ one map task per file
      assert(bins(dir) === Seq(Seq("a.txt"), Seq("b.txt"), Seq("c.txt")))
      assert(bins(corpusDir) === corpus.keys.toSeq.sorted.map(Seq(_)))
    }
  }

  test("column pruning reaches the reader: metadata query reads no bytes") {
    val df = read().select("path", "length")
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(!scanLine.contains("content"), s"content must be pruned: $scanLine")
    assert(df.collect().map(_.getLong(1)).sorted.toSeq === Seq(5L, 5L, 15L))
  }

  test("wc over the DSv2 source equals the reference tokenizer pipeline") {
    val words = read()
      .select(explode(graft.queries.Dedup.tokensCol(col("content"))).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(words === Map("alpha" -> 1L, "beta" -> 2L, "gamma" -> 1L,
      "x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("packed partitions read every file exactly once, with its exact bytes, in name order per bin") {
    val got = read(corpusDir).select("path", "length", "content").collect()
    assert(got.length === corpus.size)
    assert(got.map(r => new java.io.File(r.getString(0)).getName).toSet === corpus.keySet)
    got.foreach { r =>
      val want = corpus(new java.io.File(r.getString(0)).getName)
      assert(r.getString(2) === want)
      assert(r.getLong(1) === want.getBytes(UTF_8).length.toLong)
    }
    val b = bins(corpusDir)
    assert(b.size === 4, b) // 40 small files on 4 cores: one wave
    assert(b.forall(bin => bin === bin.sorted), b)
    assert(b.map(_.head) === b.map(_.head).sorted, b)
  }

  test("the partition count is min(#files, a multiple of P)") {
    val lengths = corpus.values.map(_.getBytes(UTF_8).length.toLong).toSeq
    def expected(maxBytes: Long, openCost: Long, p: Int, ls: Seq[Long] = lengths): Int = {
      val total = ls.map(_ + openCost).sum
      val waves = (total + p * maxBytes - 1) / (p * maxBytes)
      math.min(ls.size.toLong, p * waves).toInt
    }
    val p = spark.sparkContext.defaultParallelism
    for ((maxBytes, openCost) <- Seq((128L << 20, 4L << 20), (4000L, 0L), (20000L, 100L),
        (9000L, 1000L), (1L << 20, 0L))) {
      withConf(MaxBytes -> maxBytes.toString, OpenCost -> openCost.toString) {
        assert(read(corpusDir).rdd.getNumPartitions === expected(maxBytes, openCost, p),
          s"maxBytes=$maxBytes openCost=$openCost P=$p")
        withConf(MinPartitions -> "3") {
          val n = read(corpusDir).rdd.getNumPartitions
          assert(n === expected(maxBytes, openCost, 3), s"maxBytes=$maxBytes openCost=$openCost P=3")
          assert(n % 3 == 0 || n == corpus.size)
        }
      }
    }
    // the benchmark's shape: 128 files of ~125 KB on 4 cores pack into 8 tasks
    assert(expected(128L << 20, 4L << 20, 4, Seq.fill(128)(125000L)) === 8)
  }

  test("the heaviest bin costs at most the lightest bin plus the largest file") {
    for ((maxBytes, openCost) <- Seq((20000L, 0L), (9000L, 100L), (4000L, 50L))) {
      withConf(MaxBytes -> maxBytes.toString, OpenCost -> openCost.toString) {
        val loads = read(corpusDir).select(spark_partition_id().as("pid"), col("length"))
          .groupBy("pid").agg(sum(col("length") + openCost).as("cost"))
          .as[(Int, Long)].collect().map(_._2)
        val largest = corpus.values.map(_.getBytes(UTF_8).length.toLong).max + openCost
        assert(loads.length > 1 && loads.length < corpus.size, loads.mkString(","))
        assert(loads.max <= loads.min + largest,
          s"maxBytes=$maxBytes openCost=$openCost loads=${loads.mkString(",")}")
      }
    }
  }

  test("a file larger than maxPartitionBytes is still one whole record") {
    val big = "wörd " * 400
    val d = write(root.resolve("oversize"), Seq("big.txt" -> big, "s1.txt" -> "a", "s2.txt" -> "b"))
    withConf(MaxBytes -> "100", OpenCost -> "0") {
      val got = read(d).select("path", "content").collect()
        .map(r => new java.io.File(r.getString(0)).getName -> r.getString(1)).toMap
      assert(got === Map("big.txt" -> big, "s1.txt" -> "a", "s2.txt" -> "b"))
    }
  }

  test("runPlugin(\"indexer\") over packed and per-file input commits identical mr-out lines") {
    def run(out: String): Seq[String] = {
      graft.core.MapReduceJob.runPlugin(
          read(corpusDir).select(col("path").as("key"), col("content").as("value"))
            .as[graft.core.KV], "indexer", nReduce = 3)
        .toDF().write.format("graft.sources.KvTextSink").mode("append").save(out)
      new java.io.File(out).listFiles().filter(_.getName.startsWith("mr-out-")).toSeq
        .flatMap(f => Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]))
        .sorted
    }
    assert(read(corpusDir).rdd.getNumPartitions < corpus.size)
    val packed = run(root.resolve("idx_packed").toString)
    val perFile = withConf(MaxBytes -> "1") {
      assert(read(corpusDir).rdd.getNumPartitions === corpus.size)
      run(root.resolve("idx_per_file").toString)
    }
    assert(packed.nonEmpty)
    assert(packed === perFile)
  }

  test("a missing input directory or a plain file as input fails at planning, naming the path") {
    val missing = root.resolve("no_such_dir").toString
    val e = intercept[Exception](read(missing).rdd.getNumPartitions)
    assert(causes(e).contains(missing), causes(e))
    val plain = root.resolve("plain.txt")
    Files.write(plain, "not a directory".getBytes(UTF_8))
    val e2 = intercept[Exception](read(plain.toString).collect())
    assert(causes(e2).contains(plain.toString), causes(e2))
  }

  test("a file over the UTF8String limit fails at planning, naming it; its metadata still reads") {
    val d = Files.createDirectories(root.resolve("huge"))
    val huge = d.resolve("huge.bin")
    val len = Int.MaxValue.toLong + 1
    val raf = new java.io.RandomAccessFile(huge.toFile, "rw")
    try raf.setLength(len) finally raf.close() // sparse: no bytes are allocated
    try {
      // planning only: nothing may try to read the file
      val e = intercept[Exception](read(d.toString).rdd.getNumPartitions)
      assert(causes(e).contains(huge.toString), causes(e))
      assert(read(d.toString).select("length").as[Long].collect().toSeq === Seq(len))
    } finally Files.delete(huge)
  }
}
