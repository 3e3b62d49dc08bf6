package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** DSv2 text sink: mr-out-<r> naming, "key value" line format, and
  * partition-count control — the reference's F9 sink contract
  * (worker.go:92-97) driven through Spark's commit protocol.
  */
class KvTextSinkSpec extends SparkSuite {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft_kvsink")

  private def mrOut(dir: String): Seq[String] =
    new java.io.File(dir).list().filter(_.startsWith("mr-out-")).toSeq.sorted

  /** sort(cat mr-out*), as test-mr.sh:59 compares it. */
  private def lines(dir: String): Seq[String] =
    mrOut(dir).flatMap(f => Files.readAllLines(Paths.get(dir, f), UTF_8).asScala).sorted

  test("writes one mr-out-<r> file per partition with 'key value' lines") {
    val dir = root.resolve("basic").toString
    val counts = Seq(("apple", "3"), ("pear", "2"), ("plum", "7"), ("fig", "1"))
      .toDF("key", "value")
    counts.repartition(3, col("key"))
      .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq === Seq("mr-out-0", "mr-out-1", "mr-out-2"))
    // sort(cat mr-out*) ≡ expected — exactly test-mr.sh:59's check
    val lines = files.flatMap(f =>
      scala.io.Source.fromFile(s"$dir/$f").getLines()).sorted
    assert(lines.toSeq === Seq("apple 3", "fig 1", "pear 2", "plum 7"))
    // no temp litter after job commit
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp")))
  }

  test("non-ASCII and supplementary-plane keys round-trip byte-exact as UTF-8") {
    // the committed bytes must not depend on the platform default charset
    val dir = root.resolve("utf8").toString
    val rows = Seq(("héllo", "1"), ("wörld", "ß"), ("日本語", "2"),
      ("𝐀𝐁", "😀"), ("plain", "x"))
    rows.toDF("key", "value").coalesce(1)
      .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    val got = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "mr-out-0"))
    val expected = rows.map { case (k, v) => s"$k $v\n" }.mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(got.toSeq === expected.toSeq)
  }

  test("full reference pipeline through DSv2: WholeFileSource → map/reduce → KvTextSink") {
    // F1→F9 end-to-end on the connector API: whole-file scan, wc
    // closures, partitioned text commit — then the test-mr.sh check
    // (sort cat mr-out* against the expected corpus counts).
    val in = Files.createDirectory(root.resolve("e2e_in"))
    Map("d1.txt" -> "to be or not to be", "d2.txt" -> "be quick").foreach {
      case (n, s) => Files.write(in.resolve(n), s.getBytes("UTF-8"))
    }
    val out = root.resolve("e2e_out").toString
    val records = spark.read.format("graft.sources.WholeFileSource").load(in.toString)
      .select(col("path").as("key"), col("content").as("value"))
      .as[graft.core.KV]
    graft.core.MapReduceJob.run(records,
        (_, text) => text.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty).map(w => graft.core.KV(w, "1")),
        (_, vs) => vs.length.toString, nReduce = 2)
      .toDF("key", "value")
      .write.format("graft.sources.KvTextSink").mode("append").save(out)
    assert(lines(out) === Seq("be 3", "not 1", "or 1", "quick 1", "to 2"))
  }

  test("overwrite replaces the old run's mr-out set at commit (nReduce 5 → 2)") {
    val dir = root.resolve("overwrite").toString
    val first = Seq(("apple", "3"), ("pear", "2"), ("plum", "7"), ("fig", "1")).toDF("key", "value")
    first.repartition(5, col("key"))
      .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    assert(mrOut(dir) === (0 until 5).map(r => s"mr-out-$r"))
    val second = Seq(("kiwi", "9"), ("pear", "4"), ("lime", "5")).toDF("key", "value")
    second.repartition(2, col("key"))
      .write.format("graft.sources.KvTextSink").mode("overwrite").save(dir)
    assert(mrOut(dir) === Seq("mr-out-0", "mr-out-1"))
    assert(lines(dir) === Seq("kiwi 9", "lime 5", "pear 4"))
  }

  test("append into a directory that holds mr-out files fails fast, naming it") {
    val dir = root.resolve("append_twice").toString
    val df = Seq(("apple", "3"), ("pear", "2")).toDF("key", "value").repartition(2, col("key"))
    df.write.format("graft.sources.KvTextSink").mode("append").save(dir)
    val e = intercept[Exception] {
      Seq(("fig", "1")).toDF("key", "value")
        .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    }
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(lines(dir) === Seq("apple 3", "pear 2"))
  }

  test("a failed overwrite leaves the old run in place and no temp files") {
    val dir = root.resolve("failed_overwrite").toString
    Seq(("apple", "3"), ("pear", "2")).toDF("key", "value").repartition(2, col("key"))
      .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    val boom = udf((k: String) => if (k == "fig") throw new RuntimeException("injected") else k)
    val e = intercept[Exception] {
      Seq(("fig", "1"), ("kiwi", "9"), ("lime", "5")).toDF("key", "value")
        .repartition(3, col("key")).select(boom(col("key")).as("key"), col("value"))
        .write.format("graft.sources.KvTextSink").mode("overwrite").save(dir)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("injected")), e)
    assert(mrOut(dir) === Seq("mr-out-0", "mr-out-1"))
    assert(lines(dir) === Seq("apple 3", "pear 2"))
    assert(!new java.io.File(dir).list().exists(_.startsWith("_tmp")))
  }

  test("job commit deletes a killed attempt's stale _tmp file") {
    val dir = Files.createDirectory(root.resolve("stale_tmp"))
    Files.write(dir.resolve("_tmp-9-123"), "torn half-line".getBytes("UTF-8"))
    Seq(("apple", "3"), ("pear", "2")).toDF("key", "value").repartition(2, col("key"))
      .write.format("graft.sources.KvTextSink").mode("append").save(dir.toString)
    assert(!dir.toFile.list().exists(_.startsWith("_tmp")), dir.toFile.list().mkString(","))
    assert(lines(dir.toString) === Seq("apple 3", "pear 2"))
  }

  test("rejects non-(key,value) schemas at write planning") {
    // Spark's analyzer enforces the declared 2-column table schema
    // before the sink's own require() is even reached
    val dir = root.resolve("bad").toString
    val e = intercept[Exception] {
      Seq((1, "a", "b")).toDF("x", "y", "z")
        .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    }
    assert(e.getMessage.contains("INSERT_COLUMN_ARITY_MISMATCH")
      || e.getMessage.contains("exactly (key, value)"))
  }
}
