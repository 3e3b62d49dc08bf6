package graft

import org.apache.spark.sql.functions._

/** DSv2 text sink: mr-out-<r> naming, "key value" line format, and
  * partition-count control — the reference's F9 sink contract
  * (worker.go:92-97) driven through Spark's commit protocol.
  */
class KvTextSinkSpec extends SparkSuite {
  import spark.implicits._

  test("writes one mr-out-<r> file per partition with 'key value' lines") {
    val dir = s"/tmp/graft_kvsink_${System.nanoTime()}"
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
    val dir = s"/tmp/graft_kvsink_utf8_${System.nanoTime()}"
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
    val in = new java.io.File("/tmp/graft_e2e_in"); in.mkdirs()
    Map("d1.txt" -> "to be or not to be", "d2.txt" -> "be quick").foreach {
      case (n, s) => java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$in/$n"), s.getBytes("UTF-8"))
    }
    val out = s"/tmp/graft_e2e_out_${System.nanoTime()}"
    val records = spark.read.format("graft.sources.WholeFileSource").load(in.toString)
      .select(col("path").as("key"), col("content").as("value"))
      .as[graft.core.KV]
    graft.core.MapReduceJob.run(records,
        (_, text) => text.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty).map(w => graft.core.KV(w, "1")),
        (_, vs) => vs.length.toString, nReduce = 2)
      .toDF("key", "value")
      .write.format("graft.sources.KvTextSink").mode("append").save(out)
    val lines = new java.io.File(out).listFiles().filter(_.getName.startsWith("mr-out"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).sorted
    assert(lines.toSeq === Seq("be 3", "not 1", "or 1", "quick 1", "to 2"))
  }

  test("rejects non-(key,value) schemas at write planning") {
    // Spark's analyzer enforces the declared 2-column table schema
    // before the sink's own require() is even reached
    val dir = s"/tmp/graft_kvsink_bad_${System.nanoTime()}"
    val e = intercept[Exception] {
      Seq((1, "a", "b")).toDF("x", "y", "z")
        .write.format("graft.sources.KvTextSink").mode("append").save(dir)
    }
    assert(e.getMessage.contains("INSERT_COLUMN_ARITY_MISMATCH")
      || e.getMessage.contains("exactly (key, value)"))
  }
}
