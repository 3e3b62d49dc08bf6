package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Micro-batch throughput bench for the Structured Streaming
  * operators: each op processes [[Rows]] deterministic synthetic
  * events through a MemoryStream in [[Chunks]] micro-batch barriers
  * (addData + processAllAvailable per chunk — the per-batch planning
  * overhead is part of the cost a real trigger pays), and the
  * artifact records rows/s. StreamingSpec certifies these operators'
  * CORRECTNESS against batch twins; this records their THROUGHPUT so
  * a stateful-path regression is visible round over round
  * (STREAMBENCH.json, repo-tracked).
  *
  * Usage: Test/runMain graft.tools.StreamingBench [nRows]
  */
object StreamingBench {

  val Rows = 200000
  val Chunks = 10

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else Rows
    val spark = ScaleTools.session()
    // State-partition sizing knob (r13 flag #7): a stateful op's
    // per-micro-batch floor is the state-store commit fan-out —
    // partitions × stores-per-op file commits every batch, regardless
    // of rows (a stream-stream join keeps FOUR stores per side). At
    // this bench's 20k rows/batch, 32 partitions means the join pays
    // ~256 commits/batch of pure overhead; real deployments size
    // state partitions to sustained rows/s, not to the batch CPU
    // count. The env knob exists to measure that curve.
    sys.env.get("SPARK_GRAFT_STREAM_PARTS")
      .foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
    import spark.implicits._

    val types = Array("view", "click", "purchase", "search")
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // ~200 events/min, 997 users — enough key/window structure that
    // state stores and session gaps do real work
    val rows: IndexedSeq[(Timestamp, Long, String, Double)] =
      (0 until n).map { i =>
        (new Timestamp(base + (i.toLong / 200) * 60000L),
          (i % 997).toLong, types(i % 4), (i % 100) / 10.0)
      }
    val chunks = rows.grouped(math.max(1, n / Chunks)).toSeq

    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]

    def bench(name: String, mode: OutputMode)(
        op: DataFrame => DataFrame): Unit = {
      val mem = MemoryStream[(Timestamp, Long, String, Double)](spark)
      val sink = s"sb_$name"
      val q = op(mem.toDF().toDF("tsm", "user_id", "event_type", "value"))
        .writeStream.format("memory").queryName(sink).outputMode(mode).start()
      try {
        val t0 = System.nanoTime()
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        // flush: one far-future event advances the watermark so
        // session/window state closes and append-mode rows emit
        mem.addData(Seq((new Timestamp(base + 86400000L * 2), 0L, "view", 0.0)))
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        results(name) = (wall, spark.table(sink).count())
      } finally q.stop()
    }

    bench("tumbling", OutputMode.Complete())(StreamingOps.tumblingCounts)
    bench("sliding", OutputMode.Complete())(StreamingOps.slidingCounts)
    bench("session_window", OutputMode.Append())(StreamingOps.sessionCounts)
    bench("dedup", OutputMode.Append())(StreamingOps.dedupStream(_, "user_id"))
    bench("anomaly_fmgws", OutputMode.Append())(
      StreamingOps.anomalyAlerts(_).toDF())
    bench("ewma_fmgws", OutputMode.Append())(StreamingOps.ewmaStream(_).toDF())
    bench("funnel_fmgws", OutputMode.Append())(
      StreamingOps.funnelStages(_).toDF())

    // typed running counts (flatMapGroupsWithState over (user, value))
    locally {
      val mem = MemoryStream[(Long, Double)](spark)
      val q = StreamingOps.runningCounts(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("sb_running")
        .outputMode(OutputMode.Update()).start()
      try {
        val t0 = System.nanoTime()
        rows.map(r => (r._2, r._4)).grouped(math.max(1, n / Chunks))
          .foreach { c => mem.addData(c); q.processAllAvailable() }
        results("running_fmgws") =
          ((System.nanoTime() - t0) / 1e9, spark.table("sb_running").count())
      } finally q.stop()
    }

    // stream-stream interval join: impressions vs clicks
    locally {
      val mi = MemoryStream[(Timestamp, Long, String, Double)](spark)
      val mc = MemoryStream[(Timestamp, Long, String, Double)](spark)
      val q = StreamingOps.streamStreamJoin(
          mi.toDF().toDF("tsm", "user_id", "event_type", "value"),
          mc.toDF().toDF("tsm", "user_id", "event_type", "value"))
        .writeStream.format("memory").queryName("sb_ssjoin")
        .outputMode(OutputMode.Append()).start()
      try {
        // alternate rows between the two sides so every user appears
        // on both (a parity-by-user split would have zero matches)
        val (ie, ce) = rows.zipWithIndex.partition(_._2 % 2 == 0)
        val imps = ie.map(_._1); val clicks = ce.map(_._1)
        val ic = imps.grouped(math.max(1, imps.size / Chunks)).toSeq
        val cc = clicks.grouped(math.max(1, clicks.size / Chunks)).toSeq
        val t0 = System.nanoTime()
        ic.zipAll(cc, IndexedSeq.empty, IndexedSeq.empty).foreach {
          case (a, b) =>
            if (a.nonEmpty) mi.addData(a)
            if (b.nonEmpty) mc.addData(b)
            q.processAllAvailable()
        }
        val flush = Seq((new Timestamp(base + 86400000L * 2), 0L, "x", 0.0))
        mi.addData(flush); mc.addData(flush)
        q.processAllAvailable()
        results("stream_stream_join") =
          ((System.nanoTime() - t0) / 1e9, spark.table("sb_ssjoin").count())
      } finally q.stop()
    }

    def fmt(v: Double) = math.round(v * 1000) / 1000.0
    val body = results.map { case (k, (wall, out)) =>
      s"""    "$k": {"rows": $n, "wall_sec": ${fmt(wall)}, """ +
        s""""rows_per_sec": ${math.round(n / wall)}, "out_rows": $out}"""
    }.mkString(",\n")
    val json =
      s"""{
         |  "metric": "streaming_throughput",
         |  "rows_per_op": $n,
         |  "micro_batches": $Chunks,
         |  "state_partitions": ${spark.conf.get("spark.sql.shuffle.partitions")},
         |  "ops": {
         |$body
         |  }
         |}""".stripMargin
    // repo-root artifact (the Bench.scala convention)
    var p = java.nio.file.Paths.get("").toAbsolutePath
    while (p.getParent != null &&
      !java.nio.file.Files.exists(p.resolve("build.sbt"))) p = p.getParent
    java.nio.file.Files.writeString(p.resolve("STREAMBENCH.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
