package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Structured Streaming specs via MemoryStream: each op's streaming
  * result must equal the same transform applied in batch to the same
  * rows (stream/batch unification is the operator contract).
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val rows = Seq(
    // (tsm, user_id, event_type, value)
    (ts(1), 1L, "click", 1.0), (ts(5), 1L, "click", 2.0),
    (ts(61), 1L, "view", 3.0), (ts(62), 2L, "click", 4.0),
    (ts(130), 2L, "view", 5.0), (ts(131), 1L, "click", 6.0))

  private def runStream(
      op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mode: OutputMode,
      flush: Option[(Timestamp, Long, String, Double)] = None): Array[org.apache.spark.sql.Row] = {
    val mem = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val df = op(mem.toDF().toDF("tsm", "user_id", "event_type", "value"))
    val name = s"out_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      flush.foreach { f => mem.addData(Seq(f)); q.processAllAvailable() }
      spark.table(name).collect()
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to impressions") {
    val mi = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val mc = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val joined = StreamingOps.streamStreamJoin(
      mi.toDF().toDF("tsm", "user_id", "event_type", "value"),
      mc.toDF().toDF("tsm", "user_id", "event_type", "value"))
    val name = s"ssj_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      mi.addData(Seq((ts(1), 1L, "imp", 0.0), (ts(10), 2L, "imp", 0.0)))
      // user 1 clicks within 5 min of the impression; user 2 clicks 20
      // minutes later (outside the interval); user 3 never saw one.
      mc.addData(Seq((ts(4), 1L, "click", 7.0), (ts(30), 2L, "click", 9.0),
        (ts(6), 3L, "click", 1.0)))
      q.processAllAvailable()
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(out.toSeq === Seq((1L, ts(1).getTime / 1000, ts(4).getTime / 1000, 7.0)))
      // and the same transform on the same rows in batch agrees
      val batch = StreamingOps.streamStreamJoin(
        Seq((ts(1), 1L, "imp", 0.0), (ts(10), 2L, "imp", 0.0))
          .toDF("tsm", "user_id", "event_type", "value"),
        Seq((ts(4), 1L, "click", 7.0), (ts(30), 2L, "click", 9.0),
          (ts(6), 3L, "click", 1.0))
          .toDF("tsm", "user_id", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(batch.toSeq === out.toSeq)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits null rows after watermark expiry") {
    val mi = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val mc = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val joined = StreamingOps.streamStreamJoinOuter(
      mi.toDF().toDF("tsm", "user_id", "event_type", "value"),
      mc.toDF().toDF("tsm", "user_id", "event_type", "value"))
    val name = s"ssjo_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      mi.addData(Seq((ts(1), 1L, "imp", 0.0), (ts(2), 2L, "imp", 0.0)))
      // user 1 clicks in-window; user 2 never clicks
      mc.addData(Seq((ts(4), 1L, "click", 7.0)))
      q.processAllAvailable()
      // push the watermark far past imp+window+delay on BOTH streams so
      // the unmatched impression's null row can be certified and emitted
      mi.addData(Seq((ts(120), 9L, "imp", 0.0)))
      mc.addData(Seq((ts(120), 9L, "click", 0.0)))
      q.processAllAvailable()
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
        .filter(_._1 <= 2L).sortBy(t => (t._1, t._3))
      assert(out.toSeq === Seq(
        (1L, ts(1).getTime / 1000, ts(4).getTime / 1000, 7.0),
        (2L, ts(2).getTime / 1000, -1L, -1.0)),
        s"got ${out.toSeq}")
      // batch execution of the same transform contains the same rows
      val batch = StreamingOps.streamStreamJoinOuter(
        Seq((ts(1), 1L, "imp", 0.0), (ts(2), 2L, "imp", 0.0))
          .toDF("tsm", "user_id", "event_type", "value"),
        Seq((ts(4), 1L, "click", 7.0))
          .toDF("tsm", "user_id", "event_type", "value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
        .sortBy(t => (t._1, t._3))
      assert(batch.toSeq === out.toSeq)
    } finally q.stop()
  }

  test("streaming tumbling counts equal batch on same rows (complete mode)") {
    val streamed = runStream(StreamingOps.tumblingCounts, OutputMode.Complete())
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = StreamingOps.tumblingCounts(
      rows.toDF("tsm", "user_id", "event_type", "value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
  }

  test("streaming session windows: watermark passes → sessions finalized (append mode)") {
    val flush = (ts(24 * 60), 99L, "flush", 0.0)
    val streamed = runStream(StreamingOps.sessionCounts, OutputMode.Append(), Some(flush))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamingOps.sessionCounts(
      rows.toDF("tsm", "user_id", "event_type", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // all real sessions are older than the flush watermark → all emitted
    assert(streamed === batch, s"streamed=$streamed batch=$batch")
  }

  test("late data beyond the watermark is dropped") {
    val mem = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val df = StreamingOps.tumblingCounts(
      mem.toDF().toDF("tsm", "user_id", "event_type", "value"))
    val name = s"late_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((ts(0), 1L, "click", 1.0), (ts(300), 1L, "click", 1.0)))
      q.processAllAvailable() // watermark → 04:50
      mem.addData(Seq((ts(1), 1L, "late", 9.0))) // hour-0 window closed
      q.processAllAvailable()
      val emitted = spark.table(name).collect()
      assert(!emitted.exists(_.getString(1) == "late"),
        s"late row must be dropped, got ${emitted.mkString(",")}")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups the stream") {
    val mem = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val df = StreamingOps.dedupStream(
      mem.toDF().toDF("tsm", "user_id", "event_type", "value"), "user_id")
    val name = s"dedup_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val got = spark.table(name).collect()
      assert(got.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static anti-join incremental dedup ≡ batch dedup_incremental") {
    // stream = the batch slice (doc_id % 5 == 0), static = the corpus;
    // fed over two micro-batches, the emitted set must equal the batch
    // operator's output exactly.
    val docs = graft.core.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batchRows = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = graft.queries.Dedup.dedupIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val mem = MemoryStream[(Long, String)](spark)
    val df = StreamingOps.incrementalNewStream(
      mem.toDF().toDF("doc_id", "text"), corpus)
    val name = s"incr_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = batchRows.splitAt(batchRows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming near-dup matches ≡ batch minhashCrossScored; duplicates collapsed; unrelated silent") {
    // stream = the incremental batch slice, static corpus = the rest;
    // the emitted verified (doc_id, dup_of, jac >= 0.6) match set must
    // equal the batch cross-side MinHash operator's, across two
    // micro-batches, with the per-band re-emissions deduped by the
    // watermarked pair dedup.
    val docs = graft.core.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batchRows = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = graft.queries.Dedup.minhashCrossScored(
        docs.filter(col("doc_id") % 5 === 0), corpus)
      .filter(col("jac") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = MemoryStream[(Long, String, Timestamp)](spark)
    val df = StreamingOps.nearDupMatchesStream(
      mem.toDF().toDF("doc_id", "text", "tsm"), corpus, tau = 0.6)
    val name = s"ndup_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val timed = batchRows.zipWithIndex.map { case ((id, t), i) => (id, t, ts(i % 5)) }
      val (b1, b2) = timed.splitAt(timed.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length === rows.toSet.size, "pair dedup must collapse per-band re-emissions")
      assert(rows.toSet === expected)
      assert(rows.nonEmpty)
      // each side shingles each document once: no emptiness filter is
      // pushed below a shingle projection as a second word_shingles
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      val isShingles = (e: Expression) => e.isInstanceOf[graft.functions.WordShingles]
      assert(plan.exists(_.expressions.exists(_.exists(isShingles))), plan)
      val shingledFilters = plan.collect { case f: Filter if f.condition.exists(isShingles) => f }
      assert(shingledFilters.isEmpty, s"filters re-evaluate word_shingles:\n$plan")
    } finally q.stop()
  }

  test("foreachBatch sink: per-micro-batch upsert into external state") {
    val mem = MemoryStream[(Timestamp, Long, String, Double)](spark)
    val df = mem.toDF().toDF("tsm", "user_id", "event_type", "value")
    // the production sink pattern: each micro-batch merges into a store
    val store = scala.collection.concurrent.TrieMap.empty[Long, Double]
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.groupBy("user_id").agg(sum("value").as("s")).collect()
          .foreach(r => store.updateWith(r.getLong(0)) {
            case Some(v) => Some(v + r.getDouble(1))
            case None => Some(r.getDouble(1))
          })
      }
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((ts(1), 1L, "a", 1.0), (ts(2), 2L, "a", 2.0)))
      q.processAllAvailable()
      mem.addData(Seq((ts(3), 1L, "a", 4.0)))
      q.processAllAvailable()
      assert(store.toMap === Map(1L -> 5.0, 2L -> 2.0))
    } finally q.stop()
  }

  test("streaming CDC compaction: latest wins across batches, tombstone emitted") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val ds = StreamingOps.cdcCompactStream(mem.toDS())
    val name = s"cdc_${System.nanoTime()}"
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try {
      // (user, ts, event_id, type, value)
      mem.addData(Seq((1L, 10L * 1000000000L, 100L, "click", 1.0),
        (2L, 10L * 1000000000L, 101L, "view", 2.0)))
      q.processAllAvailable()
      // batch 2: user 1 upserts a newer value; user 2 gets a tombstone;
      // an OLDER out-of-order change for user 1 must NOT win
      mem.addData(Seq((1L, 30L * 1000000000L, 200L, "purchase", 7.0),
        (1L, 20L * 1000000000L, 150L, "click", 5.0),
        (2L, 40L * 1000000000L, 201L, "error", 0.0)))
      q.processAllAvailable()
      val latest = spark.table(name).collect()
        .groupBy(_.getLong(0))
        .map { case (u, rs) =>
          val r = rs.maxBy(_.getLong(5)) // highest n_changes = latest emission
          u -> (r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4), r.getLong(5))
        }
      assert(latest(1L) === (200L, "purchase", 7.0, 30L, 3L))
      assert(latest(2L) === (201L, "error", 0.0, 40L, 2L)) // tombstone visible
    } finally q.stop()
  }

  test("streaming LOCF: carries last observation across batches; leading error stays NULL") {
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val ds = StreamingOps.imputeLocfStream(mem.toDS())
    val name = s"locf_${System.nanoTime()}"
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: observation then nothing; user 2: error BEFORE any obs
      mem.addData(Seq((1L, 10L, 100L, "click", 5.0), (2L, 10L, 101L, "error", 0.0)))
      q.processAllAvailable()
      // batch 2: user 1's error fills from batch 1's 5.0; then a new
      // obs overrides; user 2 observes, later error fills from it
      mem.addData(Seq((1L, 20L, 200L, "error", 0.0), (1L, 30L, 201L, "view", 9.0),
        (2L, 20L, 202L, "purchase", 7.0), (2L, 30L, 203L, "error", 0.0)))
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => r.getLong(0) -> (
          if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getInt(3)))
        .toMap
      assert(got === Map(
        100L -> (Some(5.0), 0), 101L -> (None, 1),
        200L -> (Some(5.0), 1), 201L -> (Some(9.0), 0),
        202L -> (Some(7.0), 0), 203L -> (Some(7.0), 1)))
    } finally q.stop()
  }

  test("transformWithState CDC compaction ≡ mapGroupsWithState twin (RocksDB)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val ds = StreamingOps.cdcCompactStreamTws(mem.toDS())
    val name = s"cdctws_${System.nanoTime()}"
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Seq((1L, 10L * 1000000000L, 100L, "click", 1.0),
        (2L, 10L * 1000000000L, 101L, "view", 2.0)))
      q.processAllAvailable()
      mem.addData(Seq((1L, 30L * 1000000000L, 200L, "purchase", 7.0),
        (1L, 20L * 1000000000L, 150L, "click", 5.0),
        (2L, 40L * 1000000000L, 201L, "error", 0.0)))
      q.processAllAvailable()
      val latest = spark.table(name).collect()
        .groupBy(_.getLong(0))
        .map { case (u, rs) =>
          val r = rs.maxBy(_.getLong(5))
          u -> (r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4), r.getLong(5))
        }
      // identical to the mapGroupsWithState twin's expected emissions
      assert(latest(1L) === (200L, "purchase", 7.0, 30L, 3L))
      assert(latest(2L) === (201L, "error", 0.0, 40L, 2L))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("mapGroupsWithState accumulates per-user counts across batches") {
    val mem = MemoryStream[(Long, Double)](spark)
    val ds = StreamingOps.runningCounts(mem.toDS())
    val name = s"state_${System.nanoTime()}"
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)))
      q.processAllAvailable()
      mem.addData(Seq((1L, 4.0)))
      q.processAllAvailable()
      val last = spark.table(name).collect()
        .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).max }
      assert(last === Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("transformWithState running counts ≡ mapGroupsWithState twin (RocksDB store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Double)](spark)
    val ds = StreamingOps.runningCountsTws(mem.toDS())
    val name = s"tws_${System.nanoTime()}"
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)))
      q.processAllAvailable()
      mem.addData(Seq((1L, 4.0)))
      q.processAllAvailable()
      val last = spark.table(name).collect()
        .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).max }
      // identical to the mapGroupsWithState twin's expected state
      assert(last === Map(1L -> 3L, 2L -> 1L))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel emits each stage once, across batches, in order") {
    val mem = MemoryStream[(Timestamp, Long, String)](spark)
    val ds = StreamingOps.funnelStages(
      mem.toDF().toDF("tsm", "user_id", "event_type"))
    val name = s"funnel_${System.nanoTime()}"
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: u1 views then clicks; u2 clicks BEFORE viewing (no-op)
      mem.addData(Seq((ts(1), 1L, "view"), (ts(2), 1L, "click"),
        (ts(1), 2L, "click"), (ts(3), 2L, "view")))
      q.processAllAvailable()
      // batch 2: u1 purchases (stage 3 across batches); u2 clicks after
      // its view (stage 2); duplicate u1 view must not re-emit stage 1
      mem.addData(Seq((ts(10), 1L, "purchase"), (ts(11), 2L, "click"),
        (ts(12), 1L, "view")))
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val base = ts(0).getTime / 1000
      assert(got === Set(
        (1L, 1, base + 60), (1L, 2, base + 120), (1L, 3, base + 600),
        (2L, 1, base + 180), (2L, 2, base + 660)))
    } finally q.stop()
  }

  test("checkpointed file-source → file-sink restart is exactly-once") {
    // The production durability contract: a replayable source + WAL
    // checkpoint + idempotent sink. Kill the query, add data, restart
    // from the same checkpoint — every input row lands exactly once.
    val base = s"/tmp/graft_ckpt_${System.nanoTime()}"
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    new java.io.File(in).mkdirs()
    def addBatch(name: String, from: Int, n: Int): Unit = {
      val lines = (from until from + n).map(i => s"""{"k": $i, "v": "r$i"}""")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema("k LONG, v STRING").json(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    addBatch("b1.json", 0, 5)
    runOnce()
    addBatch("b2.json", 5, 7)
    runOnce() // restart from checkpoint — b1 must not be reprocessed
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 12L))
  }

  test("Misra-Gries aggregation state survives a checkpointed restart") {
    import spark.implicits._
    // The sketch-state durability contract: the (counters, n) buffer is
    // part of the streaming aggregation state, so a query killed and
    // restarted from its checkpoint must resume the count — a token
    // that only crosses its share threshold ACROSS the restart boundary
    // proves state carried over (a reset would leave it under).
    val base = s"/tmp/graft_mg_ckpt_${System.nanoTime()}"
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    new java.io.File(in).mkdirs()
    val k = 32
    val share = 0.4
    def addBatch(name: String, toks: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        toks.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamingOps.frequentTokensStream(
        spark.readStream.schema("value STRING").format("text").load(in).as[String],
        k, share)
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.coalesce(1).write.mode("overwrite").json(out)
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: 120 distinct singleton noise tokens — n grows to 120,
    // nothing certifiable (every counter <= 1, bound = 0.4·120 − 3.6)
    addBatch("b1.txt", (0 until 120).map(i => s"u$i"))
    runOnce()
    val after1 = spark.read.json(out).collect()
    assert(!after1.exists(_.toString.contains("probe")) &&
      !after1.exists(_.toString.contains("ctrl")))
    // batch 2 after RESTART: probe×95 + ctrl×150. With batch-1 state
    // carried, n = 365 and the certification bound is ~135: ctrl
    // (counter >= 150 − 11) certifies, probe (<= 95) cannot. If the
    // restart RESET the state, n = 245 and the bound drops to ~91 —
    // probe would certify too. So after restart: ctrl present AND
    // probe absent <=> the (counters, n) buffer survived.
    addBatch("b2.txt", (0 until 95).map(_ => "probe") ++
      (0 until 150).map(_ => "ctrl"))
    runOnce()
    val after2 = spark.read.json(out).collect().map(_.toString).mkString
    assert(after2.contains("ctrl"), s"query broken or ctrl lost: $after2")
    assert(!after2.contains("probe"),
      s"probe certified => batch-1 state was lost across restart: $after2")
  }

  test("streaming anomaly alerts ≡ batch events_anomaly on ordered input") {
    import spark.implicits._
    // planted hourly volumes per type: steady 10s with a spike (50) and
    // a dip (1); type b steady (never alerts)
    val volumes = Map(
      "a" -> Seq(10L, 11L, 10L, 9L, 10L, 50L, 10L, 1L, 10L, 10L),
      "b" -> Seq(5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L))
    val evs: Seq[(java.sql.Timestamp, String)] = (for {
      (typ, cs) <- volumes.toSeq
      (c, h) <- cs.zipWithIndex
      i <- 0L until c
    } yield (new java.sql.Timestamp(h * 3600000L + i * 1000L), typ))
      .sortBy(_._1.getTime)
    val flushHour = 100L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)](spark)
    val out = StreamingOps.anomalyAlerts(mem.toDF().toDF("tsm", "event_type"))
    val name = s"anom_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // split mid-hour across micro-batches: open-hour state must carry
      val (b1, b2) = evs.splitAt(evs.length / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      // flush: close the final open hours
      mem.addData(Seq((new java.sql.Timestamp(flushHour * 3600000L), "a"),
        (new java.sql.Timestamp(flushHour * 3600000L), "b")))
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      val hourly = volumes.toSeq.flatMap { case (t, cs) =>
        cs.zipWithIndex.map { case (c, h) => (t, h.toLong, c) }
      }.toDF("event_type", "hour", "c")
      val batch = graft.queries.EventOps.eventsAnomalyOn(hourly).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .filter(_._2 < flushHour).toSet
      assert(streamed === batch)
      assert(streamed.exists(r => r._1 == "a" && r._2 == 5L && r._5 >= 2.0),
        s"spike not flagged: $streamed")
      // the hour-7 dip is NOT flagged: once the spike joins the history
      // the baseline sd balloons (~16), so z(1) ≈ -1 — faithful z-score
      // behavior, identical in both engines by the equality above
      assert(!streamed.exists(r => r._1 == "a" && r._2 == 7L))
      assert(!streamed.exists(_._1 == "b"))
    } finally q.stop()
  }

  test("streaming EWMA ≡ batch events_ewma on ordered input") {
    import spark.implicits._
    val volumes = Map(
      "a" -> Seq(10L, 11L, 10L, 9L, 10L, 50L, 10L, 1L, 10L, 10L),
      "b" -> Seq(5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L))
    val evs: Seq[(java.sql.Timestamp, String)] = (for {
      (typ, cs) <- volumes.toSeq
      (c, h) <- cs.zipWithIndex
      i <- 0L until c
    } yield (new java.sql.Timestamp(h * 3600000L + i * 1000L), typ))
      .sortBy(_._1.getTime)
    val flushHour = 100L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)](spark)
    val out = StreamingOps.ewmaStream(mem.toDF().toDF("tsm", "event_type"))
    val name = s"ewma_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // split mid-hour across micro-batches: open-hour state must carry
      val (b1, b2) = evs.splitAt(evs.length / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(Seq((new java.sql.Timestamp(flushHour * 3600000L), "a"),
        (new java.sql.Timestamp(flushHour * 3600000L), "b")))
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val hourly = volumes.toSeq.flatMap { case (t, cs) =>
        cs.zipWithIndex.map { case (c, h) => (t, h.toLong, c) }
      }.toDF("event_type", "hour", "c")
      val batch = graft.queries.EventOps.eventsEwmaOn(hourly).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .filter(_._2 < flushHour).toSet
      assert(streamed === batch)
      // spike at hour 5 pulls the smoothed value up but well below 50
      val spike = streamed.find(r => r._1 == "a" && r._2 == 5L).get
      assert(spike._4 > 10.0 && spike._4 < 50.0, s"smoothing broken: $spike")
      // steady series stays at its level
      assert(streamed.filter(_._1 == "b").forall(_._4 === 5.0))
    } finally q.stop()
  }

  test("streaming Misra-Gries candidates certify the true heavy hitters across micro-batches") {
    import spark.implicits._
    val k = 32
    val share = 0.2 // static validity: 0.2 > 1/(k+1) — runs forever
    // 3 micro-batches; "needle" holds >= 20% of the whole stream, so
    // state must merge across batches. 60 distinct noise tokens per
    // batch keep eviction pressure on.
    def batch(b: Int): Seq[String] =
      (0 until 50).map(_ => "needle") ++ (0 until 60).map(i => s"noise-$b-$i")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](spark)
    val out = StreamingOps.frequentTokensStream(mem.toDS(), k, share)
    val name = s"mg_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    try {
      (0 until 3).foreach { b => mem.addData(batch(b)); q.processAllAvailable() }
      val cands = spark.table(name).collect()(0).getSeq[String](0)
      assert(cands.contains("needle"), s"lost across batches: $cands")
      assert(cands.size <= k)
      // exact verify over the full stream ≡ naive batch answer, the
      // same two-pass contract as Sketches.heavyHittersMgOn
      val all = (0 until 3).flatMap(batch)
      val t = math.ceil(share * all.size).toLong
      val exact = all.groupBy(identity).filter(_._2.size >= t).keySet
      val verified = all.filter(cands.contains).groupBy(identity)
        .filter(_._2.size >= t).keySet
      assert(verified === exact && exact === Set("needle"))
    } finally q.stop()
  }

  test("streaming embedding near-dup matches ≡ batch LSH bucket-join + cosine verify") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val streamRows = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), new Timestamp(1000L), r.getSeq[Double](1))).toSeq
    val tau = 0.95
    // batch expectation: same bucket-join + verify, computed directly
    def prep(df: org.apache.spark.sql.DataFrame, idc: String) = df
      .select(col("vec_id").as(idc), col("embedding").cast("array<double>").as(s"v_$idc"))
      .withColumn(s"n_$idc", sqrt(graft.functions.DotProduct.dotCol(col(s"v_$idc"), col(s"v_$idc"))))
      .filter(col(s"n_$idc") > 0)
    val sSide = prep(emb.filter(col("vec_id") % 5 === 0), "a")
      .select(col("a"), col("v_a"), col("n_a"),
        posexplode_outer(call_function("hyperplane_sigs_dedup", col("v_a"))))
      .toDF("a", "v_a", "n_a", "table_id", "sig")
    val cSide = prep(corpus, "b")
      .select(col("b"), col("v_b"), col("n_b"),
        posexplode_outer(call_function("hyperplane_sigs_dedup", col("v_b"))))
      .toDF("b", "v_b", "n_b", "table_id", "sig")
    val expected = sSide.join(cSide, Seq("table_id", "sig"))
      .select(col("a"), col("b"),
        (graft.functions.DotProduct.dotCol(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("a"), col("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = MemoryStream[(Long, Timestamp, Seq[Double])](spark)
    val df = StreamingOps.embeddingMatchesStream(
      mem.toDF().toDF("vec_id", "tsm", "v"), corpus, tau)
    val name = s"embm_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // plant an exact copy of a corpus vector: it MUST match its twin
      val twin = corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy("vec_id").limit(1).collect()(0)
      val planted = (999999L, new Timestamp(1000L), twin.getSeq[Double](1))
      val (b1, b2) = streamRows.splitAt(streamRows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2 :+ planted); q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((999999L, twin.getLong(0))),
        "planted exact copy must match its corpus twin")
      assert(got.filter(_._1 != 999999L) === expected)
    } finally q.stop()
  }

  test("streaming quantile sketch ≡ batch at every trigger (hash-order membership)") {
    import spark.implicits._
    val prep = graft.core.Tables.documents(spark, sfDir)
      .select(col("source"),
        ((conv(substring(md5(concat(lit("qsk:"), col("doc_id").cast("string"))), 1, 12),
          16, 10).cast("double") + lit(0.5)) / lit(281474976710656.0)).as("h"),
        size(graft.queries.Dedup.tokensCol(col("text"))).cast("long").as("ntok"))
      .as[(String, Double, Long)]
      .collect().toSeq
    val expected = graft.queries.Sketches.quantileSketch(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val mem = MemoryStream[(String, Double, Long)](spark)
    val df = StreamingOps.quantileStream(mem.toDS())
    val name = s"quant_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = prep.splitAt(prep.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("streaming as-of enrichment ≡ batch join_asof, across micro-batches") {
    val ev = graft.core.Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = graft.queries.Temporal.joinAsof(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.toString), Option(r.get(4)).map(_.toString))).toSet
    val mem = MemoryStream[(Long, Long, Long)](spark)
    val df = StreamingOps.asofEnrichStream(
      mem.toDF().toDF("user_id", "ts", "purchase_id"), clicks)
    val name = s"asof_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = purchases.splitAt(purchases.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.toString), Option(r.get(4)).map(_.toString))).toSet
      assert(got === expected)
      assert(got.exists(_._4.isEmpty) || got.nonEmpty)
    } finally q.stop()
  }

  test("streaming PIT enrichment ≡ batch join_pit, across micro-batches") {
    val expected = graft.queries.EventOps.joinPit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    val views = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), expr("ts DIV 1000000000").as("s"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val changes = graft.queries.EventOps.scd2Changes(spark, sfDir)
    val mem = MemoryStream[(Long, Long, Long)](spark)
    val df = StreamingOps.pitEnrichStream(
      mem.toDF().toDF("user_id", "s", "event_id"), changes)
    val name = s"pit_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = views.splitAt(views.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
      assert(got === expected)
      assert(got.exists(_._4 >= 0), "some view must resolve a tier")
    } finally q.stop()
  }

  test("streaming model gate ≡ batch model_gate_stream scores, row for row") {
    val expected = graft.queries.Classifier.modelGate(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val vec = graft.queries.Classifier.featurize(spark, sfDir)
    val w = graft.queries.Classifier.trainWeights(vec)
    vec.unpersist(false)
    val docRows = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)](spark)
    val df = StreamingOps.modelGateStream(
      mem.toDF().toDF("doc_id", "text"), w)
    val name = s"gate_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = docRows.splitAt(docRows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      assert(got === expected)
      assert(got.exists(_._3 == 1) && got.exists(_._3 == 0),
        "gate should route both ways on this corpus")
    } finally q.stop()
  }
}
