package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over an event stream with schema
  * (tsm timestamp, user_id long, event_type string, value double) —
  * the readStream twins of graft.queries.EventOps' batch queries
  * ([EXT]; the reference is strictly batch with a hard phase barrier,
  * SURVEY.md §2.3, master.go:203-223).
  *
  * Each transform takes any DataFrame (streaming or batch) so tests
  * can assert stream≡batch on the same rows. Watermarks bound state:
  * at 100 TB/day the state store only keeps windows newer than the
  * watermark; everything older is emitted and dropped.
  */
object StreamingOps {

  /** Tumbling 1-hour counts per event_type; late data beyond 10
    * minutes is dropped by the watermark.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("tsm", "10 minutes")
      .groupBy(window(col("tsm"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_val"))
      .select(col("window.start").cast("long").as("wstart"), col("event_type"),
        col("n"), col("sum_val"))

  /** Sliding 1-hour/15-minute windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("tsm", "10 minutes")
      .groupBy(window(col("tsm"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("wstart"), col("n"))

  /** Session windows (30-minute gap) per user — streaming session
    * state merges adjacent sessions as events arrive.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("tsm", "10 minutes")
      .groupBy(session_window(col("tsm"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").cast("long").as("sstart"),
        col("n"))

  /** Streaming exact dedup on a key column within the watermark — the
    * streaming face of Dedup.dedupExact (state = one row per key seen).
    */
  def dedupStream(events: DataFrame, keyCol: String): DataFrame =
    events
      .withWatermark("tsm", "10 minutes")
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming INCREMENTAL ingest dedup — the streaming face of
    * Dedup.dedupIncremental: a continuously-arriving document stream
    * anti-joined against the standing corpus's digest set (stream-
    * static left anti join; the static side re-plans per micro-batch,
    * so a corpus refresh is picked up without restarting the query).
    * Emits only stream docs whose exact text is NOT in the corpus —
    * the first gate of a continuously-fed pipeline, append mode,
    * stateless (the corpus IS the state).
    *
    * Scale: both sides reduce to 32-byte digests before the join, as
    * in batch; at 100 TB the static side stays a shuffle-side hash
    * build (or a bloom-prefilter per dedupIncrementalBloom) — the
    * stream never holds corpus state.
    */
  def incrementalNewStream(docStream: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes =
      corpus.select(sha2(col("text"), 256).as("text_hash")).distinct()
    docStream
      .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"))
      .join(corpusHashes, Seq("text_hash"), "left_anti")
      .select(col("doc_id"), col("text_hash"))
  }

  /** Streaming NEAR-dup match stream — the MinHash+LSH face of
    * [[incrementalNewStream]]: each arriving document is signature-
    * banded in-row (the same md5/mod-P `minhash_buckets` chain the
    * batch path uses), candidate corpus docs come from a stream-static
    * equi-join on (band, bucket), and each candidate is exact-Jaccard
    * verified against the corpus shingle sets. Emits one row per
    * VERIFIED match (doc_id, dup_of, jac >= tau) — the alert/routing
    * stream a continuously-fed curation pipeline consumes (the
    * keep/drop gate itself composes this with the exact-path anti
    * join). Append mode and fully STATELESS: every operator is a
    * per-row map or a stream-static join, so there is no watermark,
    * no state store, and a corpus refresh re-plans into the next
    * micro-batch.
    *
    * The docStream must carry an ingest timestamp `tsm`: a pair found
    * in several bands would re-emit per band, and a streaming DISTINCT
    * is stateful — the watermark bounds that dedup state to the
    * 10-minute ingest horizon instead of growing forever (the same
    * contract as [[dedupStream]]).
    *
    * Scale: the stream never holds corpus state; the static bucket
    * and shingle tables are the SAME digests the batch operator
    * shuffles, computed once per micro-batch plan (persist the corpus
    * frames across batches on a real cluster). Per-row cost is the
    * O(shingles) signature pass + candidate fan-out ∝ true near-dups;
    * the only state store is the watermark-bounded pair dedup.
    */
  def nearDupMatchesStream(docStream: DataFrame, corpus: DataFrame,
      tau: Double): DataFrame = {
    // shingle once per document on both sides: the emptiness filter sits
    // above a one-element explode_outer, so it cannot be pushed below the
    // projection as a second word_shingles (see Dedup.nonEmptyShingles)
    val corpusSh = graft.queries.Dedup.nonEmptyShingles(corpus)
      .withColumnRenamed("doc_id", "dup_of")
    val corpusBands = corpusSh
      .select(col("dup_of"), posexplode_outer(graft.functions.MinHashBuckets.bucketsCol(col("sh"))))
      .toDF("dup_of", "band", "bucket")
    docStream
      .withWatermark("tsm", "10 minutes")
      .select(col("doc_id"), col("tsm"),
        explode_outer(array(graft.queries.Dedup.textShingles)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("tsm"), col("sh").as("sa"),
        posexplode_outer(graft.functions.MinHashBuckets.bucketsCol(col("sh"))))
      .toDF("doc_id", "tsm", "sa", "band", "bucket")
      .join(corpusBands, Seq("band", "bucket"))
      .join(corpusSh.select(col("dup_of"), col("sh").as("sb")), "dup_of")
      .select(col("doc_id"), col("tsm"), col("dup_of"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb")) -
            size(array_intersect(col("sa"), col("sb"))))).as("jac"))
      .filter(col("jac") >= tau)
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
      .select(col("doc_id"), col("dup_of"), col("jac"))
  }

  /** Model-gated streaming ingest: score each arriving document with
    * the BATCH-trained hashed-BoW classifier and route accept/reject
    * at margin >= 0 — the "distilled quality filter in front of the
    * ingest firehose" a production pipeline runs. The weights are a
    * plan-time literal array (train batch-side with
    * [[graft.queries.Classifier]], broadcast by value): the stream
    * holds NO model state, so the query is stateless append mode and
    * a model refresh is a plan swap, not a state migration.
    *
    * The featurize here is IN-ROW (token-dim histogram via
    * higher-order functions — O(Dims·tokens) per row, map-only)
    * instead of batch featurize's token-level shuffle: a streaming
    * groupBy(doc) would be a stateful aggregation for no reason when
    * the whole vector fits in one row's evaluation. Arithmetic is
    * ingredient-for-ingredient the batch chain ([[graft.queries
    * .Classifier.featurizeOn]]): same md5 dim hash, same tf·Dims
    * scaling, same bias slot, same 1e-6 margin rounding — so scores
    * are bit-identical to the oracle-gated batch twin
    * (`model_gate_stream` in the registry; equality is
    * StreamingSpec-asserted row-for-row).
    */
  def modelGateStream(docStream: DataFrame, weights: Array[Double]): DataFrame = {
    val dims = graft.queries.Classifier.Dims
    val wl = array(weights.toIndexedSeq.map(lit): _*)
    docStream
      .withColumn("ws", graft.queries.Dedup.tokensCol(col("text")))
      .filter(size(col("ws")) > 0)
      .withColumn("x", concat(
        transform(sequence(lit(0), lit(dims - 1)), dm =>
          size(filter(col("ws"), t => graft.queries.Classifier.dimOf(t) === dm))
            .cast("double") / size(col("ws")) * lit(dims.toDouble)),
        array(lit(1.0))))
      .select(col("doc_id"),
        (floor(graft.functions.DotProduct.dotCol(col("x"), wl) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("score"))
      .withColumn("accept", (col("score") >= 0).cast("int"))
  }

  /** Streaming EMBEDDING near-dup matches — the vector face of
    * [[nearDupMatchesStream]], completing the streaming dedup triad
    * (exact anti-join, MinHash text, hyperplane-LSH embeddings): each
    * arriving vector is signature-banded in-row (the same
    * deterministic sin-formula hyperplanes the batch path uses),
    * candidates come from a stream-static equi-join on (table, sig),
    * and each candidate is exact-cosine verified against the corpus.
    * Emits one row per verified match (vec_id, dup_of, cos >= tau).
    * Stateless except the watermark-bounded pair dedup (a pair found
    * in several tables would re-emit per table); corpus state never
    * enters the stream.
    */
  def embeddingMatchesStream(vecStream: DataFrame, corpus: DataFrame,
      tau: Double): DataFrame = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.DotProduct.dotCol(a, b)
    val cvec = corpus
      .select(col("vec_id").as("dup_of"), col("embedding").cast("array<double>").as("vb"))
      .withColumn("nb", sqrt(dot(col("vb"), col("vb"))))
      .filter(col("nb") > 0)
    val cBuckets = cvec
      .select(col("dup_of"), posexplode_outer(graft.functions.HyperplaneSigs.dedupCol(col("vb"))))
      .toDF("dup_of", "table_id", "sig")
    vecStream
      .withWatermark("tsm", "10 minutes")
      .select(col("vec_id"), col("tsm"), col("v").cast("array<double>").as("va"))
      .withColumn("na", sqrt(dot(col("va"), col("va"))))
      .filter(col("na") > 0)
      .select(col("vec_id"), col("tsm"), col("va"), col("na"),
        posexplode_outer(graft.functions.HyperplaneSigs.dedupCol(col("va"))))
      .toDF("vec_id", "tsm", "va", "na", "table_id", "sig")
      .join(cBuckets, Seq("table_id", "sig"))
      .join(cvec, "dup_of")
      .select(col("vec_id"), col("tsm"), col("dup_of"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
      .dropDuplicatesWithinWatermark("vec_id", "dup_of")
      .select(col("vec_id"), col("dup_of"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Streaming per-source quantile estimates: the SAME mergeable
    * bottom-k-by-hash sketch the batch quantile_sketch query uses,
    * run as a streaming complete-mode typed aggregation — Spark keeps
    * the O(k) (h, v) buffer per source as query state and merges each
    * micro-batch's partials with the identical rule that combines
    * map-side partials in batch. Because sample membership depends
    * only on hash ORDER (never arrival order), every trigger's output
    * is EXACTLY the batch answer over the rows seen so far — the
    * property ingestion-order-dependent sketches (t-digest/KLL)
    * cannot offer a stream.
    */
  def quantileStream(rows: org.apache.spark.sql.Dataset[(String, Double, Long)]): DataFrame =
    graft.queries.Sketches.quantileOf(rows)

  /** Streaming as-of enrichment: each arriving purchase resolves its
    * most recent at-or-before click from the STATIC per-user sorted
    * history arrays — [[graft.queries.Temporal.asofLookupOn]] run with
    * a streaming left side. Stateless append mode: the only join is a
    * stream-static equi-join on user_id and the lookup itself is
    * in-row, so no state store, no watermark, and a history refresh
    * re-plans into the next micro-batch — the only as-of form
    * Structured Streaming can run without custom stateful operators.
    */
  def asofEnrichStream(purchaseStream: DataFrame, clicks: DataFrame): DataFrame =
    graft.queries.Temporal.asofLookupOn(purchaseStream, clicks)

  /** Streaming point-in-time enrichment: each arriving view resolves
    * the SCD2 tier valid at its timestamp from the STATIC per-user
    * sorted version arrays — [[graft.queries.EventOps.pitLookupOn]]
    * with a streaming view side. Stateless append mode (stream-static
    * equi-join + in-row lookup): no state store, no watermark; a
    * version-table refresh re-plans into the next micro-batch. The
    * serving-time feature lookup matching the training-time join_pit —
    * same code path ⇒ zero training-serving skew by construction.
    */
  def pitEnrichStream(viewStream: DataFrame, changes: DataFrame): DataFrame =
    graft.queries.EventOps.pitLookupOn(viewStream, changes)

  /** Streaming heavy-hitter candidates: the SAME mergeable Misra-Gries
    * state the batch path uses, run as a streaming global aggregation —
    * Spark keeps the (counters, n) buffer as query state and merges
    * each micro-batch's partial summary into it with the identical
    * Agarwal-et-al. rule that combines map-side partials in batch.
    * Complete output mode: every trigger emits the current certified
    * set.
    *
    * The threshold is a SHARE of the stream (freq >= share·n), not an
    * absolute count: on an unbounded stream n grows forever, so an
    * absolute-threshold summary would eventually violate its k > n/T
    * precondition and fail every subsequent trigger (including after
    * checkpoint restart). The share form's validity condition
    * (share > 1/(k+1)) is static — the query runs indefinitely.
    */
  def frequentTokensStream(toks: org.apache.spark.sql.Dataset[String],
      k: Int, share: Double): DataFrame =
    toks
      .select(graft.functions.MisraGriesShareAggregator.frequentCandidates(k, share))
      .toDF("candidates")

  /** Stream-stream interval join: clicks attribute to the impression
    * of the same user at most `windowMin` minutes earlier. Both sides
    * carry watermarks and the join condition bounds event-time distance,
    * so the state store can evict impressions older than
    * watermark + windowMin — bounded state at any throughput (the
    * unbounded-state stream join is the classic 100 TB/day failure
    * mode). Inputs share the events schema (tsm, user_id, event_type,
    * value).
    */
  def streamStreamJoin(imps: DataFrame, clicks: DataFrame, windowMin: Int = 5): DataFrame = {
    val i = imps.withWatermark("tsm", "10 minutes").as("i")
    val c = clicks.withWatermark("tsm", "10 minutes").as("c")
    i.join(c,
      expr(s"""i.user_id = c.user_id AND
              |c.tsm >= i.tsm AND
              |c.tsm <= i.tsm + interval $windowMin minutes""".stripMargin))
      .select(col("i.user_id").as("user_id"),
        col("i.tsm").cast("long").as("imp_s"),
        col("c.tsm").cast("long").as("click_s"),
        col("c.value").as("click_val"))
  }

  /** LEFT OUTER stream-stream interval join — the hard Structured
    * Streaming case on top of [[streamStreamJoin]]: every impression
    * row is emitted exactly once, matched pairs as clicks arrive and
    * UNMATCHED impressions with NULL click columns once the watermark
    * proves no in-window click can still arrive (outer null emission
    * requires both the watermark and the time-bound join condition —
    * drop either and Spark rejects the query). State per key is
    * bounded by the watermark horizon, the property that lets this
    * run forever on an unbounded stream.
    */
  def streamStreamJoinOuter(imps: DataFrame, clicks: DataFrame,
      windowMin: Int = 5): DataFrame = {
    val i = imps.withWatermark("tsm", "10 minutes").as("i")
    val c = clicks.withWatermark("tsm", "10 minutes").as("c")
    i.join(c,
        expr(s"""i.user_id = c.user_id AND
                |c.tsm >= i.tsm AND
                |c.tsm <= i.tsm + interval $windowMin minutes""".stripMargin),
        "leftOuter")
      .select(col("i.user_id").as("user_id"),
        col("i.tsm").cast("long").as("imp_s"),
        col("c.tsm").cast("long").as("click_s"),
        col("c.value").as("click_val"))
  }

  final case class CdcState(ts: Long, eventId: Long, etype: String,
    value: Double, n: Long)
  final case class CdcOut(user_id: Long, last_event_id: Long,
    last_type: String, last_value: Double, last_s: Long, n_changes: Long)

  /** Streaming CDC compaction — the stateful twin of
    * graft.queries.Temporal.cdcMerge: per-key latest-wins snapshot
    * maintained across micro-batches with mapGroupsWithState. Each
    * batch re-emits every touched key's refreshed snapshot row
    * (Update mode), INCLUDING tombstone winners (`error` rows) so a
    * downstream materializer can delete the key — the reader keeps
    * the latest emission per key and drops `error` types, which is
    * exactly the batch operator's output. State is O(1) per live key:
    * the winning (ts, event_id, type, value) plus a change count.
    *
    * Input: (user_id, ts, event_id, event_type, value) tuples; ts is
    * epoch-nanos (Tables.events convention).
    */
  def cdcCompactStream(
      changes: Dataset[(Long, Long, Long, String, Double)]): Dataset[CdcOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_._1)
      .mapGroupsWithState[CdcState, CdcOut](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(Long.MinValue, Long.MinValue, "", 0.0, 0L))
          rows.foreach { case (_, ts, id, tpe, v) =>
            st =
              if (ts > st.ts || (ts == st.ts && id > st.eventId))
                CdcState(ts, id, tpe, v, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          CdcOut(user, st.eventId, st.etype, st.value,
            Math.floorDiv(st.ts, 1000000000L), st.n)
      }
  }

  final case class LocfOut(event_id: Long, user_id: Long,
    value_filled: java.lang.Double, imputed: Int)

  /** Streaming LOCF imputation — the stateful twin of
    * graft.queries.EventOps.imputeLocf: per-key carry of the last
    * observed (non-`error`) reading across micro-batches via
    * flatMapGroupsWithState. Rows within a batch are ordered by
    * (ts, event_id) before folding (the batch-twin contract: the same
    * fold order as the window's ORDER BY); state is one (ts, id,
    * value) triple per live key. Emits one row per input event —
    * `error` events get the carried value with imputed=1, keys with
    * no prior observation stay NULL.
    *
    * Input: (user_id, ts, event_id, event_type, value). Assumes
    * in-order arrival ACROSS batches per key (the anomalyAlerts/EWMA
    * precedent); a watermarked buffer would lift that at the cost of
    * state.
    */
  def imputeLocfStream(
      events: Dataset[(Long, Long, Long, String, Double)]): Dataset[LocfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Double, Boolean), LocfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[(Long, Long, Double, Boolean)]) =>
          var (lastTs, lastId, lastV, has) =
            state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0.0, false))
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).map {
            case (_, ts, id, tpe, v) =>
              if (tpe != "error") { lastTs = ts; lastId = id; lastV = v; has = true
                LocfOut(id, user, v, 0)
              } else LocfOut(id, user, if (has) lastV else null, 1)
          }
          state.update((lastTs, lastId, lastV, has))
          out.iterator
      }
  }

  /** [[cdcCompactStream]] on the transformWithState API
    * ([[CdcCompactProcessor]]) — Update mode, RocksDB-backed state.
    */
  def cdcCompactStreamTws(
      changes: Dataset[(Long, Long, Long, String, Double)]): Dataset[CdcOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_._1)
      .transformWithState(new CdcCompactProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final case class UserCount(user_id: Long, n: Long)

  /** Custom keyed state via mapGroupsWithState: running event count per
    * user (the minimal flatMapGroupsWithState-family example; state is
    * one long per key, timeout-free).
    */
  def runningCounts(events: Dataset[(Long, Double)]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserCount(user, n)
      }
  }

  /** The same running-count operator on Spark 4's transformWithState
    * API ([[RunningCountProcessor]]) — the successor of
    * mapGroupsWithState: typed named-state handles (ValueState /
    * ListState / MapState) instead of one opaque blob, explicit
    * TimeMode, per-state TTL, and schema-evolvable state. Requires the
    * RocksDB state-store provider (set
    * `spark.sql.streaming.stateStore.providerClass` to
    * RocksDBStateStoreProvider on the query's session). Update mode;
    * output equals [[runningCounts]] trigger-for-trigger
    * (StreamingSpec).
    */
  def runningCountsTws(events: Dataset[(Long, Double)]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class AnomalyState(openHour: Long, openCount: Long,
    closed: List[(Long, Long)]) // trailing <=24 closed (hour, count)
  final case class AnomalyOut(event_type: String, hour: Long, c: Long,
    mean24: Double, z: Double)

  /** Streaming volume-anomaly alerts — the stateful twin of the batch
    * `events_anomaly` query. State per event_type: the currently open
    * hour's running count plus the trailing <=24 CLOSED (hour, count)
    * pairs — constant size per key regardless of event volume. When an
    * event for a LATER hour arrives, the open hour closes: it is
    * z-scored against the closed history (same explicit mean/sd
    * arithmetic and same |z| >= 2, >=2-prior-rows, sd>0 gates as the
    * batch window form, which scores each hour against its 24 PRIOR
    * rows) and appended to the history. On event-time-ordered input
    * the emitted alerts are EXACTLY the batch query's rows for every
    * closed hour (StreamingSpec asserts set equality after a flush
    * event); out-of-order events older than the open hour are dropped
    * (the watermark analog — documented, matching dedupStream's
    * within-watermark contract).
    *
    * Memory bound: the STATE is constant per key, but each trigger
    * materializes and sorts the key's micro-batch rows before folding
    * them (the same per-trigger shape as the funnel above), so
    * transient memory is O(events per key per trigger). A burst
    * micro-batch concentrated on one event_type pressures its task;
    * bound trigger size (maxOffsetsPerTrigger / trigger interval) if
    * bursts are expected.
    */
  def anomalyAlerts(events: DataFrame): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    // match Spark's round() exactly (HALF_UP on the shortest decimal
    // repr — BigDecimal.valueOf semantics), incl. negative z values
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    events
      .select(col("event_type"), col("tsm"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state: GroupState[AnomalyState]) =>
          var s = state.getOption.getOrElse(AnomalyState(-1L, 0L, Nil))
          val out = scala.collection.mutable.ListBuffer.empty[AnomalyOut]
          def close(): Unit = if (s.openHour >= 0) {
            val prior = s.closed
            val n = prior.length
            if (n >= 2) {
              val sum = prior.map(_._2).sum.toDouble
              val ss = prior.map(p => p._2.toDouble * p._2).sum
              val mean = sum / n
              val v = (ss - sum * sum / n) / (n - 1)
              if (v > 0) {
                val z = (s.openCount - mean) / math.sqrt(v)
                if (math.abs(z) >= 2.0)
                  out += AnomalyOut(typ, s.openHour, s.openCount, r4(mean), r4(z))
              }
            }
            // chronological append, trailing 24 kept
            s = s.copy(closed = (s.closed :+ ((s.openHour, s.openCount))).takeRight(24))
          }
          rows.toSeq.map(_._2.getTime / 3600000L).sorted.foreach { h =>
            if (s.openHour < 0) s = s.copy(openHour = h, openCount = 1L)
            else if (h == s.openHour) s = s.copy(openCount = s.openCount + 1L)
            else if (h > s.openHour) {
              close()
              s = s.copy(openHour = h, openCount = 1L)
            } // h < openHour: late event beyond the open hour — dropped
          }
          state.update(s)
          out.iterator
      }
  }

  final case class EwmaOut(event_type: String, hour: Long, c: Long,
    ewma: Double)

  /** Streaming EWMA smoother — the stateful twin of the batch
    * `events_ewma` query. Same state machine as [[anomalyAlerts]]
    * (open hour + trailing 24 closed observations per type, constant
    * size); on each hour close it folds EventOps.ewmaWeights over the
    * closing count and the trailing 23 closed counts IN THE BATCH
    * QUERY'S TERM ORDER (k = 0..23, most-recent first). The batch lag
    * chain adds literal 0.0 for absent lags and IEEE `x + 0.0 ≡ x`,
    * so skipping absent terms here is bit-identical — stream ≡ batch
    * exactly, not approximately (StreamingSpec asserts set equality).
    *
    * Per-trigger cost: one sort of each key's micro-batch rows (the
    * funnel/anomaly pattern — per-trigger buffering proportional to
    * events per key per batch), then O(EwmaWindow) per closed hour.
    */
  def ewmaStream(events: DataFrame): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val wts = graft.queries.EventOps.ewmaWeights
    events
      .select(col("event_type"), col("tsm"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state: GroupState[AnomalyState]) =>
          var s = state.getOption.getOrElse(AnomalyState(-1L, 0L, Nil))
          val out = scala.collection.mutable.ListBuffer.empty[EwmaOut]
          def close(): Unit = if (s.openHour >= 0) {
            val prior = s.closed.reverse // most recent observation first
            var num = s.openCount.toDouble * wts(0)
            var den = wts(0)
            var k = 1
            while (k < graft.queries.EventOps.EwmaWindow && k - 1 < prior.length) {
              num += prior(k - 1)._2.toDouble * wts(k)
              den += wts(k)
              k += 1
            }
            out += EwmaOut(typ, s.openHour, s.openCount,
              math.floor(num / den * 1e4 + 0.5) / 1e4)
            s = s.copy(closed = (s.closed :+ ((s.openHour, s.openCount))).takeRight(24))
          }
          rows.toSeq.map(_._2.getTime / 3600000L).sorted.foreach { h =>
            if (s.openHour < 0) s = s.copy(openHour = h, openCount = 1L)
            else if (h == s.openHour) s = s.copy(openCount = s.openCount + 1L)
            else if (h > s.openHour) {
              close()
              s = s.copy(openHour = h, openCount = 1L)
            } // h < openHour: late event beyond the open hour — dropped
          }
          state.update(s)
          out.iterator
      }
  }

  final case class FunnelState(vts: Long, cts: Long, pts: Long) // -1 = not reached
  final case class StageOut(user_id: Long, stage: Int, ts_s: Long)

  /** Streaming funnel — the stateful twin of the batch
    * `events_funnel` query: a per-user stage machine (first view →
    * first click at-or-after it → first purchase at-or-after that)
    * that emits each stage transition exactly once, across batches.
    * State is three longs per user — constant size regardless of
    * event volume, the invariant that keeps 100 TB of events
    * streamable. Input: (tsm timestamp, user_id, event_type).
    */
  def funnelStages(events: DataFrame): Dataset[StageOut] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("tsm"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, StageOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ListBuffer.empty[StageOut]
          // sort within the batch: micro-batch arrival order is not
          // event-time order
          rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t, typ) =>
            val ts = t.getTime / 1000
            typ match {
              case "view" if s.vts < 0 =>
                s = s.copy(vts = ts); out += StageOut(user, 1, ts)
              case "click" if s.vts >= 0 && s.cts < 0 && ts >= s.vts =>
                s = s.copy(cts = ts); out += StageOut(user, 2, ts)
              case "purchase" if s.cts >= 0 && s.pts < 0 && ts >= s.cts =>
                s = s.copy(pts = ts); out += StageOut(user, 3, ts)
              case _ => ()
            }
          }
          state.update(s)
          out.iterator
      }
  }
}

/** transformWithState processor for
  * [[StreamingOps.runningCountsTws]]: one named ValueState[Long] per
  * user. Top-level class (not an inner/anonymous one) so the
  * serialized processor carries no outer reference.
  */
/** [[StreamingOps.cdcCompactStream]]'s latest-wins fold on Spark 4's
  * transformWithState API — typed ValueState holding the winning
  * (ts, id, type, value, n) tuple per key. StreamingSpec certifies it
  * emission-for-emission equal to the mapGroupsWithState twin across
  * micro-batches (the runningCounts/runningCountsTws pairing applied
  * to the CDC operator).
  */
class CdcCompactProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, String, Double), StreamingOps.CdcOut] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[StreamingOps.CdcState] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    st = getHandle.getValueState[StreamingOps.CdcState]("cdc",
      org.apache.spark.sql.Encoders.product[StreamingOps.CdcState],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long, String, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[StreamingOps.CdcOut] = {
    var s = if (st.exists()) st.get()
      else StreamingOps.CdcState(Long.MinValue, Long.MinValue, "", 0.0, 0L)
    rows.foreach { case (_, ts, id, tpe, v) =>
      s =
        if (ts > s.ts || (ts == s.ts && id > s.eventId))
          StreamingOps.CdcState(ts, id, tpe, v, s.n + 1)
        else s.copy(n = s.n + 1)
    }
    st.update(s)
    Iterator.single(StreamingOps.CdcOut(key, s.eventId, s.etype, s.value,
      Math.floorDiv(s.ts, 1000000000L), s.n))
  }
}

class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), StreamingOps.UserCount] {
  @transient private var countState:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    countState = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[StreamingOps.UserCount] = {
    val n = (if (countState.exists()) countState.get() else 0L) + rows.size
    countState.update(n)
    Iterator.single(StreamingOps.UserCount(key, n))
  }
}
