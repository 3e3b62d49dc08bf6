package mrbench

/** The per-layer metrics of one traced pass. A layer the workload does
  * not run reads 0, so every workload reports the same names.
  */
object LayerMetrics {
  /** Spans opened around layer calls, by repo module. */
  val spanNames: Seq[String] = Seq(
    "sources.scan", "core.run", "sources.sink",
    "sources.parquet_scan", "functions.shingle", "queries.candidates",
    "queries.verify", "queries.cluster", "queries.keep")

  /** Listener and collector counters reported for every span. */
  val spanCounters: Seq[(String, String)] = Seq(
    "gc_s" -> "s", "spill_mb" -> "MB", "shuffle_write_mb" -> "MB",
    "busy_share" -> "ratio", "task_retries" -> "count")

  /** `<layer>_s` is the self time of the span of that name. */
  private val selfTimes: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "sources.scan", "core.run_s" -> "core.run",
    "sources.sink_s" -> "sources.sink", "sources.parquet_scan_s" -> "sources.parquet_scan",
    "functions.shingle_s" -> "functions.shingle", "queries.candidates_s" -> "queries.candidates",
    "queries.verify_s" -> "queries.verify", "queries.cluster_s" -> "queries.cluster",
    "queries.keep_s" -> "queries.keep")

  /** Counters of the core.run span reported under core.* names. */
  private val coreCounters: Seq[(String, String, String)] = Seq(
    ("core.map_task_s", "map_task_s", "s"), ("core.reduce_task_s", "reduce_task_s", "s"),
    ("core.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("core.shuffle_records", "shuffle_records", "count"),
    ("core.spill_mb", "spill_mb", "MB"), ("core.reduce_skew", "reduce_skew", "ratio"),
    ("core.busy_share", "busy_share", "ratio"))

  /** Work counts each workload's `layers` returns. */
  val counts: Seq[(String, String)] = Seq(
    "sources.scan_mb" -> "MB", "sources.scan_files" -> "count",
    "core.combine_ratio" -> "ratio",
    "sources.sink_mb" -> "MB", "sources.sink_files" -> "count",
    "functions.shingles" -> "count", "queries.candidate_pairs" -> "count",
    "queries.edges" -> "count", "queries.verify_yield" -> "ratio",
    "queries.clustered_docs" -> "count", "queries.kept_docs" -> "count")

  /** Every name a traced run reports from its passes, with its unit. */
  val names: Seq[(String, String)] =
    selfTimes.map(_._1 -> "s") ++
      coreCounters.map { case (n, _, u) => n -> u } ++ counts ++
      Seq("jvm.gc_s" -> "s", "jvm.retained_heap_mb" -> "MB") ++
      (for (s <- spanNames; (c, u) <- spanCounters) yield s"$s.$c" -> u)

  /** Metrics of the spans recorded under `runId`, plus the workload's counts. */
  def of(t: Tracer, runId: String, workCounts: Map[String, Double]): Map[String, Double] = {
    val spans = t.all.filter(_.runId == runId).map(s => s.name -> s).toMap
    val self = selfTimes.flatMap { case (n, s) => spans.get(s).map(sp => n -> t.selfS(sp)) }
    val core = spans.get("core.run").toSeq.flatMap(sp =>
      coreCounters.map { case (n, c, _) => n -> sp.counters(c) })
    val perSpan = for ((s, sp) <- spans.toSeq; (c, _) <- spanCounters) yield s"$s.$c" -> sp.counters(c)
    (self ++ core ++ perSpan).toMap ++ workCounts
  }
}
