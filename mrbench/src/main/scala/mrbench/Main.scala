package mrbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Heap the program still holds once a job is done. Spark frees
  * broadcast and shuffle state from a cleaner thread after a collection
  * finds it unreachable, so this collects, gives the cleaner time, and
  * collects again before reading the heap.
  */
object RetainedHeap {
  def sampleMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** The benchmark entry point: one closed-loop client running one job at a
  * time on local[nproc]. See BENCHMARK.json at the repo root for the
  * workloads and metrics.
  *
  * {{{
  * mrbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one info line (input properties and raw timings) and then, as
  * the last line, the result object. Exits 1 when any output fails its
  * correctness check.
  */
object Main {
  /** Session starts per run; setup_s is their median. A warm restart
    * takes about 0.1 s, so it takes this many to steady the median.
    */
  val SetupReps = 11

  /** `size` is "full" from the command line; the benchmark's own tests
    * run "tiny" inputs.
    */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, size: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val args = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath.normalize, size = "full")
    require(Workloads.names.contains(args.workload),
      s"unknown workload '${args.workload}'; expected one of ${Workloads.names.mkString(", ")}")
    require(args.seconds >= 1, "--seconds must be at least 1")
    args
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("mrbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The status store still records every job; bounded, so that its
      // growth over a run does not add to the later jobs' GC.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start, extension registration and plugin load: what every
    * job submission pays before its first stage.
    */
  def setUp(cores: Int, work: Path): SparkSession = {
    val s = session(cores, work)
    // Extensions are applied when the session state is first built.
    require(s.sessionState.functionRegistry.functionExists(FunctionIdentifier("word_shingles")),
      "graft.GraftExtensions did not register word_shingles")
    graft.core.MapReducePlugin.load("indexer")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def fmt(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Iterable[_] => xs.map(fmt).mkString("[", ",", "]")
    case o => o.toString
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], info: Seq[(String, Any)]) {
    def lines: Seq[String] = Seq(
      obj(info),
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
        metrics.map { case (k, v, u) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
          .mkString("{", ",", "}") + "}")
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(s"mrbench: ${e.getMessage}"); sys.exit(2)
    }
    val r = run(args)
    r.lines.foreach(println)
    System.out.flush()
    sys.exit(if (r.correct) 0 else 1)
  }

  def run(args: Args): Result = {
    val cores = Runtime.getRuntime.availableProcessors
    val work = args.work
    rmTree(work)
    Files.createDirectories(work)

    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = setUp(cores, work)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    try {
      val g0 = System.nanoTime()
      val w = Workloads(args.workload, spark, work.resolve("in"), args.seed, args.size)
      val genS = (System.nanoTime() - g0) / 1e9
      val inputMb = w.inputBytes / 1e6
      var attempted = 0
      var failed = 0
      val errors = mutable.ArrayBuffer.empty[String]
      var outN = 0
      val cpuLog = mutable.ArrayBuffer.empty[Double]
      def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

      /** Runs `body` into a fresh output dir, then checks and deletes the
        * output and drops leaked cached blocks, all outside the timing.
        */
      def attempt(exact: Boolean)(body: Path => Unit): Double = {
        outN += 1
        val out = work.resolve(s"out-$outN")
        attempted += 1
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        val err =
          try { body(out); None }
          catch { case e: Exception => Some(s"job failed: $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        cpuLog += (cpuNs() - c0) / 1e9
        err.orElse(w.check(out, exact)).foreach { e => failed += 1; errors += e }
        rmTree(out)
        graft.core.ModelCache.sweepLeakedBlocks(spark)
        wall
      }

      val coldS = attempt(exact = true)(w.job)
      val coldCpuS = cpuLog.head
      // The first half of the window warms the JIT up (checked, not
      // timed); the second half is measured.
      val start = System.nanoTime()
      val warmUntil = start + args.seconds * 500000000L
      val deadline = start + args.seconds * 1000000000L
      while (System.nanoTime() < warmUntil) attempt(exact = false)(w.job)
      def more(n: Int, min: Int) = n < min || System.nanoTime() < deadline
      val info = mutable.ArrayBuffer[(String, Any)](
        "workload" -> args.workload, "seed" -> args.seed, "size" -> args.size,
        "cores" -> cores, "gen_s" -> genS, "input_mb" -> inputMb, "cold_job_s" -> coldS,
        "cold_job_cpu_s" -> coldCpuS, "setup_times_s" -> setupTimes.toSeq)
      info ++= w.properties.map { case (k, v) => s"input.$k" -> v }

      val metrics =
        if (!args.trace) {
          val times = mutable.ArrayBuffer.empty[Double]
          val gcs = mutable.ArrayBuffer.empty[Double]
          while (more(times.size, 3)) {
            val gc0 = Tracer.gcMs()
            times += attempt(exact = false)(w.job)
            gcs += (Tracer.gcMs() - gc0) / 1e3
          }
          info += "job_gc_s" -> gcs.toSeq
          val jobS = median(times.toSeq)
          info += "job_times_s" -> times.toSeq
          info += "job_cpu_s" -> cpuLog.takeRight(times.size).toSeq
          Seq(
            ("setup_s", median(setupTimes.toSeq), "s"),
            ("cold_job_cpu_s", coldCpuS, "s"),
            ("job_s", jobS, "s"),
            ("throughput_mb_s", inputMb / jobS, "MB/s"),
            ("retained_heap_mb", RetainedHeap.sampleMb(), "MB"))
        } else traced(args, w, spark, cores, attempt, more, info)

      if (errors.nonEmpty) errors.foreach(e => System.err.println(s"mrbench: INCORRECT: $e"))
      info += "failed_share" -> failed.toDouble / attempted
      Result(errors.isEmpty, attempted, failed, metrics, info.toSeq)
    } finally {
      spark.stop()
      rmTree(work.resolve("in"))
      rmTree(work.resolve("spark-local"))
    }
  }

  /** The traced pass: untraced full jobs, traced full jobs and layered
    * passes, interleaved so drift hits all three alike.
    */
  private def traced(args: Args, w: Workload, spark: SparkSession, cores: Int,
      attempt: Boolean => (Path => Unit) => Double, more: (Int, Int) => Boolean,
      info: mutable.ArrayBuffer[(String, Any)]): Seq[(String, Double, String)] = {
    val t = new Tracer(spark, cores)
    val plain, full = mutable.ArrayBuffer.empty[Double]
    val perRep = mutable.ArrayBuffer.empty[Map[String, Double]]
    var rep = 0
    while (more(rep, 2)) {
      val runId = s"${args.workload}-${args.seed}-$rep"
      var jvmGcS = 0.0
      def tracedJob(): Unit = {
        t.attach()
        t.beginRun(runId)
        val gc0 = Tracer.gcMs()
        full += attempt(false)(out => t.span(s"${w.name}.job")(w.job(out)))
        jvmGcS = (Tracer.gcMs() - gc0) / 1e3
        t.detach()
      }
      // Alternate which of the pair runs first, so neither always
      // follows the layered pass.
      if (rep % 2 == 0) { plain += attempt(false)(w.job); tracedJob() }
      else { tracedJob(); plain += attempt(false)(w.job) }
      val retainedMb = RetainedHeap.sampleMb()
      var counts = Map.empty[String, Double]
      t.attach()
      attempt(false) { out =>
        counts = t.span(s"${w.name}.layers")(w.layers(out, t))._1
      }
      t.detach()
      perRep += LayerMetrics.of(t, runId, counts) + ("jvm.gc_s" -> jvmGcS) +
        ("jvm.retained_heap_mb" -> retainedMb)
      rep += 1
    }
    val trace = args.work.getParent.resolve(s"trace-${args.workload}.jsonl")
    t.write(trace)
    info += "trace" -> trace.toString
    info += "traced_reps" -> rep
    val overhead = median(full.toSeq) / median(plain.toSeq) - 1
    LayerMetrics.names.map { case (n, unit) =>
      (n, median(perRep.toSeq.map(_.getOrElse(n, 0.0))), unit)
    } ++ Seq(
      ("trace_overhead_share", overhead, "ratio"))
  }
}
