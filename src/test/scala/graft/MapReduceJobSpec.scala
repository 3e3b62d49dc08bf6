package graft

import java.nio.file.Files

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.core.{KV, MapReduceJob}

/** Parity tests for the MapReduce closure ABI, mirroring the
  * reference's test strategy (differential vs a naive sequential model,
  * fault injection, parallelism probe — test-mr.sh).
  */
class MapReduceJobSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    KV("d1", "the quick brown fox, the lazy dog!"),
    KV("d2", "héllo wörld — hello world"),
    KV("d3", ""),
    KV("d4", "a a a b 99 b"))

  private val wcMap: (String, String) => Seq[KV] =
    (_, text) => "[^\\p{L}]+".r.split(text).toSeq.filter(_.nonEmpty).map(w => KV(w, "1"))
  private val wcReduce: (String, Seq[String]) => String =
    (_, vs) => vs.size.toString
  /** wc's count as a sum: the combiner, and a reducer of combined counts. */
  private val wcSum: (String, Seq[String]) => String =
    (_, vs) => vs.map(_.toLong).sum.toString

  /** Naive single-threaded model = mrsequential.go's role. */
  private def naiveWc(ds: Seq[KV]): Map[String, String] =
    ds.flatMap(r => wcMap(r.key, r.value))
      .groupBy(_.key)
      .map { case (k, vs) => k -> vs.size.toString }

  test("wc via run matches naive sequential model") {
    val got = MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got === naiveWc(docs))
  }

  test("run with combine (combiner path) equals run without (final-only path)") {
    val a = MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce)
      .collect().map(kv => kv.key -> kv.value).toSet
    val b = MapReduceJob.run(spark.createDataset(docs), wcMap, wcSum, combine = Some(wcSum))
      .collect().map(kv => kv.key -> kv.value).toSet
    assert(a === b)
  }

  test("reduce sees all values per key; value order is the app's job (crash-agg)") {
    // A5 semantics: reducef sorts values itself (crash.go:48-52)
    val aggReduce: (String, Seq[String]) => String =
      (_, vs) => vs.sorted.mkString(" ")
    val got = MapReduceJob.run(spark.createDataset(docs),
      (doc, text) => Seq(KV("a", doc), KV("c", text.length.toString)),
      aggReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got("a") === "d1 d2 d3 d4")
    assert(got("c") === docs.map(_.value.length.toString).sorted.mkString(" "))
  }

  test("run is one nReduce-way hash exchange: partition r holds the keys with pmod(hash(key), nReduce) = r") {
    val nReduce = 3
    for ((reducef, combine) <- Seq(wcReduce -> None, wcSum -> Some(wcSum))) {
      val out = MapReduceJob.run(spark.createDataset(docs), wcMap, reducef, nReduce,
        combine = combine)
      assert(out.collect().map(kv => kv.key -> kv.value).toMap === naiveWc(docs))
      // the executed (final adaptive) plan: the grouping reuses the exchange
      val plan = out.queryExecution.executedPlan
      val exchanges = MapReduceJobSpec.Plans.collect(plan) { case e: Exchange => e }
      assert(exchanges.size === 1, s"expected exactly one exchange:\n$plan")
      exchanges.head.outputPartitioning match {
        case HashPartitioning(Seq(k: Attribute), n) =>
          assert(k.name === "key" && n === nReduce, plan)
        case other => fail(s"expected hashpartitioning(key, $nReduce), got $other:\n$plan")
      }
      assert(out.rdd.getNumPartitions === nReduce)
      val placed = out.toDF()
        .select(spark_partition_id().as("pid"), pmod(hash(col("key")), lit(nReduce)).as("want"))
        .collect()
      assert(placed.length === naiveWc(docs).size)
      assert(placed.forall(r => r.getInt(0) == r.getInt(1)), placed.mkString(", "))
    }
  }

  test("with combine, a hot key's reduce sees at most one value per map task") {
    val mapTasks = 4
    val occurrences = 500
    val corpus = (0 until mapTasks).map(i => KV(s"d$i", ("hot " * occurrences) + "cold rare"))
    val records = spark.createDataset(spark.sparkContext.parallelize(corpus, mapTasks))
    val hotValues = spark.sparkContext.longAccumulator("hot values")
    val sumCountingHot = MapReduceJobSpec.sumCounting("hot", hotValues)
    def hotValuesSeen(combine: Option[(String, Seq[String]) => String]): Long = {
      hotValues.reset()
      val got = MapReduceJob.run(records, wcMap, sumCountingHot, nReduce = 3, combine = combine)
        .collect().map(kv => kv.key -> kv.value).toMap
      assert(got === naiveWc(corpus))
      hotValues.value
    }
    assert(hotValuesSeen(None) === mapTasks * occurrences)
    assert(hotValuesSeen(Some(wcSum)) <= mapTasks)
  }

  test("a map task holding more keys than the combiner's cap flushes and still reduces every key") {
    // one map task: "hot", then more distinct letter-only keys than the
    // cap, then "hot" again, so the flush ships "hot" twice
    val cap = MapReduceJob.CombineKeys
    val key = (i: Int) =>
      "k" + Integer.toString(i, 26).map(d => if (d.isDigit) (d - '0' + 'q').toChar else d)
    val doc = KV("d0", ("hot" +: (0 to cap).map(key) :+ "hot").mkString(" "))
    val hotValues = spark.sparkContext.longAccumulator("hot values")
    val sumCountingHot = MapReduceJobSpec.sumCounting("hot", hotValues)
    val got = MapReduceJob.run(spark.createDataset(Seq(doc)), wcMap, sumCountingHot,
      combine = Some(wcSum))
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got.size === cap + 2)
    assert(got === naiveWc(Seq(doc)))
    assert(hotValues.value === 2)
  }

  test("runPlugin(\"indexer\") into KvTextSink commits nReduce mr-out files of the reference's lines") {
    val out = Files.createTempDirectory("mrout").resolve("indexer").toString
    MapReduceJob.runPlugin(spark.createDataset(docs), "indexer", nReduce = 4).toDF()
      .write.format("graft.sources.KvTextSink").mode("append").save(out)
    val files = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("mr-out-"))
    assert(files.sorted.toSeq === (0 until 4).map(r => s"mr-out-$r"))
    val lines = files.toSeq.flatMap(f => Files.readAllLines(
      java.nio.file.Paths.get(out, f), java.nio.charset.StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq)
    val expected = docs
      .flatMap(d => wcMap(d.key, d.value).map(_.key).distinct.map(_ -> d.key))
      .groupBy(_._1).toSeq
      .map { case (w, ps) => s"$w ${ps.size} ${ps.map(_._2).sorted.mkString(",")}" }
    assert(lines.sorted === expected.sorted)
  }

  test("WholeFileSource reads whole files as records with path keys (worker.go:102-109 parity)") {
    val dir = Files.createTempDirectory("mrin")
    Files.writeString(dir.resolve("f1.txt"), "alpha beta")
    Files.writeString(dir.resolve("f2.txt"), "gamma")
    val recs = spark.read.format("graft.sources.WholeFileSource").load(dir.toString)
      .select(col("path").as("key"), col("content").as("value")).as[KV].collect()
    assert(recs.map(_.key).toSet === Set("f1.txt", "f2.txt").map(n => dir.resolve(n).toString))
    assert(recs.map(_.value).toSet === Set("alpha beta", "gamma"))
  }

  test("KvTextSink commits run output as 'key value' lines (worker.go:92 parity)") {
    val out = Files.createTempDirectory("mrout").resolve("wc").toString
    MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce, nReduce = 3).toDF()
      .write.format("graft.sources.KvTextSink").mode("append").save(out)
    assert(MapReduceJobSpec.mrOut(out).values.flatten.toSet ===
      naiveWc(docs).map { case (k, v) => s"$k $v" }.toSet)
  }

  test("task failure is retried and output matches no-fault run (crash.go analog)") {
    val noFault = MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce)
      .collect().map(kv => kv.key -> kv.value).toSet
    val base = wcMap // local copy — the lambda must not capture the suite
    val faultyMap: (String, String) => Seq[KV] = (doc, text) => {
      if (doc == "d1" && TaskContext.get() != null && TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException("injected crash (first attempt)")
      base(doc, text)
    }
    val got = MapReduceJob.run(spark.createDataset(docs), faultyMap, wcReduce)
      .collect().map(kv => kv.key -> kv.value).toSet
    assert(got === noFault)
  }

  test("reduce-side failure is retried and output matches no-fault run (crash.go:45-55 analog)") {
    // The reference injects crashes in BOTH phases; a reducef throw
    // exercises the post-shuffle retry (shuffle-fetch replay) path.
    val clean = MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce)
      .collect().map(kv => kv.key -> kv.value).toSet
    val base = wcReduce
    val faultyReduce: (String, Seq[String]) => String = (k, vs) => {
      if (k == "the" && TaskContext.get() != null && TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException("injected reduce crash (first attempt)")
      base(k, vs)
    }
    val got = MapReduceJob.run(spark.createDataset(docs), wcMap, faultyReduce)
      .collect().map(kv => kv.key -> kv.value).toSet
    assert(got === clean)
  }

  test("run under the suite's spark.speculation=true context (F11 backup tasks, master.go:111-127) runs green") {
    // spark.speculation is a scheduler conf, fixed at context start —
    // the only scope Spark offers; the job result is unchanged under it.
    assert(spark.sparkContext.getConf.getBoolean("spark.speculation", defaultValue = false))
    val got = MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got === naiveWc(docs))
    val gotCombined = MapReduceJob.run(spark.createDataset(docs), wcMap, wcSum,
      combine = Some(wcSum))
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(gotCombined === naiveWc(docs))
  }

  test("KvTextSink files hold run output hash-placed by key (worker.go:113-117 parity)") {
    // mr-out-r holds exactly the keys with pmod(hash(key), nReduce) = r
    val out = Files.createTempDirectory("mrout").resolve("wc_bykey").toString
    MapReduceJob.run(spark.createDataset(docs), wcMap, wcReduce, nReduce = 3).toDF()
      .write.format("graft.sources.KvTextSink").mode("append").save(out)
    val placed = MapReduceJobSpec.mrOut(out).toSeq.flatMap { case (f, ls) =>
      ls.map(l => (l.split(" ")(0), f.stripPrefix("mr-out-").toInt))
    }
    assert(placed.map(_._1).toSet === naiveWc(docs).keySet)
    val want = placed.toDF("key", "r")
      .select(col("key"), pmod(hash(col("key")), lit(3)).as("want")).as[(String, Int)]
      .collect().toMap
    assert(placed.forall { case (k, r) => want(k) == r }, placed)
  }

  test("ServiceLoader plugin ABI: name-resolved apps match closure runs (mrworker.go:34-51 parity)") {
    val viaPlugin = MapReduceJob.runPlugin(spark.createDataset(docs), "wc")
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(viaPlugin === naiveWc(docs))
    // second registry entry resolves independently
    val idx = MapReduceJob.runPlugin(spark.createDataset(docs), "indexer")
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(idx("the") === "1 d1") // one doc contains "the"
    assert(idx("a") === "1 d4")
    val e = intercept[IllegalArgumentException](graft.core.MapReducePlugin.load("nope"))
    assert(e.getMessage.contains("wc") && e.getMessage.contains("indexer"))
  }

  test("map tasks run in parallel (mtiming analog)") {
    val probe = spark.sparkContext.collectionAccumulator[(Long, Long)]("spans")
    spark.sparkContext.parallelize(1 to 4, 4).foreachPartition { _ =>
      val t0 = System.currentTimeMillis()
      Thread.sleep(300)
      probe.add((t0, System.currentTimeMillis()))
    }
    val spans = probe.value
    assert(spans.size === 4)
    val overlapping = (for {
      i <- 0 until spans.size(); j <- 0 until spans.size() if i < j
      (a1, a2) = (spans.get(i)._1, spans.get(i)._2)
      (b1, b2) = (spans.get(j)._1, spans.get(j)._2)
    } yield a1 < b2 && b1 < a2).count(identity)
    assert(overlapping >= 1, s"no concurrent tasks observed: $spans")
  }

  test("A6/F11 executor-PROCESS death: SIGKILL'd executor JVM mid-map, job completes correctly (crash.go os.Exit parity)") {
    // the shared suite context is local[4,2] (one JVM) — a multi-
    // process cluster needs its own SparkContext, so the probe forks:
    // graft.tools.ExecutorDeathProbe runs local-cluster[2,1,1024],
    // halts one executor JVM mid-map via an atomically-claimed marker,
    // and exits 0 only if the job finished with sequential-model rows
    // a Spark distribution is required (the forked Worker launches
    // executors from it) — resolve from SPARK_HOME, falling back to
    // the CI image's /opt/spark; SKIP (not fail) on hosts without one
    // (ADVICE r13)
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    assume(new java.io.File(sparkHome, "bin").isDirectory,
      s"no Spark distribution at $sparkHome — probe skipped")
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx1g",
      // standalone Worker resolves the executor launch home from
      // spark.test.home / SPARK_HOME
      "-Dspark.test.home=" + sparkHome,
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ExecutorDeathProbe")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", sparkHome)
    // normally set by bin/load-spark-env.sh, which this direct java
    // launch bypasses; the Worker's executor command builder needs it
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val code = p.waitFor()
    assert(code == 0 && out.contains("[executor-death] ok"),
      s"probe failed (exit $code):\n${out.takeRight(6000)}")
  }

  test("mr_pipeline stages under spark.graft.scratchDir when set (cluster-safe path)") {
    val root = Files.createTempDirectory("graft_scratch").toString
    spark.conf.set("spark.graft.scratchDir", root)
    try {
      val out = graft.queries.Parity.mrPipeline(spark, sfDir).collect()
      assert(out.nonEmpty)
      val staged = new java.io.File(root).listFiles()
      val names = staged.map(_.getName)
      // staged inputs are reclaimed once the sink write consumes them —
      // a corpus copy must not leak onto the shared root per run
      assert(!names.exists(_.startsWith("graft_mr_in-")),
        s"staged input dir leaked under $root")
      assert(names.exists(_.startsWith("graft_mr_out-")), s"no sink dir under $root")
      val outFiles = staged.find(_.getName.startsWith("graft_mr_out-")).get.listFiles()
      assert(outFiles.exists(_.getName.startsWith("mr-out-")), "sink wrote no mr-out-<r> files")
    } finally spark.conf.unset("spark.graft.scratchDir")
  }
}

object MapReduceJobSpec {
  /** Plan traversal that descends into adaptive query stages. */
  object Plans extends AdaptiveSparkPlanHelper

  /** wc's sum reducer that also adds to `seen` how many values reach `key`. */
  def sumCounting(key: String, seen: LongAccumulator): (String, Seq[String]) => String =
    (k, vs) => {
      if (k == key) seen.add(vs.size.toLong)
      vs.map(_.toLong).sum.toString
    }

  /** Each committed mr-out file's lines, by file name. */
  def mrOut(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("mr-out-"))
      .map(f => f.getName -> Files.readAllLines(f.toPath, java.nio.charset.StandardCharsets.UTF_8)
        .toArray(Array.empty[String]).toSeq)
      .toMap
}
