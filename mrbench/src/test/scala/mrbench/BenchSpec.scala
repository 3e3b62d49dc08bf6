package mrbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Runs the benchmark at the tiny size and checks it against its own
  * contract: the metric names and units BENCHMARK.json declares, and a
  * correctness gate that rejects corrupted output.
  */
class BenchSpec extends AnyFunSuite {
  private val base = Paths.get("target", "test-work").toAbsolutePath
  private val bench = new ObjectMapper().readTree(
    Paths.get("..", "BENCHMARK.json").toFile)

  private def declared(key: String): Seq[(String, String)] =
    bench.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private def args(w: String, trace: Boolean) =
    Main.Args(w, seed = 5, seconds = 1, trace = trace, work = base.resolve(s"run-$w-$trace"),
      size = "tiny")

  for (w <- Workloads.names; trace <- Seq(false, true)) {
    test(s"$w with trace=$trace reports every declared metric with its unit") {
      val r = Main.run(args(w, trace))
      assert(r.correct, r.lines.head)
      assert(r.failed == 0 && r.attempted >= 2)
      val expected = declared(if (trace) "per_layer" else "end_to_end")
      assert(r.metrics.map { case (n, _, u) => n -> u } == expected)
      assert(r.metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite })
      val last = new ObjectMapper().readTree(r.lines.last)
      assert(last.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      if (!trace) assert(r.metrics.forall(_._2 > 0), r.metrics)
    }
  }

  test("the declared workloads are the ones the benchmark runs") {
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.names)
  }

  /** A session for the gate tests, over freshly emptied gate directories. */
  private def withSpark[T](f: SparkSession => T): T = {
    Seq("gate", "gate-mr", "gate-dedup").foreach(d => Main.rmTree(base.resolve(d)))
    val s = Main.setUp(2, base.resolve("gate"))
    try f(s) finally s.stop()
  }

  test("the MapReduce gate rejects a dropped or altered mr-out line") {
    withSpark { spark =>
      val wl = Workloads("mr_invindex", spark, base.resolve("gate-mr"), 9, "tiny")
      val out = base.resolve("gate-mr-out")
      Main.rmTree(out)
      wl.job(out)
      assert(wl.check(out, exact = true).isEmpty)
      assert(wl.check(out, exact = false).isEmpty)
      val f = MrModel.outputFiles(out).find(p => Files.size(p) > 0).get
      val lines = Files.readAllLines(f, UTF_8).asScala.toSeq
      Files.write(f, lines.tail.asJava, UTF_8)
      assert(wl.check(out, exact = true).isDefined, "dropped line accepted")
      assert(wl.check(out, exact = false).isDefined, "dropped line accepted")
      val altered = lines.head.replaceFirst(" \\d+ ", " 7777 ")
      assert(altered != lines.head)
      Files.write(f, (altered +: lines.tail).asJava, UTF_8)
      assert(wl.check(out, exact = true).isDefined, "altered line accepted")
      assert(wl.check(out, exact = false).isDefined, "altered line accepted")
      Main.rmTree(out)
    }
  }

  test("the dedup gate rejects one extra removed document and a lost group") {
    withSpark { spark =>
      val wl = Workloads("dedup_keep", spark, base.resolve("gate-dedup"), 9, "tiny")
        .asInstanceOf[DedupWorkload]
      val out = base.resolve("gate-dedup-out")
      Main.rmTree(out)
      wl.job(out)
      val kept = wl.keptIds(out)
      val report = wl.model.check(kept)
      assert(report.isRight, report)
      val planted = wl.corpus.groups.flatMap(_.ids).toSet
      val unplanted = kept.find(id => !planted(id)).get
      assert(wl.model.check(kept.filter(_ != unplanted)).isLeft)
      val group = wl.corpus.groups.head.ids.toSet
      assert(wl.model.check(kept.filterNot(group)).isLeft)
      Main.rmTree(out)
    }
  }
}
