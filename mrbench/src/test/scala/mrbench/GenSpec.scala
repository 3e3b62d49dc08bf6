package mrbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val spec = Workloads.text("tiny")
  private val docSpec = Workloads.docs("tiny")

  private def tmp(): Path = {
    val base = java.nio.file.Paths.get("target", "test-work")
    Files.createDirectories(base)
    Files.createTempDirectory(base.toAbsolutePath, "gen")
  }

  test("a seed fixes the text corpus byte for byte; another seed changes it") {
    val a = Gen.textFiles(tmp(), 7, spec)
    val b = Gen.textFiles(tmp(), 7, spec)
    val c = Gen.textFiles(tmp(), 8, spec)
    assert(a.digest == b.digest)
    assert(a.digest != c.digest)
    val names = Files.list(a.dir).toArray.map(_.asInstanceOf[Path].getFileName.toString).sorted
    names.foreach { n =>
      assert(Files.readAllBytes(a.dir.resolve(n)).sameElements(Files.readAllBytes(b.dir.resolve(n))))
    }
    Seq(a, b, c).foreach(x => Main.rmTree(x.dir))
  }

  test("a seed fixes the document corpus; another seed changes it") {
    val a = Gen.documents(7, docSpec)
    val b = Gen.documents(7, docSpec)
    val c = Gen.documents(8, docSpec)
    assert(a.digest == b.digest)
    assert(a.digest != c.digest)
    assert(a.ids.sorted.sameElements(Array.range(0, docSpec.docs).map(_.toLong)))
  }

  test("planted groups hold near-duplicates the model recognises") {
    val d = Gen.documents(3, docSpec)
    val m = new DedupModel(d, Workloads.Threshold, minRecall = 0.99)
    val share = d.groups.map(_.ids.length).sum.toDouble / docSpec.docs
    assert(share > 0.08 && share <= 0.10)
    val byId = d.ids.zip(d.texts).toMap
    val sims = d.groups.map(g => m.jaccard(m.shingles(byId(g.ids(0))), m.shingles(byId(g.ids(1)))))
    assert(sims.count(_ >= Workloads.Threshold).toDouble / sims.length > 0.95)
  }
}
