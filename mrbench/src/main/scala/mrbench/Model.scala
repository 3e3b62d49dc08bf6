package mrbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.regex.Pattern

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a multiset of lines: count plus the sum
  * of a 64-bit hash per line. A dropped, added or altered line changes it.
  */
final case class LineDigest(lines: Long, sum: Long) {
  def +(line: String): LineDigest = LineDigest(lines + 1, sum + LineDigest.hash(line))
}

object LineDigest {
  val empty: LineDigest = LineDigest(0, 0)
  def hash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x6b43a9b5).toLong & 0xffffffffL)
  def of(lines: Iterator[String]): LineDigest = lines.foldLeft(empty)(_ + _)
}

/** Sequential model of the inverted-index job, the analog of the
  * reference's mrsequential: read the same files, tokenise on non-letter
  * runs, and produce the exact "key value" lines the job must commit.
  */
object MrModel {
  private val tokenRe = Pattern.compile("[^\\p{L}]+")

  def tokens(text: String): Iterator[String] =
    tokenRe.split(text).iterator.filter(_.nonEmpty)

  /** Expected output lines, sorted, and the number of pairs `mapf` emits. */
  final case class Expected(lines: Array[String], pairs: Long) {
    val digest: LineDigest = LineDigest.of(lines.iterator)
  }

  /** (path as the engine keys it, contents) for every input file. */
  def read(dir: Path): Seq[(String, String)] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .map(p => p.toFile.getAbsolutePath -> new String(Files.readAllBytes(p), UTF_8))

  def indexer(files: Seq[(String, String)]): Expected = {
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    var pairs = 0L
    for ((path, text) <- files; w <- tokens(text).toSet[String]) {
      postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += path; pairs += 1
    }
    Expected(postings.iterator.map { case (w, ps) =>
      s"$w ${ps.size} ${ps.sorted.mkString(",")}"
    }.toArray.sorted, pairs)
  }

  def outputFiles(out: Path): Seq[Path] =
    if (!Files.isDirectory(out)) Nil
    else Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("mr-out-")).toSeq.sortBy(_.toString)

  private def outputLines(out: Path): Iterator[String] =
    outputFiles(out).iterator.flatMap(p => Files.readAllLines(p, UTF_8).asScala)

  /** None when the committed mr-out files hold exactly the expected
    * lines. `exact` sorts and compares every line, as the reference's
    * test script does; otherwise the multiset digests are compared.
    */
  def check(exp: Expected, out: Path, exact: Boolean): Option[String] =
    if (exact) {
      val got = outputLines(out).toArray.sorted
      if (got.sameElements(exp.lines)) None
      else {
        val i = got.indices.find(i => i >= exp.lines.length || got(i) != exp.lines(i))
          .getOrElse(got.length)
        Some(s"mr-out lines differ from the sequential model at sorted line $i " +
          s"(got ${got.length} lines, expected ${exp.lines.length}): " +
          s"got '${got.lift(i).getOrElse("<end>")}', expected '${exp.lines.lift(i).getOrElse("<end>")}'")
      }
    } else {
      val got = LineDigest.of(outputLines(out))
      if (got == exp.digest) None
      else Some(s"mr-out digest $got differs from the sequential model's ${exp.digest}")
    }
}

/** Checks a dedup keep set against the planted corpus.
  *
  * Soundness is exact: every removed document must have exact 3-gram
  * shingle Jaccard >= `threshold` to some other document (a removed
  * document with such a neighbour is connected to its cluster; one
  * without could only have been removed wrongly). Each planted group
  * must keep at least one member. Recall, the share of planted copies
  * actually removed, must reach `minRecall`: MinHash LSH is
  * probabilistic, so a few borderline copies may survive.
  */
final class DedupModel(corpus: Gen.DocCorpus, threshold: Double, minRecall: Double) {
  private val index: Map[Long, Int] = corpus.ids.iterator.zipWithIndex.toMap
  private val groupOf: Map[Long, Int] =
    corpus.groups.iterator.zipWithIndex.flatMap { case (g, i) => g.ids.map(_ -> i) }.toMap
  val plantedCopies: Long = corpus.groups.map(_.ids.length - 1L).sum

  def shingles(text: String): Set[String] =
    MrModel.tokens(text).toArray.sliding(3).collect {
      case a if a.length == 3 => a.mkString(" ")
    }.toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common)
  }

  private def sh(id: Long): Set[String] = shingles(corpus.texts(index(id)))

  /** A similar-enough document for `id`: its planted group first, then
    * the whole corpus (only reached for a removal the plant cannot explain).
    */
  private def hasNeighbour(id: Long): Boolean = {
    val mine = sh(id)
    val group = groupOf.get(id).map(g => corpus.groups(g).ids.toSeq).getOrElse(Nil)
    group.exists(o => o != id && jaccard(mine, sh(o)) >= threshold) ||
      corpus.ids.iterator.filter(o => o != id && !group.contains(o))
        .exists(o => jaccard(mine, sh(o)) >= threshold)
  }

  def check(keptIds: Array[Long]): Either[String, DedupModel.Report] = {
    val kept = keptIds.toSet
    if (kept.size != keptIds.length) return Left("keep output lists a document twice")
    kept.find(id => !index.contains(id)).foreach(id => return Left(s"kept unknown doc $id"))
    val removed = corpus.ids.filterNot(kept)
    removed.find(id => !hasNeighbour(id)).foreach { id =>
      return Left(s"doc $id was removed but has no document with Jaccard >= $threshold")
    }
    corpus.groups.find(g => !g.ids.exists(kept)).foreach { g =>
      return Left(s"planted group [${g.ids.mkString(",")}] kept no member")
    }
    val recall =
      if (plantedCopies == 0) 1.0 else removed.count(groupOf.contains).toDouble / plantedCopies
    if (recall < minRecall) Left(f"recall $recall%.4f on planted copies is below $minRecall")
    else Right(DedupModel.Report(kept.size, removed.length, recall))
  }
}

object DedupModel {
  final case class Report(kept: Long, removed: Long, recall: Double)
}
