package mrbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Zipf sampler over ranks 0 until n: P(rank r) is proportional to
  * 1 / (r + 1)^s. Inverse-CDF lookup by binary search.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) > u) hi = mid else lo = mid + 1
    }
    lo
  }
}

/** Seeded input generators. The engine only ever sees what these write:
  * text files for the MapReduce jobs, one parquet table for dedup. Every
  * generator also returns a SHA-256 digest of what it produced, so the
  * benchmark's tests can pin that a seed fixes the inputs byte for byte.
  */
object Gen {

  /** Distinct lowercase a-z words of 2 to 10 letters, in rank order. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder
    while (seen.size < n) {
      sb.setLength(0)
      val len = 2 + r.nextInt(9)
      var i = 0
      while (i < len) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
      seen += sb.toString
    }
    seen.toArray
  }

  final case class TextSpec(files: Int, totalBytes: Long, vocab: Int, zipfS: Double)

  final case class TextCorpus(dir: Path, files: Int, bytes: Long, digest: String)

  /** `spec.files` files named pg-NNNNN.txt under `dir`, each of Zipf
    * words separated by spaces, punctuation and line breaks. File sizes
    * spread uniformly over half to one and a half times the mean and are
    * scaled to add up to `spec.totalBytes`, so every seed gives the same
    * input size.
    */
  def textFiles(dir: Path, seed: Long, spec: TextSpec): TextCorpus = {
    val r = new SplittableRandom(seed)
    val words = vocabulary(r, spec.vocab)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val md = MessageDigest.getInstance("SHA-256")
    val weights = Array.fill(spec.files)(0.5 + r.nextDouble())
    val targets = weights.map(w => (w / weights.sum * spec.totalBytes).toLong)
    Files.createDirectories(dir)
    var total = 0L
    val sb = new java.lang.StringBuilder
    for (f <- 0 until spec.files) {
      val target = targets(f)
      sb.setLength(0)
      var onLine = 0
      while (sb.length < target - 1) {
        sb.append(words(zipf.sample(r)))
        onLine += 1
        val p = r.nextInt(100)
        if (onLine >= 12 && p < 30) { sb.append(".\n"); onLine = 0 }
        else if (p < 6) sb.append(", ")
        else if (p < 8) sb.append("; ")
        else sb.append(' ')
      }
      sb.append('\n')
      val name = f"pg-$f%05d.txt"
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(dir.resolve(name), bytes)
      md.update(name.getBytes(UTF_8)); md.update(bytes)
      total += bytes.length
    }
    TextCorpus(dir, spec.files, total, hex(md.digest()))
  }

  final case class DocSpec(docs: Int, vocab: Int, zipfS: Double,
      minWords: Int, maxWords: Int, plantedShare: Double, mutationRate: Double)

  /** A near-duplicate group: an original and its mutated copies. */
  final case class Group(ids: Array[Long])

  final case class DocCorpus(ids: Array[Long], texts: Array[String],
      groups: Array[Group], bytes: Long, digest: String)

  /** `spec.docs` documents. About `plantedShare` of them sit in planted
    * groups of 2 to 4: one original plus copies in which each word is
    * replaced, with probability `mutationRate`, by a fresh Zipf draw.
    * Every other document is drawn independently. Ids are a seeded
    * permutation, so group members are scattered across the table.
    */
  def documents(seed: Long, spec: DocSpec): DocCorpus = {
    val r = new SplittableRandom(seed)
    val words = vocabulary(r, spec.vocab)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    def draw(): Array[Int] =
      Array.fill(spec.minWords + r.nextInt(spec.maxWords - spec.minWords + 1))(zipf.sample(r))
    val texts = mutable.ArrayBuffer.empty[Array[Int]]
    val groupSlots = mutable.ArrayBuffer.empty[Range]
    val planted = math.round(spec.docs * spec.plantedShare).toInt
    while (texts.size + 4 <= planted) {
      val k = 2 + r.nextInt(3)
      val orig = draw()
      val start = texts.size
      texts += orig
      for (_ <- 1 until k)
        texts += orig.map(w => if (r.nextDouble() < spec.mutationRate) zipf.sample(r) else w)
      groupSlots += (start until texts.size)
    }
    while (texts.size < spec.docs) texts += draw()
    val perm = Array.range(0, spec.docs)
    for (i <- spec.docs - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val ids = perm.map(_.toLong)
    val strs = texts.map(_.map(words).mkString(" ")).toArray
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    for (i <- strs.indices) {
      val b = strs(i).getBytes(UTF_8)
      md.update(java.nio.ByteBuffer.allocate(8).putLong(ids(i)).array()); md.update(b)
      bytes += b.length
    }
    DocCorpus(ids, strs, groupSlots.map(g => Group(g.map(i => ids(i)).toArray)).toArray,
      bytes, hex(md.digest()))
  }

  /** Writes the corpus as the `documents` table the engine loads,
    * `<tables>/documents.parquet`, split into `parts` files. Written with
    * parquet's own writer, so the benchmark's first Spark job is the
    * workload's cold job.
    */
  def writeDocuments(tables: Path, c: DocCorpus, parts: Int): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message documents { required int64 doc_id; required binary text (STRING); }")
    val rows = new SimpleGroupFactory(schema)
    val dir = tables.resolve("documents.parquet")
    Files.createDirectories(dir)
    val conf = new Configuration()
    for (p <- 0 until parts) {
      val file = new org.apache.hadoop.fs.Path(dir.resolve(f"part-$p%05d.parquet").toUri)
      val w = ExampleParquetWriter.builder(file).withType(schema).withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try {
        for (i <- p until c.ids.length by parts)
          w.write(rows.newGroup().append("doc_id", c.ids(i)).append("text", c.texts(i)))
      } finally w.close()
    }
  }

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
}
