package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.MinHashBuckets
import graft.queries.Dedup

/** The MinHash LSH candidate pass: the division-free `minhash_buckets`
  * kernel against its `% P` twin, and `Dedup.minhashCandidateSizes`
  * against an enumeration of every bucket's pairs over collected rows.
  */
class MinHashSpec extends SparkSuite {
  import spark.implicits._

  private val P = MinHashBuckets.P

  test("modP equals x % P at the edges and over the kernel's input range") {
    val edges = Seq(0L, P - 1, P, P + 1, 2 * P - 1, 2 * P, (1L << 48) - 1,
      32 * (P - 1), // the band fold's largest input, 31·acc + sig
      2 * (P - 1) + 2654435761L % P) // the recurrence step's largest input, 2m + C
    edges.foreach(x => assert(MinHashBuckets.modP(x) === x % P, s"x = $x"))
    val rnd = new scala.util.Random(11)
    (0 until 100000).foreach { _ =>
      val x = rnd.nextLong() >>> 16
      assert(MinHashBuckets.modP(x) === x % P, s"x = $x")
    }
  }

  /** `count` seeded shingle sets of 0-40 elements: ASCII words, non-ASCII
    * words (2-4 byte UTF-8) and strings of 56-200 bytes (md5 over two or
    * more blocks).
    */
  private def shingleSets(count: Int): DataFrame = {
    val rnd = new scala.util.Random(23)
    val alphabets = Seq("abcdefghij", "äöüßéèñç", "日本語の文字列", "😀🚀🌍", "ab ч ж")
    def word(): String = {
      val cps = alphabets(rnd.nextInt(alphabets.length)).codePoints().toArray
      val bytes = if (rnd.nextInt(8) == 0) 56 + rnd.nextInt(145) else 1 + rnd.nextInt(12)
      val sb = new java.lang.StringBuilder
      while (sb.toString.getBytes(UTF_8).length < bytes) sb.appendCodePoint(cps(rnd.nextInt(cps.length)))
      sb.toString
    }
    (0 until count).map(i => (i.toLong, Seq.fill(rnd.nextInt(41))(word()).distinct))
      .toDF("id", "sh")
  }

  private def nativeVsTwin(sets: DataFrame): (Array[Seq[Long]], Array[Seq[Long]]) = {
    val rows = sets.select(col("id"), MinHashBuckets.bucketsCol(col("sh")).as("nat"),
      DeclarativeTwins.minhashBuckets(col("sh")).as("twin")).orderBy("id").collect()
    (rows.map(_.getSeq[Long](1)), rows.map(_.getSeq[Long](2)))
  }

  test("minhash_buckets equals its % P twin on 1200 seeded sets: local, cached and parquet frames") {
    val sets = shingleSets(1200)
    val all = sets.select(explode(col("sh"))).as[String].collect()
    assert(all.exists(s => s.exists(_ > 0x7f)), "no non-ASCII shingle")
    assert(all.exists(_.getBytes(UTF_8).length > 55), "no shingle over 55 bytes")
    val dir = Files.createTempDirectory("graft_minhash").resolve("sets").toString
    sets.write.parquet(dir)
    val cached = sets.cache()
    try {
      Seq("local" -> sets, "cached" -> cached, "parquet" -> spark.read.parquet(dir))
        .foreach { case (name, df) =>
          val (nat, twin) = nativeVsTwin(df)
          assert(nat.length == 1200, name)
          assert(nat.count(_.nonEmpty) > 1000, name)
          nat.zip(twin).zipWithIndex.foreach { case ((a, b), i) => assert(a === b, s"$name set $i") }
        }
    } finally cached.unpersist()
  }

  test("minhash_buckets reads UnsafeArrayData elements in place, at offsets past the array start") {
    val sets = shingleSets(200).as[(Long, Seq[String])].collect()
    val expr = MinHashBuckets(BoundReference(1, ArrayType(StringType), nullable = true),
      Dedup.NumHashes, Dedup.Bands)
    val toUnsafe = UnsafeProjection.create(Array[DataType](StringType, ArrayType(StringType)))
    sets.foreach { case (id, sh) =>
      val plain = new GenericArrayData(sh.map(UTF8String.fromString).toArray[Any])
      // a string field ahead of the array: its elements start well
      // inside the row's backing byte array
      val row = toUnsafe(InternalRow(UTF8String.fromString("x" * 40), plain))
      val arr = row.getArray(1)
      (0 until arr.numElements()).foreach { i =>
        val s = arr.getUTF8String(i)
        assert(s.getBaseObject.isInstanceOf[Array[Byte]] && s.getBaseOffset > Platform.BYTE_ARRAY_OFFSET)
      }
      val fromRow = expr.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      val fromPlain = expr.eval(InternalRow(null, plain)).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(fromRow === fromPlain, s"set $id")
    }
  }

  /** Planted corpus: 20 near-dup triples, a 6-copy exact-duplicate
    * group, 60 unrelated docs, 40 docs of 0-2 words, and doc_id 9999
    * twice with the same text.
    */
  private def plantedCorpus(): DataFrame = {
    val rnd = new scala.util.Random(31)
    val vocab = Array.tabulate(3000)(i =>
      Seq(i / 676, i / 26 % 26, i % 26).map(d => ('a' + d).toChar).mkString("w", "", ""))
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val triples = (0 until 20).flatMap { _ =>
      val orig = words(60)
      (0 until 3).map { c =>
        val w = orig.clone()
        if (c > 0) w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
        w.mkString(" ")
      }
    }
    val copy = words(50).mkString(" ")
    val repeated = words(45).mkString(" ")
    val texts = triples ++ Seq.fill(6)(copy) ++ (0 until 60).map(_ => words(40).mkString(" ")) ++
      (0 until 40).map(i => words(i % 3).mkString(" "))
    (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Seq(9999L -> repeated, 9999L -> repeated)).toDF("doc_id", "text")
  }

  /** Every (band, bucket)'s pairs, enumerated over collected rows. */
  private def referencePairs(shingled: DataFrame): Set[(Long, Long, Int, Int)] = {
    val rows = shingled
      .select(col("doc_id"), size(col("sh")), MinHashBuckets.bucketsCol(col("sh")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
    rows.flatMap { case (id, n, bks) => bks.zipWithIndex.map { case (b, band) => (band, b) -> (id, n) } }
      .groupBy(_._1).values
      .flatMap { g =>
        val docs = g.map(_._2).toIndexedSeq
        for (i <- docs.indices; j <- docs.indices if i < j) yield {
          val ((a, na), (b, nb)) = (docs(i), docs(j))
          (math.min(a, b), math.max(a, b), math.min(na, nb), math.max(na, nb))
        }
      }.toSet
  }

  test("minhashCandidateSizes equals an enumeration of every bucket's pairs over collected rows") {
    val shingled = plantedCorpus().select(col("doc_id"), Dedup.textShingles.as("sh"))
    val expected = referencePairs(shingled)
    val got = Dedup.minhashCandidateSizes(shingled).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(got.length == got.toSet.size, "duplicate candidate rows")
    assert(got.toSet === expected)
    // the 6 exact copies pair all 15 ways; the repeated doc_id pairs
    // with itself, which the verify's guard reports
    val copies = (60L until 66L)
    for (a <- copies; b <- copies if a < b) assert(got.exists(p => p._1 == a && p._2 == b), s"($a, $b)")
    assert(got.exists(p => p._1 == 9999L && p._2 == 9999L))
    // 0-2 word docs have no shingles and pair with nothing
    val short = (126L until 166L).toSet
    assert(got.forall(p => !short(p._1) && !short(p._2)))
  }

  test("minhashCandidateSizes keeps an int doc_id's type and refuses a string one") {
    val shingled = plantedCorpus().select(col("doc_id").cast("int").as("doc_id"), Dedup.textShingles.as("sh"))
    val cand = Dedup.minhashCandidateSizes(shingled)
    assert(cand.schema.map(_.dataType) === Seq(IntegerType, IntegerType, IntegerType, IntegerType))
    val asLong = Dedup.minhashCandidateSizes(shingled.select(col("doc_id").cast("long").as("doc_id"), col("sh")))
    assert(asLong.schema.head.dataType === LongType)
    assert(cand.collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSet ===
      asLong.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val e = intercept[IllegalArgumentException](
      Dedup.minhashCandidateSizes(shingled.select(col("doc_id").cast("string").as("doc_id"), col("sh"))))
    assert(e.getMessage.contains("integral doc_id"))
  }

  test("minhashCandidateSizes groups buckets by a sorted scan, with no object or sort aggregate") {
    val shingled = plantedCorpus().select(col("doc_id"), Dedup.textShingles.as("sh"))
    val plan = Dedup.minhashCandidateSizes(shingled).queryExecution.sparkPlan
    val aggs = plan.collect {
      case a: ObjectHashAggregateExec => a.nodeName
      case a: SortAggregateExec => a.nodeName
    }
    assert(aggs.isEmpty, plan.toString)
  }
}
