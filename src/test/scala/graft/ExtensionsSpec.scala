package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{HyperplaneSigs, LetterTokens}
import graft.queries.{Dedup, Similarity}

/** The spark.sql.extensions path (a STATIC conf — set on the suite's
  * shared context): every session built on the context must expose the
  * native functions in SQL with no register() calls. `newSession()`
  * gives a pristine temp-function registry, so a pass here can't be
  * masked by another suite's writes to the registry.
  */
class ExtensionsSpec extends SparkSuite {

  test("GraftExtensions injects z_value (native Morton interleave) into SQL") {
    val z = spark.sql("SELECT z_value(3L, 5L) AS z").collect()(0).getLong(0)
    assert(z === graft.functions.ZValue.interleave(3L, 5L))
  }

  test("GraftExtensions injects vec_dot/word_shingles/minhash_buckets/hyperplane_sigs_*") {
    val s2: SparkSession = spark.newSession()
    val r = s2.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       size(word_shingles('a b c d')) AS nsh,
        |       size(minhash_buckets(array('x', 'y', 'z'))) AS nbk""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === graft.queries.Dedup.Bands)
    // both hyperplane families: the SQL names build what the Column
    // builders build (a short vector signatures to 0 in every table)
    import s2.implicits._
    val vs = Seq(
      Seq.tabulate(64)(j => math.sin(j + 1.0)),
      Seq.tabulate(64)(j => math.cos(3.0 * j) - 0.2),
      Seq.tabulate(64)(j => (j % 7) - 3.0),
      Seq(1.0, 2.0)).toDF("v")
    val sigs = vs.select(expr("hyperplane_sigs_ann(v)"), HyperplaneSigs.annCol(col("v")),
        expr("hyperplane_sigs_dedup(v)"), HyperplaneSigs.dedupCol(col("v")))
      .collect().map(row => Seq.tabulate(4)(row.getSeq[Int]))
    sigs.foreach { case Seq(annSql, ann, dedupSql, dedup) =>
      assert(annSql === ann)
      assert(dedupSql === dedup)
      assert(ann.length === Similarity.NumTables)
      assert(dedup.length === Similarity.DedupTables)
    }
    assert(sigs.last.forall(_.forall(_ == 0)))
    assert(sigs.init.exists(_.exists(_.exists(_ != 0))))
  }

  test("building graft frames leaves the caller's same-named functions in place") {
    val s2: SparkSession = spark.newSession()
    import s2.implicits._
    s2.udf.register("word_shingles", (_: String) => Seq("user"))
    s2.udf.register("minhash_buckets", (_: Seq[String]) => Seq(-1L))
    s2.udf.register("vec_dot", (_: Seq[Double], _: Seq[Double]) => -1.0)
    // planted copies: 1 ≡ 2 exactly, 3 differs from 1 in one word
    def words(p: String) =
      (0 until 40).map(i => s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val base = words("w")
    val texts = Seq(1L -> base, 2L -> base, 3L -> base.updated(20, "changed"), 4L -> words("o"))
      .map { case (id, ws) => id -> ws.mkString(" ") }
    val got = Dedup.minhashScored(texts.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def sh(t: String): Set[String] = LetterTokens(t).sliding(3).map(_.mkString(" ")).toSet
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(texts(a.toInt - 1)._2), sh(texts(b.toInt - 1)._2))
      (x & y).size.toDouble / (x | y).size
    }
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    got.foreach { case ((a, b), j) => assert(j === jac(a, b), s"($a, $b)") }
    assert(got((1L, 2L)) === 1.0)
    // embedding LSH (vec_dot + hyperplane_sigs_dedup): a planted
    // near-copy pair verifies at its true cosine
    val v0 = Array.tabulate(64)(j => math.sin(j + 1.0))
    val v1 = v0.zipWithIndex.map { case (x, j) => x + 0.01 * math.cos(j.toDouble) }
    val v2 = Array.tabulate(64)(j => math.cos(5.0 * j))
    val emb = Seq(0L -> v0, 1L -> v1, 2L -> v2)
      .map { case (id, v) => (id, v.map(_.toFloat).toSeq) }.toDF("vec_id", "embedding")
    val top = Similarity.embeddingLshPairs(emb).collect().head
    assert((top.getLong(0), top.getLong(1)) === ((0L, 1L)))
    val (a, b) = (v0.map(_.toFloat.toDouble), v1.map(_.toFloat.toDouble))
    def norm(x: Array[Double]) = math.sqrt(x.map(y => y * y).sum)
    val cos = a.zip(b).map { case (x, y) => x * y }.sum / (norm(a) * norm(b))
    assert(math.abs(top.getDouble(2) - cos) < 1e-6)
    // the caller's functions still answer in SQL
    val user = s2.sql(
      """SELECT word_shingles('a b c d') AS sh, minhash_buckets(array('x')) AS bk,
        |       vec_dot(array(1.0d), array(2.0d)) AS d""".stripMargin).collect()(0)
    assert(user.getSeq[String](0) === Seq("user"))
    assert(user.getSeq[Long](1) === Seq(-1L))
    assert(user.getDouble(2) === -1.0)
  }

  test("optimizer rule rewrites the lambda dot-product to the native kernel") {
    import org.apache.spark.sql.functions._
    // non-literal source (literals would constant-fold the whole plan
    // into a LocalRelation before anything is visible)
    def arrays = spark.range(1, 4).select(
      array(col("id").cast("double"), lit(2.0)).as("a"),
      array(lit(3.0), col("id").cast("double")).as("b"))
    val df = arrays
      .select(graft.DeclarativeTwins.dotLambda(col("a"), col("b")).as("d"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("vec_dot"),
      s"lambda form not rewritten to the native expression:\n$opt")
    // id=1: [1,2]·[3,1] = 5; id=2: [2,2]·[3,2] = 10; id=3: [3,2]·[3,3] = 15
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq === Seq(5.0, 10.0, 15.0))
    // and a shape the rule must NOT touch (different merge op) survives
    val keep = arrays
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc - x).as("d"))
    assert(!keep.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    assert(keep.collect().map(_.getDouble(0)).sorted.toSeq === Seq(-15.0, -10.0, -5.0))
  }
}
