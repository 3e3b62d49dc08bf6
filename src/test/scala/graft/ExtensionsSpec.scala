package graft

import org.apache.spark.sql.SparkSession

/** The spark.sql.extensions path (a STATIC conf — set on the suite's
  * shared context): every session built on the context must expose the
  * native functions in SQL with no register() calls. `newSession()`
  * gives a pristine temp-function registry, so a pass here can't be
  * masked by another suite's register(spark) side effects.
  */
class ExtensionsSpec extends SparkSuite {

  test("GraftExtensions injects z_value (native Morton interleave) into SQL") {
    val z = spark.sql("SELECT z_value(3L, 5L) AS z").collect()(0).getLong(0)
    assert(z === graft.functions.ZValue.interleave(3L, 5L))
  }

  test("GraftExtensions injects vec_dot/word_shingles/minhash_buckets") {
    val s2: SparkSession = spark.newSession()
    val r = s2.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       size(word_shingles('a b c d')) AS nsh,
        |       size(minhash_buckets(array('x', 'y', 'z'))) AS nbk""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === graft.queries.Dedup.Bands)
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
