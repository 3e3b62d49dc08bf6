package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Native codegen DotProduct vs the declarative zip_with/aggregate
  * twin: bit-identical results (same sequential summation order), and
  * the expression must survive inside whole-stage codegen.
  */
class VectorOpsSpec extends SparkSuite {

  test("vec_dot bit-identical to the lambda formulation over real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    val both = e.select(
      call_function("vec_dot", col("v"), col("v")).as("native"),
      DeclarativeTwins.dotLambda(col("v"), col("v")).as("lambda")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native=${r.getDouble(0)} lambda=${r.getDouble(1)}"))
  }

  test("vec_dot null semantics match the lambda twin on malformed vectors") {
    // NULL input, length mismatch, and a null element all yield NULL —
    // exactly what aggregate(zip_with(...)) produces (zip_with pads the
    // shorter side with nulls; null * x = null; null + x = null).
    val df = spark.sql(
      """SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS a,
        |       vec_dot(array(1.0d, 2.0d, 3.0d), array(10.0d, 10.0d)) AS b,
        |       vec_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(2.0d, 3.0d)) AS c,
        |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin)
    val r = df.collect()(0)
    assert(r.isNullAt(0))
    assert(r.isNullAt(1), "length mismatch must be NULL, not a truncated sum")
    assert(r.isNullAt(2), "null element must be NULL")
    assert(r.getDouble(3) == 11.0)
    // and the lambda twin agrees on every case
    val twin = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d, 2.0d, 3.0d), array(10.0d, 10.0d),
        |         (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS b,
        |       aggregate(zip_with(array(1.0d, CAST(NULL AS DOUBLE)), array(2.0d, 3.0d),
        |         (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS c""".stripMargin)
      .collect()(0)
    assert(twin.isNullAt(0) && twin.isNullAt(1))
  }

  test("vec_dot runs inside WholeStageCodegen (not fallback)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(call_function("vec_dot", col("v"), col("v")).as("d"))
    // codegen'd operators render as "*(n) Op"; a CodegenFallback
    // expression would leave the vec_dot Project unstarred
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("vec_dot") && l.contains("*(")), plan)
    // and it must actually compute
    assert(e.agg(sum("d")).collect()(0).getDouble(0) > 0.0)
  }

  test("hyperplane_sigs bit-identical to the declarative when-chain twins (both families)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    val both = e.select(
      call_function("hyperplane_sigs_dedup", col("v")).as("nd"),
      DeclarativeTwins.dedupSigs(col("v")).as("dd"),
      call_function("hyperplane_sigs_ann", col("v")).as("na"),
      DeclarativeTwins.annSigs(col("v")).as("da")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1), "dedup family diverged")
      assert(r.getSeq[Int](2) === r.getSeq[Int](3), "ann family diverged")
    }
    // degenerate inputs signature to 0 in every table, exactly like the
    // declarative form (vec_dot NULL -> when falls to its 0 branch)
    val deg = spark.sql(
      """SELECT hyperplane_sigs_dedup(array(1.0d, 2.0d)) AS short,
        |       hyperplane_sigs_dedup(CAST(NULL AS ARRAY<DOUBLE>)) AS nul""".stripMargin)
      .collect()(0)
    assert(deg.getSeq[Int](0).forall(_ == 0), "non-dim-64 input must sig to 0")
    assert(deg.isNullAt(1), "NULL vector stays NULL (filtered upstream by nrm > 0)")
  }
}
