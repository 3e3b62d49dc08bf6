package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{DotProduct, HyperplaneSigs, MinHashBuckets, WordShingles, ZValue}
import graft.queries.Similarity.{AnnSeedBase, DedupBits, DedupSeedBase, DedupTables,
  NumTables, PlanesPerTable}

/** Library entry point for `spark.sql.extensions`: installs graft's
  * native Catalyst expressions into every session built with
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * so SQL users get `vec_dot`, `word_shingles`, `minhash_buckets`,
  * the two hyperplane-signature families and the Morton interleaves.
  * Each name builds the same expression, with the same parameters, as
  * the typed Column builder in the expression's companion object
  * (`WordShingles.shinglesCol`, `HyperplaneSigs.annCol`, …), which is
  * how graft's own queries reach it: building a query frame writes
  * nothing to the session's function registry. This is the idiomatic
  * packaging for a Spark-native library: injection happens at session
  * build, works on a plain cluster deployment, and needs no code on
  * the user side.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer rule: lambda-form dot products compile to the native
    // kernel (see graft.plans.DotProductRewrite for the soundness note).
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    // Planner strategies: the whole-operator as-of and band joins
    // (custom LogicalPlan + SparkPlan — graft.plans.AsofJoin/BandJoin).
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.BandJoinStrategy)
    // ScalableRank's two-pass global running sums (boundary-consistent
    // by construction — graft.plans.GlobalRunningSum).
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRunningSumStrategy)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      exprs => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      exprs => WordShingles(exprs.head, WordShingles.N)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_buckets"),
      new ExpressionInfo(classOf[MinHashBuckets].getName, "minhash_buckets"),
      exprs => MinHashBuckets(exprs.head,
        graft.queries.Dedup.NumHashes, graft.queries.Dedup.Bands)))
    // the two hyperplane-LSH families, with queries/Similarity's parameters
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_sigs_ann"),
      new ExpressionInfo(classOf[HyperplaneSigs].getName, "hyperplane_sigs_ann"),
      exprs => HyperplaneSigs(exprs.head, AnnSeedBase, NumTables, PlanesPerTable)))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_sigs_dedup"),
      new ExpressionInfo(classOf[HyperplaneSigs].getName, "hyperplane_sigs_dedup"),
      exprs => HyperplaneSigs(exprs.head, DedupSeedBase, DedupTables, DedupBits)))
    ext.injectFunction((
      new FunctionIdentifier("z_value"),
      new ExpressionInfo(classOf[ZValue].getName, "z_value"),
      exprs => ZValue(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("z3_value"),
      new ExpressionInfo(classOf[graft.functions.ZValue3].getName, "z3_value"),
      exprs => graft.functions.ZValue3(exprs.head, exprs(1), exprs(2))))
  }
}
