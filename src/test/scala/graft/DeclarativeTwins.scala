package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.DotProduct
import graft.queries.{Dedup, Similarity}

/** Declarative (lambda / when-chain) twins of the native expressions
  * — the references the specs check the compiled forms against bit for
  * bit. Production paths use the native expressions.
  */
object DeclarativeTwins {

  /** Twin of `word_shingles` over a token-array ATTRIBUTE `ws` (a
    * materialized column: lambdas re-evaluate inline subtrees per call).
    */
  def shinglesFromTokens(ws: Column): Column =
    when(size(ws) >= 3,
      array_distinct(transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Twin of `minhash_buckets`: m(x) = first-48-md5-bits mod P, the
    * 48 minima of h_j = ((2j+1)·m + (2654435761·(j+1) mod P)) mod P,
    * then per band the fold acc := (acc·31 + sig) mod P seeded with
    * band+1. An empty set gets no buckets.
    */
  def minhashBuckets(sh: Column): Column = {
    val p = 2147483647L
    val hashA = array((0 until Dedup.NumHashes).map(i => lit(2L * i + 1)): _*)
    val hashB = array((0 until Dedup.NumHashes).map(i => lit((2654435761L * (i + 1)) % p)): _*)
    val hs = transform(sh,
      x => conv(substring(md5(x), 1, 12), 16, 10).cast("long") % p)
    when(size(sh) > 0, aggregate(hs,
      array_repeat(lit(p), Dedup.NumHashes),
      (acc, h) => zip_with(acc,
        zip_with(hashA, hashB, (a, b) => (a * h + b) % p),
        (x, y) => least(x, y)),
      acc => transform(sequence(lit(0), lit(Dedup.Bands - 1)),
        b => aggregate(slice(acc, b * Dedup.RowsPerBand + 1, lit(Dedup.RowsPerBand)),
          b.cast("long") + 1, (a, x) => (a * 31 + x) % p))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Twin of `vec_dot`: same sequential summation order. */
  def dotLambda(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  // Plane k: sin(k·64 + j + 1), j < 64 — the HyperplaneSigs family.
  private val Dim = 64
  private def planeLit(k: Int): Column =
    array(Array.tabulate(Dim)(j => lit(math.sin(k * Dim + j + 1.0))).toIndexedSeq: _*)

  /** Per table, `bits` sign bits of v · plane packed into an int. */
  private def sigs(v: Column, seedBase: Int, tables: Int, bits: Int): Column =
    array((0 until tables).map { t =>
      (0 until bits).map { p =>
        when(DotProduct.dotCol(v, planeLit(seedBase + t * bits + p)) > 0, lit(1 << p))
          .otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** Twin of `hyperplane_sigs_ann`. */
  def annSigs(v: Column): Column =
    sigs(v, Similarity.AnnSeedBase, Similarity.NumTables, Similarity.PlanesPerTable)

  /** Twin of `hyperplane_sigs_dedup`. */
  def dedupSigs(v: Column): Column =
    sigs(v, Similarity.DedupSeedBase, Similarity.DedupTables, Similarity.DedupBits)
}
