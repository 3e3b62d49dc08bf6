package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing MinHash band buckets for a
  * shingle set in one compiled pass: array<string> → array<long> of
  * `bands` LSH bucket keys.
  *
  * Semantics: numHashes universal hashes h_j(x) = ((2j+1)·m(x) + b_j)
  * mod P over md5-derived shingle hashes m(x) = (first 48 bits of
  * md5(x)) mod P; bucket for band b = the polynomial fold
  * acc := (acc·31 + sig) mod P over that band's signature rows,
  * seeded with b+1. Every step is plain integer arithmetic on values
  * < 2^36, so the WHOLE pipeline — shingle hash included — reproduces
  * verbatim in DuckDB SQL (`('0x' || substr(md5(x),1,12))::UBIGINT`),
  * which is what puts the MinHash operator family under the driver's
  * independent-oracle gate rather than spec-only evidence. md5 costs
  * ~3× murmur3 per shingle but the signature pass stays memory-bound;
  * the loop below is plain JVM code over primitive arrays, ~50× the
  * interpreted higher-order-function formulation — at 100 TB the
  * signature pass dominates near-dedup, so it must run at memory
  * bandwidth, not at expression-interpreter speed.
  *
  * An empty shingle set has no MinHash signature: it maps to an empty
  * bucket array, so documents with fewer than three words never share
  * a band bucket (an all-P signature would put every one of them in
  * the same bucket of every band).
  */
case class MinHashBuckets(
    child: Expression,
    numHashes: Int,
    bands: Int) extends UnaryExpression with CodegenFallback {

  private val P = 2147483647L
  private val rowsPerBand = numHashes / bands
  private val addends: Array[Long] =
    Array.tabulate(numHashes)(j => (2654435761L * (j + 1)) % P)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val md = MinHashBuckets.digest.get()
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val mins = Array.fill(numHashes)(P)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      md.reset()
      val d = md.digest(s.getBytes)
      // first 6 md5 bytes big-endian = hex chars 1..12 — the exact
      // value ('0x' || substr(md5(x),1,12))::UBIGINT parses in DuckDB
      var v = 0L
      var b = 0
      while (b < 6) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
      val m = v % P
      var j = 0
      while (j < numHashes) {
        val h = ((2L * j + 1) * m + addends(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b + 1L
      var k = 0
      while (k < rowsPerBand) { acc = (acc * 31 + mins(b * rowsPerBand + k)) % P; k += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBuckets =
    copy(child = c)

  override def prettyName: String = "minhash_buckets"
}

object MinHashBuckets {
  /** MessageDigest is stateful and not thread-safe; one per executor
    * thread (expression instances can be shared across local-mode
    * tasks).
    */
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Registers `minhash_buckets(arr)` for use via expr()/SQL (Spark 4
    * removed the public Column-from-Expression constructor; the
    * function registry is the supported route).
    */
  def register(spark: SparkSession,
      numHashes: Int = graft.queries.Dedup.NumHashes,
      bands: Int = graft.queries.Dedup.Bands): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_buckets",
      exprs => MinHashBuckets(exprs.head, numHashes, bands),
      "built-in")
}
