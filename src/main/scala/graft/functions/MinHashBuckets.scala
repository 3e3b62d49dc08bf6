package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.queries.Dedup.{Bands, NumHashes}

/** Native Catalyst expression computing MinHash band buckets for a
  * shingle set in one compiled pass: array<string> → array<long> of
  * `bands` LSH bucket keys.
  *
  * Semantics: numHashes universal hashes h_j(x) = ((2j+1)·m(x) + b_j)
  * mod P over md5-derived shingle hashes m(x) = (first 48 bits of
  * md5(x)) mod P, with b_j = 2654435761·(j+1) mod P; bucket for band b
  * = the polynomial fold acc := (acc·31 + sig) mod P over that band's
  * signature rows, seeded with b+1. Every step is plain integer
  * arithmetic on values < 2^48, so the WHOLE pipeline — shingle hash
  * included — reproduces verbatim in DuckDB SQL
  * (`('0x' || substr(md5(x),1,12))::UBIGINT`), which is what puts the
  * MinHash operator family under the independent DuckDB oracle gate
  * rather than spec-only evidence.
  *
  * The kernel computes those same values without a division. With
  * C = 2654435761 mod P, consecutive hashes differ by a constant:
  * h_0 = (m + C) mod P and h_{j+1} = (h_j + 2m + C) mod P, so each of
  * the numHashes rows costs one add and one conditional subtract. The
  * remaining reductions (the 48-bit md5 prefix, 2m + C, the band fold)
  * use the Mersenne identity 2^31 ≡ 1 (mod P): see [[MinHashBuckets.modP]].
  * md5 reads each shingle's UTF-8 bytes where they lie and digests into
  * a per-thread buffer, so hashing a shingle copies no bytes and
  * allocates no digest array. The values are those of
  * the `% P` formulation, which the DuckDB chain
  * (`Dedup.minhashBucketsSql`) and the test-side twin
  * (`DeclarativeTwins.minhashBuckets`) spell out.
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
  import MinHashBuckets.{C, P, modP}

  private val rowsPerBand = numHashes / bands

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val md5 = MinHashBuckets.md5.get()
    val mins = Array.fill(numHashes)(P)
    var i = 0
    while (i < n) {
      val m = modP(md5.prefix48(arr.getUTF8String(i)))
      val step = modP(2 * m + C)
      var h = modP(m + C)
      var j = 0
      while (j < numHashes) {
        if (h < mins(j)) mins(j) = h
        h += step
        if (h >= P) h -= P
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b + 1L
      var k = 0
      while (k < rowsPerBand) { acc = modP(acc * 31 + mins(b * rowsPerBand + k)); k += 1 }
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
  /** The Mersenne prime 2^31 − 1 every hash is reduced by. */
  private[graft] val P = 2147483647L
  /** The hash family's addend step, 2654435761 mod P. */
  private val C = 2654435761L % P

  /** x mod P for 0 ≤ x < 2^61, without a division: x = hi·2^31 + lo
    * and 2^31 ≡ 1 (mod P), so x ≡ hi + lo, which is below 2P; one
    * conditional subtract finishes. The kernel's largest input is a
    * 48-bit md5 prefix.
    */
  private[graft] def modP(x: Long): Long = {
    val r = (x & P) + (x >>> 31)
    if (r >= P) r - P else r
  }

  /** One thread's md5 state: MessageDigest is stateful and not
    * thread-safe, and expression instances can be shared across
    * local-mode tasks.
    */
  private final class Md5 {
    private val md = MessageDigest.getInstance("MD5")
    private val out = new Array[Byte](16)

    /** The first 6 md5 bytes of `s`, big-endian — hex chars 1..12, the
      * value ('0x' || substr(md5(x),1,12))::UBIGINT parses in DuckDB.
      * On-heap strings are digested where they lie.
      */
    def prefix48(s: UTF8String): Long = {
      s.getBaseObject match {
        case bytes: Array[Byte] =>
          md.update(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
        case _ => md.update(s.getBytes)
      }
      md.digest(out, 0, 16)
      var v = 0L
      var b = 0
      while (b < 6) { v = (v << 8) | (out(b) & 0xFFL); b += 1 }
      v
    }
  }

  private val md5: ThreadLocal[Md5] = ThreadLocal.withInitial(() => new Md5)

  /** `minhash_buckets(sh)`: the `Dedup.Bands` band buckets of a
    * shingle set's `Dedup.NumHashes`-row signature.
    */
  def bucketsCol(sh: Column): Column =
    GraftColumnBridge.column(MinHashBuckets(GraftColumnBridge.expression(sh), NumHashes, Bands))

  /** Registers `minhash_buckets` as a session temp function. Queries
    * build the expression with [[bucketsCol]] and SQL sessions get the
    * name from [[graft.GraftExtensions]]; the one caller left is the
    * mrbench dedup_keep layer trace (mrbench/…/Workloads.scala).
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_buckets",
      exprs => MinHashBuckets(exprs.head, NumHashes, Bands),
      "built-in")
}
