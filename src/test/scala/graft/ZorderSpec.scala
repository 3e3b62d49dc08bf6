package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ZValue
import graft.queries.Sharding

/** Morton interleave correctness + the layout property z-ordering
  * exists for: per-bucket bounding boxes tight in both dimensions.
  */
class ZorderSpec extends SparkSuite {

  /** Naive bit-loop reference — the definition the oracle SQL uses. */
  private def refZ(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("magic-mask interleave ≡ bit-loop reference on edge and random-ish values") {
    val vals = Seq(0L, 1L, 2L, 3L, 0x7FFFFFFFL, 0x55555555L, 0x2AAAAAAAL,
      12345L, 999999L, (1L << 30) + 7L, 2100000000L)
    for (x <- vals; y <- vals) {
      assert(ZValue.interleave(x, y) === refZ(x, y), s"x=$x y=$y")
    }
    // the z-value of max inputs stays a positive signed long (62 bits)
    assert(ZValue.interleave(0x7FFFFFFFL, 0x7FFFFFFFL) > 0)
    // inputs beyond 31 bits are masked, never corrupt high bits
    assert(ZValue.interleave(-1L, -1L) === refZ(0x7FFFFFFFL, 0x7FFFFFFFL))
  }

  test("z_value expression under codegen ≡ reference; null propagates") {
    import spark.implicits._
    val df = Seq((3L, 5L), (1048575L, 0L), (7L, 1L << 20)).toDF("x", "y")
    val got = df.select(call_function("z_value", col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(refZ(3, 5), refZ(1048575, 0), refZ(7, 1L << 20)))
    val withNull = Seq((Some(3L), None: Option[Long])).toDF("x", "y")
      .select(call_function("z_value", col("x"), col("y"))).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("3-D interleave ≡ bit-loop reference; buckets are aligned 2^11 cubes") {
    def refZ3(x: Long, y: Long, z: Long): Long = {
      var out = 0L
      var i = 0
      while (i < 21) {
        out |= ((x >> i) & 1L) << (3 * i)
        out |= ((y >> i) & 1L) << (3 * i + 1)
        out |= ((z >> i) & 1L) << (3 * i + 2)
        i += 1
      }
      out
    }
    val vals = Seq(0L, 1L, 7L, 0x1FFFFFL, 0x155555L, 999999L)
    for (x <- vals; y <- vals; z <- vals)
      assert(ZValue.interleave3(x, y, z) === refZ3(x, y, z), s"($x,$y,$z)")
    assert(ZValue.interleave3(-1L, -1L, -1L) ===
      refZ3(0x1FFFFFL, 0x1FFFFFL, 0x1FFFFFL))
    val rows = Sharding.zorder3Bucket(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < 2048, s"cust range: $r")
      assert(r.getLong(5) - r.getLong(4) < 2048, s"day range: $r")
      assert(r.getLong(7) - r.getLong(6) < 2048, s"band range: $r")
    }
  }

  test("every z-bucket is an aligned cell: bbox <= 1024 in both dimensions") {
    val rows = Sharding.zorderBucket(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minC, maxC) = (r.getLong(2), r.getLong(3))
      val (minD, maxD) = (r.getLong(4), r.getLong(5))
      assert(maxC - minC < 1024, s"bucket ${r.getLong(0)}: cust range ${maxC - minC}")
      assert(maxD - minD < 1024, s"bucket ${r.getLong(0)}: day range ${maxD - minD}")
    }
  }

  test("z-layout prunes on BOTH dimensions; a single-column sort prunes on one") {
    // Planted layout study (pure key-space math — the sf0.001 key
    // range is smaller than one 1024-unit Morton cell, so the effect
    // only shows with enough cells): 20k deterministic points over a
    // 4096×4096 key space, cells of 128×128 (shift 14). A bucket
    // "must be scanned" when the predicate value falls inside its
    // min-max bbox — exactly parquet's file-skipping rule.
    val pts = (0 until 20000).map { i =>
      (((i.toLong * 2654435761L) % 4096 + 4096) % 4096,
        ((i.toLong * 40503L + 17) % 4096 + 4096) % 4096)
    }
    def bbox(g: Seq[(Long, Long)]) =
      ((g.map(_._1).min, g.map(_._1).max), (g.map(_._2).min, g.map(_._2).max))
    val zBuckets = pts.groupBy { case (x, y) => ZValue.interleave(x, y) >> 14 }
      .values.map(bbox).toArray
    // same bucket COUNT, y-sorted layout
    val ySorted = pts.sortBy { case (x, y) => (y, x) }
    val chunk = math.ceil(pts.length.toDouble / zBuckets.length).toInt
    val yBuckets = ySorted.grouped(chunk).map(bbox).toArray
    def touchFrac(buckets: Array[((Long, Long), (Long, Long))],
        pred: ((Long, Long), (Long, Long)) => Boolean): Double =
      buckets.count { case (cb, db) => pred(cb, db) }.toDouble / buckets.length
    val xV = 2048L // point predicate on x
    val yV = 2048L // 7-unit range predicate on y
    val zX = touchFrac(zBuckets, (xb, _) => xV >= xb._1 && xV <= xb._2)
    val zY = touchFrac(zBuckets, (_, yb) => yV + 6 >= yb._1 && yV <= yb._2)
    val sX = touchFrac(yBuckets, (xb, _) => xV >= xb._1 && xV <= xb._2)
    val sY = touchFrac(yBuckets, (_, yb) => yV + 6 >= yb._1 && yV <= yb._2)
    // y-sorted: y predicate near-perfect, x predicate scans everything
    assert(sY < 0.1, s"y-sorted y-pred frac $sY")
    assert(sX > 0.9, s"y-sorted x-pred frac $sX")
    // z-order: BOTH predicates prune ~97% of buckets (1/32 of cells
    // sit on each axis-aligned slab; allow slack for partial cells)
    assert(zX < 0.1, s"z-order x-pred frac $zX")
    assert(zY < 0.1, s"z-order y-pred frac $zY")
  }
}
