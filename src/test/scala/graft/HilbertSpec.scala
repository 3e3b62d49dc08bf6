package graft

import org.apache.spark.sql.functions._
import graft.functions.HilbertValue
import graft.queries.Sharding

/** Hilbert index invariants: bijection on the grid, the defining
  * unit-step adjacency of the traversal, xy2d/d2xy round-trip,
  * codegen'd expression ≡ kernel, and the aligned-subsquare bucket
  * bound of the registered layout query.
  */
class HilbertSpec extends SparkSuite {

  /** Inverse of HilbertValue.xy2d (d → xy), for the adjacency and
    * bijection checks.
    */
  private def d2xy(bits: Int, d0: Long): (Long, Long) = {
    val n = 1L << bits
    var x = 0L; var y = 0L
    var t = d0
    var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  test("bijection + unit-step adjacency + round-trip on a 32x32 grid") {
    val bits = 5
    val n = 1 << bits
    val ds = for (x <- 0 until n; y <- 0 until n)
      yield HilbertValue.xy2d(bits, x, y)
    assert(ds.toSet === (0 until n * n).map(_.toLong).toSet) // bijection
    // walk the curve: consecutive indices are grid neighbors
    val cells = (0 until n * n).map(d => d2xy(bits, d))
    cells.zip(cells.tail).foreach { case ((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
    // round-trip
    (0 until n * n).foreach { d =>
      val (x, y) = d2xy(bits, d)
      assert(HilbertValue.xy2d(bits, x, y) === d)
    }
  }

  test("full-width 16-bit round-trip on random points; index stays in [0, 2^32)") {
    val rnd = new scala.util.Random(20260813)
    (1 to 5000).foreach { _ =>
      val x = rnd.nextInt(1 << 16).toLong
      val y = rnd.nextInt(1 << 16).toLong
      val d = HilbertValue.xy2d(16, x, y)
      assert(d >= 0L && d < (1L << 32), s"($x,$y) -> $d out of range")
      assert(d2xy(16, d) === ((x, y)), s"round-trip failed at ($x,$y)")
    }
  }

  test("hilbert_value expression under codegen ≡ kernel; null propagates; masks high bits") {
    import spark.implicits._
    val pts = Seq((3L, 5L), (65535L, 0L), (12345L, 54321L), (0L, 0L))
    val got = pts.toDF("x", "y")
      .select(HilbertValue.hilbertCol(col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === pts.map { case (x, y) => HilbertValue.hilbert16(x, y) })
    val withNull = Seq((Some(3L), None: Option[Long])).toDF("x", "y")
      .select(HilbertValue.hilbertCol(col("x"), col("y"))).collect()
    assert(withNull(0).isNullAt(0))
    assert(HilbertValue.hilbert16(65536L + 7L, 9L) === HilbertValue.hilbert16(7L, 9L))
  }

  test("every hilbert bucket is an aligned subsquare: bbox <= 1024 in both dimensions") {
    val rows = Sharding.hilbertBucket(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < 1024, s"cust range: $r")
      assert(r.getLong(5) - r.getLong(4) < 1024, s"day range: $r")
    }
  }
}
