package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed top-k aggregator: keeps the k best (score desc, id asc)
  * pairs per group in a BOUNDED buffer with map-side partial merge.
  *
  * This is the scalable form of per-group top-k: the window
  * (`row_number() <= k`) form shuffles and sorts EVERY row of the
  * group; this aggregator shuffles at most k rows per (partition,
  * group) — at 100 TB with hot groups that is the difference between
  * a skewed sort and a bounded merge. (The exactly-equivalent window
  * query `topk_per_group` stays as the oracle twin.)
  *
  * The buffer is a sorted Vector capped at k: `reduce` inserts in
  * O(k), `merge` is a bounded merge of two sorted buffers — both
  * associative and commutative, so Spark runs them as partial +
  * final aggregation.
  */
class TopKAggregator(k: Int)
  extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2) // score desc, id asc

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(buf: Seq[(Double, Long)], row: (Double, Long)): Seq[(Double, Long)] = {
    val i = buf.indexWhere(e => lt(row, e))
    val inserted = if (i < 0) buf :+ row else (buf.take(i) :+ row) ++ buf.drop(i)
    inserted.take(k)
  }

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val out = Vector.newBuilder[(Double, Long)]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      if (j >= b.length || (i < a.length && lt(a(i), b(j)))) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
}

object TopKAggregator {
  /** Typed-column form for `Dataset.groupByKey(...).agg(...)`. */
  def topK(k: Int): org.apache.spark.sql.TypedColumn[(Double, Long), Seq[(Double, Long)]] =
    new TopKAggregator(k).toColumn
}
