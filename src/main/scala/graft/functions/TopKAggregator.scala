package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-state top-k aggregator: keeps the k largest (value, id)
  * pairs per group in a sorted buffer that never exceeds k elements —
  * the partial-mergeable alternative to sort-then-row_number when only
  * the head of each group is needed. At 100 TB the map-side partials
  * carry k rows per group per task instead of the group's whole row
  * set through the shuffle; merge is an O(k) sorted-list merge.
  *
  * Ordering is total and engine-neutral: value DESC, id ASC on ties —
  * the same ordering the oracle's row_number uses.
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {

  private def better(a: (Long, Double), b: (Long, Double)): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  private def insert(buf: Seq[(Long, Double)],
      x: (Long, Double)): Seq[(Long, Double)] = {
    val (hi, lo) = buf.span(better(_, x))
    (hi ++ (x +: lo)).take(k)
  }

  override def zero: Seq[(Long, Double)] = Seq.empty

  override def reduce(buf: Seq[(Long, Double)],
      x: (Long, Double)): Seq[(Long, Double)] =
    if (buf.length == k && better(buf.last, x)) buf else insert(buf, x)

  override def merge(b1: Seq[(Long, Double)],
      b2: Seq[(Long, Double)]): Seq[(Long, Double)] =
    b2.foldLeft(b1)(insert)

  override def finish(buf: Seq[(Long, Double)]): Seq[(Long, Double)] = buf

  override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()

  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
}
