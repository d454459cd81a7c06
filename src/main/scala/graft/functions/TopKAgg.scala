package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable bounded top-k: keep the k best (score DESC, ties id ASC)
  * pairs seen — the aggregation-shaped alternative to a rank-filtered
  * window for per-key top-k. Where `WindowGroupLimit` still SORTS each
  * group's retained rows through a shuffle, this is an `Aggregator` with
  * O(k) state that combines map-side (partial top-k per task before the
  * exchange, final merge after), and — the reason it exists — it is the
  * legal per-key top-k for STREAMING aggregations, where window functions
  * are unsupported and state must stay bounded per key: x26 keeps each
  * query's running top-k in exactly k rows of store state however large
  * the scanned cell is.
  *
  * Determinism: the buffer is kept sorted under the total order
  * (−score, id) — merge is associative and commutative over that order, so
  * any partitioning/arrival order yields the same k rows, and the boundary
  * tie-break (equal scores) matches the rank form's `ORDER BY score DESC,
  * id` exactly. */
case class TopKAgg(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  private def keep(xs: Seq[(Double, Long)]): Seq[(Double, Long)] =
    xs.sortBy { case (s, id) => (-s, id) }.take(k)

  override def zero: Seq[(Double, Long)] = Nil
  override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
    keep(b :+ a)
  override def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
    keep(b1 ++ b2)
  override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b
  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
}

/** [[TopKAgg]] with two carried payload longs: keeps the k best
  * (score DESC, ties id ASC) rows with their payload columns riding
  * along — the streaming-legal per-key top-k for ANSWERS that must carry
  * more than the ranking key (x38's served list carries each neighbor's
  * cell and integer score next to the cosine it ranked by). The payload
  * never participates in the order, so the total order — and therefore
  * partition/arrival-order determinism and the boundary tie-break — is
  * inherited from [[TopKAgg]] unchanged. */
case class TopKPayloadAgg(k: Int)
    extends Aggregator[(Double, Long, Long, Long),
                       Seq[(Double, Long, Long, Long)],
                       Seq[(Double, Long, Long, Long)]] {

  private def keep(xs: Seq[(Double, Long, Long, Long)]): Seq[(Double, Long, Long, Long)] =
    xs.sortBy { case (s, id, _, _) => (-s, id) }.take(k)

  override def zero: Seq[(Double, Long, Long, Long)] = Nil
  override def reduce(b: Seq[(Double, Long, Long, Long)],
                      a: (Double, Long, Long, Long)): Seq[(Double, Long, Long, Long)] =
    keep(b :+ a)
  override def merge(b1: Seq[(Double, Long, Long, Long)],
                     b2: Seq[(Double, Long, Long, Long)]): Seq[(Double, Long, Long, Long)] =
    keep(b1 ++ b2)
  override def finish(b: Seq[(Double, Long, Long, Long)]): Seq[(Double, Long, Long, Long)] = b
  override def bufferEncoder: Encoder[Seq[(Double, Long, Long, Long)]] =
    ExpressionEncoder[Seq[(Double, Long, Long, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long, Long, Long)]] =
    ExpressionEncoder[Seq[(Double, Long, Long, Long)]]()
}

object TopKAgg {
  /** Untyped column form: `topK(3)(col("score"), col("id"))` → an
    * array<struct<_1: score, _2: id>> aggregate, best first. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(TopKAgg(k), ExpressionEncoder[(Double, Long)]())
    (score: Column, id: Column) => fn(score, id)
  }

  /** Payload form: `topKPayload(5)(score, id, p1, p2)` → an
    * array<struct<_1: score, _2: id, _3: p1, _4: p2>>, best first. */
  def topKPayload(k: Int): (Column, Column, Column, Column) => Column = {
    val fn = udaf(TopKPayloadAgg(k), ExpressionEncoder[(Double, Long, Long, Long)]())
    (score: Column, id: Column, p1: Column, p2: Column) => fn(score, id, p1, p2)
  }
}
