package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import scala.reflect.runtime.universe.TypeTag

/** Exact bounded per-group top-k as a typed [[Aggregator]] — the scale
  * path for "keep the first k of each key" (per-domain caps, per-query
  * shortlists) that a rank window cannot provide: a window sorts and
  * materializes EVERY row of every key behind one shuffle, while this
  * aggregate carries at most k rows per group through (a) the map-side
  * partial on each input partition and (b) one reduce-side merge — the
  * same plan shape as any hash aggregate, memory O(k) per group
  * regardless of key skew (a 100M-row domain costs what a 100-row
  * domain costs past the scan).
  *
  * Exactness: min-k of a union is the min-k of the unions' min-k's —
  * each `reduce`/`merge` keeps the k smallest (by the (sortKey, id)
  * total order), so partial buffers lose only rows that can never be
  * in the global answer.
  *
  * The sort key's order is passed in: `Ordering.Long` for integer keys,
  * `Ordering.Double.TotalOrdering` for scores — the SAME total order
  * Spark's `ORDER BY key ASC` uses (−0.0 < 0.0, NaN greatest), so a
  * caller that negates a score (`key = −score`, NaN mapped to −∞ by the
  * caller) reproduces `ORDER BY score DESC, id ASC` bit-exactly.
  *
  * The buffer is a sorted Seq capped at k (k is small by contract —
  * caps/shortlists, not percentiles); insertion keeps it sorted so
  * merge is a linear merge. Registered through `functions.udaf`, it
  * runs as ObjectHashAggregate with partial aggregation — shuffle
  * volume is k rows per (partition, group), never the raw rows.
  */
final class TopKAggregator[K: TypeTag](k: Int, keyOrd: Ordering[K])
    extends Aggregator[(K, Long), Seq[(K, Long)], Seq[(K, Long)]] {
  require(k > 0, s"top-k needs k > 0, got $k")

  override def zero: Seq[(K, Long)] = Vector.empty

  private val ord: Ordering[(K, Long)] = Ordering.Tuple2(keyOrd, Ordering.Long)

  override def reduce(buf: Seq[(K, Long)], row: (K, Long)): Seq[(K, Long)] = {
    // skip rows that can't enter a full buffer (the hot path at scale)
    if (buf.length == k && ord.lteq(buf.last, row)) buf
    else {
      // O(k) sorted insertion (the buffer is always sorted)
      val i = buf.indexWhere(ord.gt(_, row)) match {
        case -1 => buf.length
        case idx => idx
      }
      val inserted = (buf.take(i) :+ row) ++ buf.drop(i)
      if (inserted.length <= k) inserted else inserted.take(k)
    }
  }

  override def merge(a: Seq[(K, Long)], b: Seq[(K, Long)]): Seq[(K, Long)] = {
    // linear two-pointer merge of two sorted buffers, capped at k
    val out = Vector.newBuilder[(K, Long)]
    var i = 0
    var j = 0
    var n = 0
    val cap = math.min(k, a.length + b.length)
    while (n < cap) {
      if (j >= b.length || (i < a.length && ord.lteq(a(i), b(j)))) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(buf: Seq[(K, Long)]): Seq[(K, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(K, Long)]] = ExpressionEncoder[Seq[(K, Long)]]()

  override def outputEncoder: Encoder[Seq[(K, Long)]] = ExpressionEncoder[Seq[(K, Long)]]()
}
