package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra-Gries frequent-items sketch (Misra & Gries 1982) as a MERGEABLE
  * Spark Aggregator, following the summary-merge rule of Agarwal et al.,
  * "Mergeable Summaries" (PODS 2012): combine counter maps by addition,
  * then subtract the k-th largest counter from every entry and drop the
  * non-positive ones — the count error stays bounded by n/k through any
  * merge tree, which is exactly what Spark's partial aggregation needs
  * (the reference-engine analogue, a single reduce step, never merges;
  * same deviation story as PercentileHistogram's carry-correct merge).
  *
  * GUARANTEE (what makes the q61 gate oracle-EXACT): every item with
  * true frequency > n/k survives in the sketch — its estimate is at
  * least freq − n/k > 0. The sketch output is therefore a SUPERSET of
  * the true heavy hitters; one exact counting pass over just the
  * candidates (a broadcast semi-join, never a full-vocabulary shuffle)
  * turns the superset into the exact answer. Shuffle volume of the
  * sketch pass is O(partitions × k) — constant in corpus size, where an
  * exact groupBy shuffles the full distinct-token table.
  *
  * The buffer is a MUTABLE map updated in place (Spark's typed-Aggregator
  * path holds partial buffers as live objects and serializes only at
  * partial-output boundaries, so reduce may mutate): the hit path is one
  * hash probe with zero allocation, and the full-buffer-miss path
  * decrements in place. That miss path is O(live counters) per absorbed
  * token but amortized O(1) overall —
  * every count unit it removes was added by exactly one earlier arrival,
  * so total eviction work is bounded by the token count at ANY k (the
  * previous immutable-Map buffer re-allocated the whole map there,
  * making the constant k-proportional in allocation too).
  */
class MisraGries(k: Int)
    extends Aggregator[String, mutable.HashMap[String, Long], Array[String]] {
  require(k >= 2, "need at least 2 counters")

  override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

  override def reduce(b: mutable.HashMap[String, Long], x: String)
      : mutable.HashMap[String, Long] = {
    b.get(x) match {
      case Some(c)                => b(x) = c + 1L
      case None if b.size < k - 1 => b(x) = 1L
      case None =>
        // decrement every counter in place; drop zeros (the new item is
        // "absorbed") — amortized O(1), see the class doc
        b.mapValuesInPlace((_, c) => c - 1L)
        b.filterInPlace((_, c) => c > 0L)
    }
    b
  }

  override def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (t, c) => a(t) = a.getOrElse(t, 0L) + c }
    if (a.size > k - 1) {
      // subtract the k-th largest counter from all, drop non-positive
      val counts = a.values.toArray
      java.util.Arrays.sort(counts)
      val kth = counts(counts.length - k)
      a.mapValuesInPlace((_, c) => c - kth)
      a.filterInPlace((_, c) => c > 0L)
    }
    a
  }

  /** Candidate keys only (sorted for determinism of the downstream
    * explode); estimated counts are deliberately not exposed — the gate
    * re-counts candidates exactly, so estimates would only invite use. */
  override def finish(b: mutable.HashMap[String, Long]): Array[String] =
    b.keys.toArray.sorted

  override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[mutable.HashMap[String, Long]]()
  override def outputEncoder: Encoder[Array[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[String]]()
}

/** The same sketch finishing to its (token -> residual count) MAP instead
  * of candidate keys: a consumer that merges sketches ACROSS aggregation
  * calls — the streaming heavy-hitters gate merges one sketch per
  * micro-batch (StreamParity q66) — needs the counters, since the
  * mergeable-summaries rule operates on them. The guarantee is unchanged:
  * the map is a k-bounded summary whose keys form the candidate superset.
  * All sketch logic delegates to [[MisraGries]]. */
class MisraGriesSketch(k: Int)
    extends Aggregator[String, mutable.HashMap[String, Long], Map[String, Long]] {
  private val mg = new MisraGries(k)
  override def zero: mutable.HashMap[String, Long] = mg.zero
  override def reduce(b: mutable.HashMap[String, Long], x: String)
      : mutable.HashMap[String, Long] = mg.reduce(b, x)
  override def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] =
    mg.merge(a, b)
  override def finish(b: mutable.HashMap[String, Long]): Map[String, Long] =
    b.toMap
  override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
    mg.bufferEncoder
  override def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}
