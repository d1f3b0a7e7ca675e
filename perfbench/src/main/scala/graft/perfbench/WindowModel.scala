package graft.perfbench

/** One stream row of the flagship pipeline (FIXTURES §1.1):
  * `timestamp` is the event time in epoch millis. */
final case class Model(timestamp: Long, name: String, value: Long)

/** One emitted window: sum/max/min/count/pct of `value` per (window, key). */
final case class WindowAgg(sum: Long, max: Long, min: Long, count: Long, pct: Double)

/** Pure-Scala reference for the keyed sliding event-time window reduce.
  *
  * It shares no code with the engine: window assignment, the five
  * aggregates and the histogram percentile are re-derived here from the
  * reference semantics, so a disagreement with the Spark pipeline is a
  * real disagreement.
  */
object WindowModel {

  /** Start of every sliding window (size, slide, offset 0) holding `ts`:
    * the multiples of `slide` in (ts - size, ts]. */
  def windowStarts(ts: Long, sizeMs: Long, slideMs: Long): Iterator[Long] = {
    val last = math.floorDiv(ts, slideMs) * slideMs
    Iterator.iterate(last)(_ - slideMs).takeWhile(_ > ts - sizeMs)
  }

  /** Fixed-boundary histogram percentile, as the reference reads it:
    * each value counts in the smallest boundary >= value (clamped to the
    * last boundary); position = trunc(n * (100 - p) / 100) clamped to
    * [1, n]; scanning from the top bucket, the boundary where the running
    * count reaches the position is the result. */
  def histogramPct(values: Iterable[Long], p: Int, scale: Array[Double]): Double = {
    val counts = new Array[Long](scale.length)
    values.foreach { v =>
      val i = scale.indexWhere(_ >= v.toDouble)
      counts(if (i < 0) scale.length - 1 else i) += 1
    }
    val n = values.size.toLong
    val raw = (n.toDouble * ((100 - p).toDouble / 100.0)).toLong
    val pos = math.max(1L, math.min(n, raw))
    var scanned = 0L
    var idx = scale.length - 1
    while (idx >= 0) {
      scanned += counts(idx)
      if (counts(idx) != 0 && scanned >= pos) return scale(idx)
      idx -= 1
    }
    throw new IllegalArgumentException("percentile of an empty window")
  }

  /** Every window of `rows`, keyed by (window start ms, key). */
  def windows(rows: Iterable[Model], sizeMs: Long, slideMs: Long, p: Int,
      scale: Array[Double]): Map[(Long, String), WindowAgg] =
    rows.iterator
      .flatMap(m => windowStarts(m.timestamp, sizeMs, slideMs).map(s => (s, m.name) -> m.value))
      .toSeq.groupMap(_._1)(_._2)
      .view.mapValues(vs => WindowAgg(vs.sum, vs.max, vs.min, vs.size.toLong,
        histogramPct(vs, p, scale)))
      .toMap
}

/** Small statistics used for every reported figure. */
object Stats {
  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  /** Middle sample; the mean of the two middle ones for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
