package graft.perfbench

import java.util.SplittableRandom

/** Zipf(s) sampler over keys 0 until n (inverse CDF by binary search). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded input of the stream workload: the same seed always gives the
  * same rows. */
object Gen {
  /** Window geometry and watermark bound of one pipeline. */
  final case class Pipeline(sizeMs: Long, slideMs: Long, boundMs: Long)

  /** Log-uniform measure in [1, 1e6], so the percentile histogram uses
    * its whole scale. */
  def value(r: SplittableRandom): Long = math.exp(r.nextDouble() * math.log(1e6)).toLong.max(1L)

  def keyName(i: Int): String = f"k$i%05d"

  /** The backlog: `rows` on-time rows spread evenly over `files` files in
    * event-time order, one late row planted every `lateEvery` rows from
    * file 2 * filesPerTrigger on, and one flush row closing every window. */
  final case class DrainSpec(rows: Int, files: Int, filesPerTrigger: Int,
      keys: Int, zipfS: Double, stepMs: Long, pipeline: Pipeline, lateEvery: Int)

  final case class Backlog(files: Vector[Vector[Model]], onTime: Vector[Model],
      late: Vector[Model], flush: Model) {
    def rowCount: Long = files.map(_.size.toLong).sum
  }

  /** Base of the drain backlog's event time (a multiple of every slide). */
  val DrainEpochMs: Long = 1700000000000L - 1700000000000L % 3600000L

  /** Builds the backlog. A planted late row in file f sits more than one
    * window size plus the bound behind the smallest event time of file
    * f - 2 * filesPerTrigger. Spark drops late rows against the watermark
    * of the previous micro-batch, which covers every batch before that
    * one; when at most `filesPerTrigger` files make a batch, file
    * f - 2 * filesPerTrigger is in such a batch. So that watermark already
    * passed every window the late row falls in, and the engine must drop
    * it however the files are batched. */
  def backlog(spec: DrainSpec, seed: Long): Backlog = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(spec.keys, spec.zipfS)
    val p = spec.pipeline
    val onTime = Vector.tabulate(spec.rows) { i =>
      Model(DrainEpochMs + i * spec.stepMs - r.nextLong(p.boundMs),
        keyName(zipf.sample(r)), value(r))
    }
    val perFile = spec.rows / spec.files
    val chunks = onTime.grouped(perFile).toVector
    require(chunks.size == spec.files, s"${spec.rows} rows do not split into ${spec.files} files")
    val lateBuf = Vector.newBuilder[Model]
    val files = chunks.zipWithIndex.map { case (chunk, f) =>
      if (f < 2 * spec.filesPerTrigger) chunk
      else {
        val horizon = chunks(f - 2 * spec.filesPerTrigger).map(_.timestamp).min -
          p.sizeMs - p.boundMs - 1
        val late = (0 until perFile / spec.lateEvery).map { _ =>
          Model(horizon - r.nextLong(p.sizeMs), keyName(zipf.sample(r)), value(r))
        }
        lateBuf ++= late
        // late rows sit at seeded positions inside the file
        late.foldLeft(chunk) { (acc, m) =>
          val at = r.nextInt(acc.size + 1)
          (acc.take(at) :+ m) ++ acc.drop(at)
        }
      }
    }
    val flush = Model(onTime.map(_.timestamp).max + p.sizeMs + p.boundMs + p.slideMs,
      "flush", 0L)
    Backlog(files.init :+ (files.last :+ flush), onTime, lateBuf.result(), flush)
  }
}
