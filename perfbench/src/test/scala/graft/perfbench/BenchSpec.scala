package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{Trigger => SparkTrigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.api._

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** FIXTURES §2 `gen_records`: 3 keys x values 1..15 at fixed offsets
    * from 2020-03-11T12:01:00+08:00. */
  private val BaseTs = 1583899260000L
  private val genRecords: Seq[Model] = for {
    key <- Seq("A-key-0", "B-key-0", "C-key-0")
    (off, i) <- Seq(0, 5, 15, 20, 25, 35, 40, 45, 55, 60, 65, 75, 80, 85, 95).zipWithIndex
  } yield Model(BaseTs + off * 1000L, key, i + 1L)

  private val small = Gen.DrainSpec(rows = 6000, files = 6, filesPerTrigger = 1, keys = 300,
    zipfS = 1.1, stepMs = 50, pipeline = Gen.Pipeline(60000, 20000, 2000), lateEvery = 100)

  test("reference model reproduces the gen_records 60 s / 20 s sliding windows") {
    val w = Flagship.reference(genRecords, Gen.Pipeline(60000, 20000, 1000))
    assert(w.size === 21) // 7 windows per key
    val a = "A-key-0"
    assert(w((BaseTs - 40000, a)) === WindowAgg(6, 3, 1, 3, 3.0))
    assert(w((BaseTs, a)) === WindowAgg(45, 9, 1, 9, 9.0))
    assert(w((BaseTs + 20000, a)) === WindowAgg(72, 12, 4, 9, 12.0))
    assert(w((BaseTs + 80000, a)) === WindowAgg(42, 15, 13, 3, 16.0))
    assert(w.keySet.map(_._1).min === BaseTs - 40000 && w.keySet.map(_._1).max === BaseTs + 80000)
  }

  test("reference model agrees with the api facade on a batch DataFrame") {
    val rows = Gen.backlog(small, 7).onTime
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(m => Row(m.timestamp, m.name, m.value))), Flagship.schema)
    val got = Flagship.pipeline(spark, df, small.pipeline).df.collect().map(WindowRows.decode)
    assert(got.length === got.map(_._1).distinct.length)
    assert(got.toMap === Flagship.reference(rows, small.pipeline))
  }

  test("histogram percentile reads the reference scale") {
    val scale = Flagship.Scale
    assert(WindowModel.histogramPct(Seq(0L, 1L, 2L), 95, Array(0.0, 1.0, 2.0)) === 2.0)
    assert(WindowModel.histogramPct(Seq(11L), 90, scale) === 12.0) // smallest boundary >= v
    assert(WindowModel.histogramPct(Seq(5000000L), 90, scale) === 1000000.0) // clamped
    // 1..100 at p50: position 50 counted from the top lands in bucket 60
    assert(WindowModel.histogramPct((1L to 100L), 50, scale) === 60.0)
  }

  test("percentile selection is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 5.0)
    assert(Stats.percentile(xs, 90) === 9.0)
    assert(Stats.percentile(xs, 100) === 10.0)
    assert(Stats.percentile(Seq(3.0), 90) === 3.0)
    assert(Stats.percentile(xs.reverse, 10) === 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("late rows sit beyond one window plus the bound behind the late-event watermark") {
    val spec = small.copy(filesPerTrigger = 2)
    val b = Gen.backlog(spec, 11)
    val p = spec.pipeline
    val perFile = spec.rows / spec.files
    val onTime = b.onTime.toSet
    assert(b.late.size === (spec.files - 2 * spec.filesPerTrigger) * (perFile / spec.lateEvery))
    b.files.zipWithIndex.foreach { case (file, f) =>
      val late = file.filterNot(m => onTime(m) || m == b.flush)
      if (f < 2 * spec.filesPerTrigger) assert(late.isEmpty)
      else {
        val horizon = b.files(f - 2 * spec.filesPerTrigger).filter(onTime).map(_.timestamp).min - p.boundMs
        late.foreach(m => assert(m.timestamp + p.sizeMs < horizon))
      }
    }
    // on-time jitter stays inside the bound
    b.onTime.zipWithIndex.foreach { case (m, i) =>
      val base = Gen.DrainEpochMs + i * spec.stepMs
      assert(m.timestamp <= base && m.timestamp > base - p.boundMs)
    }
    assert(Gen.backlog(spec, 11) === b)
  }

  test("a drain through the streaming engine drops every late row and emits the reference") {
    val b = Gen.backlog(small, 3)
    val dir = java.nio.file.Files.createTempDirectory("perfbench-drain").toFile
    Drain.write(spark, b, new File(dir, "in"))
    val sink = new CollectSink(spark)
    val src = spark.readStream.schema(Flagship.schema)
      .option("maxFilesPerTrigger", small.filesPerTrigger.toLong).parquet(new File(dir, "in").getPath)
    val q = Flagship.start(Flagship.pipeline(spark, src, small.pipeline), sink,
      new File(dir, "ckpt"), SparkTrigger.AvailableNow())
    q.awaitTermination()
    val emitted = sink.received.flatMap(_.windows).filterNot(_._1._2 == "flush")
    assert(Check.windows(emitted, Flagship.reference(b.onTime, small.pipeline)).isEmpty)
  }

  test("digests ignore row order and last-bit float noise") {
    val a = Seq(Row(1L, "x", 0.1 + 0.2), Row(2L, "y", Seq(1, 2)))
    val b = Seq(Row(2L, "y", Seq(1, 2)), Row(1L, "x", 0.3))
    assert(Digest.of(a) === Digest.of(b))
    assert(Digest.of(a) !== Digest.of(a :+ Row(3L, "z", 1.0)))
    assert(Digest.of(a).startsWith("2:"))
  }

  test("reconciliation allows the tracing overhead and the untraced noise, no more") {
    val untraced = Seq(10.0, 10.4, 10.2)
    // traced walls 0.5 s slower; the layer's spans cover all but 0.1 s
    val covered = Recon("keys", Seq(10.6, 10.5), Seq(10.7, 10.6), untraced)
    assert(math.abs(covered.overheadMs - 450.0) < 1e-6)
    assert(covered.ok)
    // the spans miss 2 s of every traced wall: beyond overhead plus noise
    val missed = Recon("keys", Seq(8.7, 8.6), Seq(10.7, 10.6), untraced)
    assert(math.abs(missed.gapMs - 1550.0) < 1e-6 && math.abs(missed.allowedMs - 850.0) < 1e-6)
    assert(!missed.ok)
  }
}
