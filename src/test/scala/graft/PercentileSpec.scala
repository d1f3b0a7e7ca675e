package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeRow}
import org.apache.spark.sql.functions._

import graft.functions.PercentileHistogram
import graft.functions.GraftFunctions._

class PercentileSpec extends SparkSpec {
  import spark.implicits._

  /** The reference unit test's dense scale (`percentile/mod.rs:254-293`):
    * 1..50 step 1; 52..100 step 2; 110..1000 step 10; 1100..10000 step 100;
    * 11000..100000 step 1000. */
  private val testScale: Array[Double] = {
    val b = Array.newBuilder[Double]
    (1 to 50).foreach(i => b += i.toDouble)
    (52 to 100 by 2).foreach(i => b += i.toDouble)
    (110 to 1000 by 10).foreach(i => b += i.toDouble)
    (1100 to 10000 by 100).foreach(i => b += i.toDouble)
    (11000 to 100000 by 1000).foreach(i => b += i.toDouble)
    b.result()
  }

  test("reference parity: inputs {0,1,2} on the dense test scale -> p95 == 2.0") {
    // `rlink/src/functions/percentile/mod.rs:295-316`
    val df = Seq(0.0, 1.0, 2.0).toDF("v")
    val got = df.agg(pct(col("v"), 95, testScale).as("p95")).head.getDouble(0)
    assert(got === 2.0)
  }

  test("accumulator blob layout: big-endian u64 buckets + trailing counter") {
    val df = Seq(0.0, 1.0, 2.0).toDF("v")
    val blob = df.agg(pctHist(col("v"), testScale).as("h"))
      .head.getAs[Array[Byte]]("h")
    assert(blob.length === (testScale.length + 1) * 8)
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.BIG_ENDIAN)
    assert(bb.getLong(0) === 2L)                      // bucket[0] (boundary 1.0): 0.0 and 1.0
    assert(bb.getLong(8) === 1L)                      // bucket[1] (boundary 2.0): 2.0
    assert(bb.getLong(testScale.length * 8) === 3L)   // trailing total counter
  }

  test("merge across partitions is exact (counts > 255 survive)") {
    // 1000 identical values through 8 partitions: the reference's byte-wise
    // merge would wrap at 256; ours must not.
    val df = spark.range(1000).repartition(8).select(lit(5.0).as("v"))
    val blob = df.agg(pctHist(col("v"), testScale).as("h"))
      .head.getAs[Array[Byte]]("h")
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.BIG_ENDIAN)
    assert(bb.getLong(4 * 8) === 1000L)               // bucket of 5.0
    assert(bb.getLong(testScale.length * 8) === 1000L)
  }

  /** Independent brute-force oracle: pos-th largest bucketized value. */
  private def bruteForce(values: Seq[Double], p: Int, scale: Array[Double]): Double = {
    def bucketize(v: Double): Double =
      if (v >= scale.last) scale.last
      else if (v <= scale.head) scale.head
      else scale(scale.indexWhere(_ >= v))
    val sorted = values.map(bucketize).sorted(Ordering[Double].reverse)
    val raw = (values.size.toDouble * ((100 - p).toDouble / 100.0)).toLong
    val pos = math.min(math.max(raw, 1L), values.size.toLong)
    sorted((pos - 1).toInt)
  }

  test("property: histogram percentile equals brute-force for random inputs") {
    val rnd = new scala.util.Random(42)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(400)
      val vs = Seq.fill(n)(rnd.nextDouble() * 150000.0)
      val p = 1 + rnd.nextInt(99)
      val got = vs.toDF("v").repartition(3)
        .agg(pct(col("v"), p, testScale)).head.getDouble(0)
      assert(got === bruteForce(vs, p, testScale), s"n=$n p=$p")
    }
  }

  test("leveldb scale90 matches the reference literal") {
    // spot-check against `example/example-connect/src/percentile.rs:2-12`
    assert(leveldbScale90.length === 90)
    assert(leveldbScale90.take(15).sameElements(
      Array(1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 16, 18, 20)))
    assert(leveldbScale90.slice(15, 21).sameElements(Array(25.0, 30, 35, 40, 45, 50)))
    assert(leveldbScale90.last === 1000000.0)
    assert(leveldbScale90.sameElements(leveldbScale90.sorted))
  }

  test("empty group yields null percentile") {
    val got = Seq.empty[Double].toDF("v")
      .agg(pct(col("v"), 95, testScale)).head
    assert(got.isNullAt(0))
  }

  // -------------------------------------------------------------------
  // Serialized state: sparse varint pairs behind a format tag.
  // -------------------------------------------------------------------
  private val agg = PercentileHistogram(Literal(0.0), leveldbScale90.toSeq)
  private val nb = leveldbScale90.length

  /** A dense buffer from (bucket, count) pairs, total in the last slot. */
  private def hist(pairs: (Int, Long)*): Array[Long] = {
    val h = new Array[Long](nb + 1)
    pairs.foreach { case (i, c) => h(i) += c; h(nb) += c }
    h
  }

  test("serialize/deserialize round-trips empty, edge and random histograms") {
    val edgeCounts = Seq(1L, 127L, 128L, 16383L, 16384L, (1L << 32) + 7L, Long.MaxValue / nb)
    val rnd = new scala.util.Random(7)
    val cases: Seq[Array[Long]] =
      Seq(hist(), hist(0 -> 1L), hist(nb - 1 -> 1L),
        hist((0 until nb).map(i => i -> (i + 1L)): _*)) ++
      edgeCounts.flatMap(c => Seq(hist(0 -> c), hist(nb - 1 -> c),
        hist(0 -> c, 45 -> c, nb - 1 -> c))) ++
      // random buckets and counts; the largest edge count stays in the
      // fixed cases above, where summing it cannot overflow the total
      (1 to 200).map { _ =>
        hist(Seq.fill(rnd.nextInt(nb + 1))(
          rnd.nextInt(nb) -> edgeCounts(rnd.nextInt(edgeCounts.size - 1))): _*)
      }
    cases.foreach { h =>
      val bytes = agg.serialize(h)
      assert(agg.deserialize(bytes).sameElements(h), h.mkString(","))
      assert(agg.eval(agg.deserialize(bytes)).asInstanceOf[Array[Byte]]
        .sameElements(agg.eval(h).asInstanceOf[Array[Byte]]))
    }
    // sparse: a tag byte, then one byte per small index and count
    assert(agg.serialize(hist()).length === 1)
    assert(agg.serialize(hist(3 -> 2L, 70 -> 127L)).length === 5)
    assert(agg.serialize(hist(3 -> 128L)).length === 4)
  }

  test("state in the old encoder layout is rejected loudly, not misread") {
    // the previous typed Aggregator serialized its buffer as the UnsafeRow
    // of ExpressionEncoder[Array[Long]]
    val old = ExpressionEncoder[Array[Long]]().createSerializer()(
      hist(0 -> 2L, 1 -> 1L)).asInstanceOf[UnsafeRow].getBytes
    val e = intercept[IllegalStateException](agg.deserialize(old))
    assert(e.getMessage.contains("format tag 0x00"), e.getMessage)
  }

  test("deserialize rejects bad indices, zero counts and truncated varints") {
    val tag = agg.serialize(hist())(0)
    def bad(what: String, bytes: Int*): Unit = {
      val e = intercept[IllegalStateException](
        agg.deserialize((tag +: bytes.map(_.toByte)).toArray))
      assert(e.getMessage.contains(what), e.getMessage)
    }
    bad("must ascend", 5, 1, 3, 1)         // non-ascending
    bad("must ascend", 5, 1, 5, 1)         // repeated
    bad("must ascend", nb, 1)              // out of range
    bad("must be positive", 5, 0)          // zero count
    bad("truncated", 5)                    // index without a count
    bad("truncated", 5, 0x80)              // unterminated varint
    intercept[IllegalStateException](agg.deserialize(Array.empty[Byte]))
  }

  test("the flagship reduce plans the graft aggregate, no ScalaAggregator") {
    import graft.streaming.api._
    val df = StreamExecutionEnvironment(spark)
      .fromDataFrame(Seq((1583899260000L, "k", 3L)).toDF("timestamp", "name", "value"))
      .assignTimestampsAndWatermarks("timestamp", Time.seconds(1))
      .keyBy("name")
      .window(SlidingEventTimeWindows.of(Time.seconds(60), Time.seconds(20)))
      .reduce(Agg.Sum("value"), Agg.Max("value"), Agg.Min("value"), Agg.Count(),
        Agg.Pct("value", leveldbScale90, 90))
      .df
    val fns = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.map(_.aggregateFunction)
    }.flatten
    assert(fns.exists(_.isInstanceOf[PercentileHistogram]), fns)
    assert(!fns.exists(_.nodeName == "ScalaAggregator"), fns)
  }
}
