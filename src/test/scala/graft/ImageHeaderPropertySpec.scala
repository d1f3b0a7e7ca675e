package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.ImageHeader

/** Property tests for the [[graft.functions.ImageHeader]] byte kernel
  * over SYNTHESIZED containers — adversarial layouts the corpus-derived
  * q226 query cannot force: random segment walks, FF fill bytes, RSTn
  * standalone markers, truncations at every prefix length, SOS-before-
  * SOF streams, and the JPEG height-before-width transposition trap. */
class ImageHeaderPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  private def png(w: Long, h: Long, tail: Array[Byte]): Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0) ++ tail

  /** JPEG with a random pre-SOF segment walk. Each junk segment is a
    * marker in the APPn/COM range with random payload; optional FF fill
    * bytes and RSTn standalone markers between segments. */
  private def jpeg(w: Int, h: Int, junk: Seq[(Int, Array[Byte])],
      fills: Int, rstAfterFirst: Boolean, sofMarker: Int): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer[Byte](0xFF.toByte, 0xD8.toByte)
    junk.zipWithIndex.foreach { case ((marker, payload), i) =>
      b += 0xFF.toByte; b += marker.toByte
      b ++= be16(payload.length + 2); b ++= payload
      if (i == 0 && rstAfterFirst) { b += 0xFF.toByte; b += 0xD0.toByte }
    }
    (0 until fills).foreach(_ => b += 0xFF.toByte) // fill bytes before SOF
    b += 0xFF.toByte; b += sofMarker.toByte
    b ++= be16(17); b += 8.toByte; b ++= be16(h); b ++= be16(w)
    b ++= Array[Byte](3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)
    b ++= Array(0xFF, 0xDA, 0x00, 0x08, 1, 1, 0, 0, 0x3F, 0).map(_.toByte)
    b ++= Array(0xFF, 0xD9).map(_.toByte)
    b.toArray
  }

  test("property: 150 random JPEG segment walks parse exact w/h (height-first pinned)") {
    val sofMarkers =
      Seq(0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB)
    val gen = Gen.listOfN(150, for {
      w <- Gen.choose(1, 65535)
      h <- Gen.choose(1, 65535)
      nSeg <- Gen.choose(0, 4)
      segs <- Gen.listOfN(nSeg, for {
        m <- Gen.oneOf((0xE0 to 0xEF) :+ 0xFE)
        n <- Gen.choose(0, 40)
        p <- Gen.listOfN(n, Gen.choose(0, 255))
      } yield (m, p.map(_.toByte).toArray))
      fills <- Gen.choose(0, 3)
      rst <- Gen.oneOf(true, false)
      sof <- Gen.oneOf(sofMarkers)
    } yield (w, h, segs, fills, rst && segs.nonEmpty, sof))
    gen.pureApply(params, Seed(11L)).zipWithIndex.foreach {
      case ((w, h, segs, fills, rst, sof), i) =>
        val got = ImageHeader.parse(jpeg(w, h, segs, fills, rst, sof))
        assert(got == ImageHeader.pack(ImageHeader.FmtJpeg, w, h),
          s"case $i (w=$w h=$h sof=$sof): got $got — a w/h transposition " +
            "or segment-walk desync")
    }
  }

  test("property: 100 random PNGs parse exact w/h; every strict prefix is unknown") {
    val gen = Gen.listOfN(100, for {
      w <- Gen.choose(1L, (1L << 24) - 1)
      h <- Gen.choose(1L, (1L << 24) - 1)
      n <- Gen.choose(0, 30)
      t <- Gen.listOfN(n, Gen.choose(0, 255))
    } yield (w, h, t.map(_.toByte).toArray))
    gen.pureApply(params, Seed(13L)).foreach { case (w, h, tail) =>
      val img = png(w, h, tail)
      assert(ImageHeader.parse(img) == ImageHeader.pack(ImageHeader.FmtPng, w, h))
    }
    // truncation at every prefix below the 24-byte IHDR minimum
    val full = png(640L, 480L, Array.empty)
    (0 until 24).foreach { n =>
      assert(ImageHeader.parse(full.take(n)) == ImageHeader.FmtUnknown,
        s"$n-byte prefix must not parse")
    }
  }

  test("adversarial streams are unknown, never garbage dims or exceptions") {
    val cases = Seq[Array[Byte]](
      Array.empty,
      Array(0x00, 0x01, 0x02).map(_.toByte),
      "plain text, not an image at all".getBytes,
      Array(0xFF, 0xD8).map(_.toByte), // bare SOI
      // SOS before any SOF: dims unavailable
      Array(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x04, 0x01, 0x00).map(_.toByte),
      // EOI right after SOI
      Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte),
      // segment length lies past the end of the buffer
      Array(0xFF, 0xD8, 0xFF, 0xE0, 0x7F, 0xFF, 0x00).map(_.toByte),
      // declared length < 2 (would walk backwards)
      Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x01, 0xFF, 0xC0).map(_.toByte),
      // DHT (C4) must NOT be taken for a frame header
      Array(0xFF, 0xD8, 0xFF, 0xC4, 0x00, 0x04, 0x00, 0x00, 0xFF, 0xD9)
        .map(_.toByte),
      // desync: non-FF where a marker must start
      Array(0xFF, 0xD8, 0x00, 0xC0, 0x00, 0x11).map(_.toByte),
      // PNG signature but first chunk is not IHDR
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13)
        .map(_.toByte) ++ "IDAT".getBytes ++ new Array[Byte](12))
    cases.zipWithIndex.foreach { case (bytes, i) =>
      assert(ImageHeader.parse(bytes) == ImageHeader.FmtUnknown, s"case $i")
    }
    // a JPEG truncated at every prefix must never throw
    val full = jpeg(800, 600, Seq((0xFE, Array[Byte](1, 2, 3))), 1,
      rstAfterFirst = false, sofMarker = 0xC0)
    (0 until full.length).foreach { n =>
      val r = ImageHeader.parse(full.take(n)) // must not throw
      assert(r == ImageHeader.FmtUnknown || n >= full.indexOfSlice(
        Seq(0xFF.toByte, 0xC0.toByte)))
    }
  }

  test("codegen path equals interpreted parse on mixed containers") {
    val imgs: Seq[Array[Byte]] = Seq(
      png(1920L, 1080L, Array[Byte](1, 2, 3)),
      jpeg(640, 480, Seq((0xE1, new Array[Byte](10))), 0,
        rstAfterFirst = false, sofMarker = 0xC2),
      "not an image".getBytes)
    // through a real scan: a local relation would constant-fold the
    // projection at plan time and bypass the generated code entirely
    val dir = java.nio.file.Files.createTempDirectory("imghdr")
    imgs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("i", "img")
      .write.mode("overwrite").parquet(dir.toString)
    val df = spark.read.parquet(dir.toString).orderBy("i")
      .select(graft.functions.GraftFunctions.imageHeader(col("img")).as("p"))
    assert(df.collect().map(_.getLong(0)).toSeq == imgs.map(ImageHeader.parse))
    // and the projection stays inside whole-stage codegen (the collect
    // above finalized THIS df's AQE plan, so the executed plan shows the
    // codegen spans — an `as[Long]` view would have its own, unexecuted
    // QueryExecution)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n) Project [static_invoke(...ImageHeader.parse(...)" — the
    // starred prefix is the WholeStageCodegen marker in simpleString form
    assert("""\*\(\d+\) Project \[static_invoke\(graft\.functions\.ImageHeader\.parse""".r
      .findFirstIn(plan).isDefined,
      plan)
  }
}
