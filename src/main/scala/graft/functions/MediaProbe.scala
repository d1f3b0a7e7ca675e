package graft.functions

/** Audio/video container probes over raw `binary` columns — the
  * companions to [[ImageHeader]] that complete the multimodal family's
  * REAL byte kernels across all three modalities (q226 image, q229
  * audio, q230 video). Both are chunk/box walks over public container
  * specs: the probe reads the first kilobyte of metadata a planning pass
  * needs (sample rate, channel layout, duration) and never touches the
  * payload — at 100 TB the codec only ever sees media the plan admitted.
  *
  * WAV (RIFF, little-endian): "RIFF" <size:LE32> "WAVE", then chunks of
  * [id:4][size:LE32][data (word-aligned: odd sizes pad one byte)]. The
  * "fmt " chunk carries format(2) channels(2) sampleRate(4) byteRate(4)
  * blockAlign(2) bitsPerSample(2); the "data" chunk's SIZE is the
  * payload byte count. Note LITTLE-endian throughout — the opposite of
  * PNG/JPEG/MP4, a classic parser trap pinned by the property spec.
  *
  * MP4 (ISO BMFF, big-endian): a sequence of boxes [size:BE32][type:4];
  * size includes the 8-byte header; size==1 switches to a 64-bit
  * largesize, size==0 means to-end-of-file. Movie metadata lives in
  * `moov`, whose CHILD boxes are walked to `mvhd`: version(1) flags(3),
  * then v0: ctime(4) mtime(4) timescale(4) duration(4) — v1 widens the
  * times and duration to 8 bytes but NOT timescale.
  */
object WavHeader {
  /** Unparseable sentinel (a real probe never packs all-zero fields:
    * sample_rate >= 1 is enforced below). */
  final val Unknown = 0L

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def le16(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  @inline private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    u8(b, i) == s.charAt(0) && u8(b, i + 1) == s.charAt(1) &&
      u8(b, i + 2) == s.charAt(2) && u8(b, i + 3) == s.charAt(3)

  /** rate(20 bits) | channels(4) | bitsPerSample(6) | dataBytes(32) —
    * 62 bits; dataBytes' 32-bit width matches RIFF's own size field. */
  def pack(rate: Long, ch: Long, bits: Long, dataBytes: Long): Long =
    (rate << 42) | (ch << 38) | (bits << 32) | dataBytes

  /** One definition of truth for interpreted eval AND codegen. */
  def parse(b: Array[Byte]): Long = {
    if (b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE"))
      return Unknown
    var rate = -1L; var ch = -1L; var bits = -1L; var data = -1L
    var i = 12
    while (i + 8 <= b.length && (rate < 0 || data < 0)) {
      val size = le32(b, i + 4)
      if (tag(b, i, "fmt ")) {
        if (size < 16 || i + 8 + 16 > b.length) return Unknown
        ch = le16(b, i + 10).toLong
        rate = le32(b, i + 12)
        bits = le16(b, i + 22).toLong
      } else if (tag(b, i, "data")) {
        data = size
      }
      // chunks are WORD-aligned: an odd size pads one byte. Advance in
      // Long space: `size` is an unsigned 32-bit value, and a .toInt
      // truncation (e.g. size 0xFFFFFFF8 => step 0) would stall the walk
      // forever on crafted input. Clamping the overshoot to b.length
      // keeps strict forward progress AND ends the loop.
      val next = i.toLong + 8L + size + (size & 1L)
      i = if (next >= b.length.toLong) b.length else next.toInt
    }
    if (rate < 1 || rate >= (1L << 20) || ch < 1 || ch > 15 ||
        bits < 1 || bits > 63 || data < 0) Unknown
    else pack(rate, ch, bits, data)
  }
}

object Mp4Mvhd {
  final val Unknown = 0L

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  @inline private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    u8(b, i) == s.charAt(0) && u8(b, i + 1) == s.charAt(1) &&
      u8(b, i + 2) == s.charAt(2) && u8(b, i + 3) == s.charAt(3)

  /** timescale(32 bits) | duration(31 bits). A v0 mvhd duration is
    * 32-bit unsigned; values >= 2^31 (and v1 64-bit durations past it)
    * return Unknown rather than silently truncating. */
  def pack(timescale: Long, duration: Long): Long =
    (timescale << 31) | duration

  /** One definition of truth for interpreted eval AND codegen. */
  def parse(b: Array[Byte]): Long = {
    // top-level box walk to moov
    var i = 0
    while (i + 8 <= b.length) {
      val size = be32(b, i)
      if (size == 1 || size == 0)
        return Unknown // largesize / to-EOF: valid MP4, out of probe scope
      if (size < 8) return Unknown
      if (tag(b, i + 4, "moov")) {
        // child box walk to mvhd, bounded by moov's own extent
        val end = math.min(i + size, b.length.toLong).toInt
        var j = i + 8
        while (j + 8 <= end) {
          val csize = be32(b, j)
          if (csize < 8) return Unknown
          if (tag(b, j + 4, "mvhd")) {
            val v = if (j + 8 < end) u8(b, j + 8) else return Unknown
            if (v == 0) {
              // version(1) flags(3) ctime(4) mtime(4) timescale(4) dur(4)
              if (j + 8 + 20 > end) return Unknown
              val ts = be32(b, j + 20)
              val dur = be32(b, j + 24)
              if (ts < 1 || dur >= (1L << 31)) return Unknown
              return pack(ts, dur)
            } else if (v == 1) {
              // v1: ctime(8) mtime(8) timescale(4) duration(8)
              if (j + 8 + 32 > end) return Unknown
              val ts = be32(b, j + 28)
              val durHi = be32(b, j + 32)
              val durLo = be32(b, j + 36)
              if (ts < 1 || durHi != 0 || durLo >= (1L << 31)) return Unknown
              return pack(ts, durLo)
            } else return Unknown
          }
          // Long-space advance: csize is unsigned 32-bit; a .toInt
          // truncation of csize >= 2^31 steps BACKWARD and two crafted
          // boxes can cycle between offsets forever. A child that
          // overruns its parent's extent is malformed => Unknown.
          val nextJ = j.toLong + csize
          if (nextJ > end.toLong) return Unknown
          j = nextJ.toInt
        }
        return Unknown // moov without mvhd
      }
      // Long-space advance (same crafted-input trap as the child walk):
      // a top-level box that overruns the buffer means no moov follows.
      val next = i.toLong + size
      if (next > b.length.toLong) return Unknown
      i = next.toInt
    }
    Unknown
  }
}

/** EBML header probe (RFC 8794 / Matroska, the fourth container family
  * after PNG/JPEG, RIFF and ISO-BMFF — and the one with a genuinely
  * different length discipline: VARIABLE-length integers, where the
  * leading-zero count of the FIRST byte declares the width, 1..8 bytes).
  *
  * Layout: magic 1A 45 DF A3, root size as a VINT, then child elements
  * [id-vint][size-vint][payload]. IDs keep their marker bit (DocType is
  * the raw 2-byte value 0x4282); SIZES strip it, and an all-ones size
  * value means "unknown size" — valid EBML, refused by the probe (the
  * same out-of-scope discipline as MP4 largesize). Extracted: EBMLVersion
  * (0x4286), DocType (0x4282 — 'matroska' / 'webm' classified, anything
  * else = other), DocTypeVersion (0x4287).
  */
object EbmlHeader {
  final val Unknown = 0L

  final val DocMatroska = 1L
  final val DocWebm     = 2L
  final val DocOther    = 3L

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  /** doctype class(8 bits) | ebml_version(8) | doctype_version(8) |
    * header byte length(16) — 40 bits. */
  def pack(dclass: Long, ebmlv: Long, dtv: Long, hdrLen: Long): Long =
    (dclass << 32) | (ebmlv << 24) | (dtv << 16) | hdrLen

  /** VINT width from the first byte's leading-zero count: 0x80.. = 1,
    * 0x40.. = 2, ... 0x01 = 8; a zero first byte (width > 8) is invalid
    * (-1). */
  @inline private def vintWidth(first: Int): Int = {
    var w = 1
    var mask = 0x80
    while (mask != 0 && (first & mask) == 0) { w += 1; mask >>= 1 }
    if (mask == 0) -1 else w
  }

  /** Parse a SIZE vint at `i` (marker stripped). Returns
    * (value, width); (-1, _) = invalid/truncated, (-2, _) = the all-ones
    * "unknown size" sentinel (valid EBML, out of probe scope). */
  private def sizeVint(b: Array[Byte], i: Int): (Long, Int) = {
    if (i >= b.length) return (-1L, 0)
    val w = vintWidth(u8(b, i))
    if (w < 0 || i + w > b.length) return (-1L, 0)
    var v = (u8(b, i) & (0xFF >>> w)).toLong
    var k = 1
    while (k < w) { v = (v << 8) | u8(b, i + k); k += 1 }
    // all value bits set = unknown size (2^(7w) - 1)
    if (v == (1L << (7 * w)) - 1) (-2L, w) else (v, w)
  }

  /** One definition of truth for interpreted eval AND codegen. */
  def parse(b: Array[Byte]): Long = {
    if (b.length < 6 || u8(b, 0) != 0x1A || u8(b, 1) != 0x45 ||
        u8(b, 2) != 0xDF || u8(b, 3) != 0xA3) return Unknown
    val (sz, w) = sizeVint(b, 4)
    if (sz < 0) return Unknown // truncated, invalid, or unknown-size root
    val end = 4L + w + sz
    if (end > b.length) return Unknown
    val hdrLen = end // total header bytes, bounded by b.length (an Int)
    if (hdrLen > 0xFFFF) return Unknown // packed-field width
    var j = 4 + w
    var ebmlv = -1L; var dclass = -1L; var dtv = -1L
    while (j < end) {
      // element ID: raw vint INCLUDING the marker bit (EBML stores IDs
      // verbatim — 0x4282 is the two bytes 42 82)
      val idw = vintWidth(u8(b, j))
      if (idw < 0 || idw > 4 || j + idw > end) return Unknown
      var id = 0L
      var k = 0
      while (k < idw) { id = (id << 8) | u8(b, j + k); k += 1 }
      val (csz, cw) = sizeVint(b, j + idw)
      if (csz < 0) return Unknown // child with unknown size: out of scope
      val payload = j + idw + cw
      // Long-space bound check (the WavHeader/Mp4Mvhd crafted-size
      // lesson, designed in from the start): an overrunning child ends
      // the walk as Unknown rather than truncating into a cycle. The
      // advance is then payload + csz with idw + cw >= 2 — strict
      // forward progress on every iteration by construction.
      if (payload.toLong + csz > end) return Unknown
      id match {
        case 0x4286L => // EBMLVersion, unsigned BE, 1..8 bytes
          if (csz < 1 || csz > 8) return Unknown
          var v = 0L; var t = 0
          while (t < csz.toInt) { v = (v << 8) | u8(b, payload + t); t += 1 }
          ebmlv = v
        case 0x4287L => // DocTypeVersion
          if (csz < 1 || csz > 8) return Unknown
          var v = 0L; var t = 0
          while (t < csz.toInt) { v = (v << 8) | u8(b, payload + t); t += 1 }
          dtv = v
        case 0x4282L => // DocType (ASCII)
          dclass = classify(b, payload, csz.toInt)
        case _ => // Void / CRC-32 / unmodeled children: skipped
      }
      j = payload + csz.toInt
    }
    if (ebmlv < 1 || ebmlv > 255 || dtv < 0 || dtv > 255 || dclass < 0)
      Unknown
    else pack(dclass, ebmlv, dtv, hdrLen)
  }

  private def classify(b: Array[Byte], off: Int, len: Int): Long = {
    def is(s: String): Boolean =
      len == s.length && (0 until len).forall(i => u8(b, off + i) == s.charAt(i))
    if (is("matroska")) DocMatroska
    else if (is("webm")) DocWebm
    else DocOther
  }
}

/** FLAC STREAMINFO probe (the public FLAC format spec / RFC 9639): the
  * fifth container family, and the third LENGTH DISCIPLINE — after the
  * byte-aligned chunk/box walks (RIFF/BMFF) and EBML's variable-width
  * vints, FLAC packs its stream parameters into SUB-BYTE bit fields:
  * sample rate is 20 bits, channels−1 is 3, bits-per-sample−1 is 5, and
  * the 36-bit total-sample count starts mid-byte — the fields cross
  * byte boundaries and only a genuine big-endian bit extraction reads
  * them (the property spec pins the boundary arithmetic).
  *
  * Layout: "fLaC" magic; metadata blocks of [last(1 bit)|type(7)]
  * [length:BE24][payload] — STREAMINFO (type 0, length 34) is REQUIRED
  * to be the first block (the spec's rule; a file violating it is
  * refused, not searched). Inside STREAMINFO: min/max block size (16+16
  * bits), min/max frame size (24+24), then the bit-packed parameter
  * word, then the 16-byte payload MD5.
  */
object FlacStreaminfo {
  final val Unknown = 0L

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  /** rate(20 bits) | channels(4) | bps(6) | total_samples(33) — 63 bits.
    * A 36-bit sample count past 2^33 (a >4-day stream at 192 kHz)
    * returns Unknown rather than truncating into the packed field. */
  def pack(rate: Long, ch: Long, bps: Long, samples: Long): Long =
    (rate << 43) | (ch << 39) | (bps << 33) | samples

  /** One definition of truth for interpreted eval AND codegen. */
  def parse(b: Array[Byte]): Long = {
    // "fLaC" + first block header (4) + STREAMINFO (34)
    if (b.length < 42 || u8(b, 0) != 'f' || u8(b, 1) != 'L' ||
        u8(b, 2) != 'a' || u8(b, 3) != 'C') return Unknown
    // first metadata block MUST be STREAMINFO (spec rule): type bits 0,
    // last-flag free; declared length exactly 34
    if ((u8(b, 4) & 0x7F) != 0) return Unknown
    val len = (u8(b, 5) << 16) | (u8(b, 6) << 8) | u8(b, 7)
    if (len != 34) return Unknown
    val s = 8 // STREAMINFO payload offset
    // bit-packed parameter word at payload bytes 10..17:
    //   rate[20] = b10[8] b11[8] b12[hi 4]
    //   ch-1[3]  = b12 bits 3..1
    //   bps-1[5] = b12 bit 0 ++ b13 hi 4
    //   total[36]= b13 lo 4 ++ b14..b17
    val rate = (u8(b, s + 10).toLong << 12) | (u8(b, s + 11).toLong << 4) |
      (u8(b, s + 12) >>> 4)
    val ch = ((u8(b, s + 12) >>> 1) & 0x7) + 1L
    val bps = (((u8(b, s + 12) & 0x1) << 4) | (u8(b, s + 13) >>> 4)) + 1L
    val samples = ((u8(b, s + 13) & 0xF).toLong << 32) |
      (u8(b, s + 14).toLong << 24) | (u8(b, s + 15).toLong << 16) |
      (u8(b, s + 16).toLong << 8) | u8(b, s + 17).toLong
    if (rate < 1 || rate >= (1L << 20)) return Unknown // 0 = invalid per spec
    if (samples >= (1L << 33)) return Unknown // packed-field width
    // remaining metadata blocks must stay inside the buffer (a probe
    // reads headers only — payload bytes after the walk are the frames)
    var i = s + 34
    var last = (u8(b, 4) & 0x80) != 0
    while (!last && i + 4 <= b.length) {
      last = (u8(b, i) & 0x80) != 0
      val blen = (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
      val next = i.toLong + 4L + blen // BE24: at most 2^24, no overflow
      if (next > b.length) return Unknown
      i = next.toInt
    }
    if (!last) return Unknown // ran out of bytes before the last block
    pack(rate, ch, bps, samples)
  }
}
