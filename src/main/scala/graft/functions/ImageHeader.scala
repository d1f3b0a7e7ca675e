package graft.functions

/** Image container-header parse over a raw `binary` column: PNG IHDR and
  * JPEG SOF0/SOFn width x height extraction, fused into whole-stage
  * codegen. This is the first REAL byte-level kernel of the multimodal
  * family (q24/q39/q59 plan over stub decoders): the header walk is the
  * part of an image-ingest pipeline that needs no codec library, and at
  * 100 TB it is exactly what runs in the PLANNING pass — dimensions,
  * format, and resize decisions come from the first kilobyte of each
  * blob, so the full-payload decode (the expensive stage) only ever sees
  * images the plan admitted.
  *
  * Result is one packed long — `fmt << 48 | width << 24 | height`
  * (fmt 1 = PNG, 2 = JPEG; 0 = unrecognized, widths/heights < 2^24) —
  * so one header walk serves all downstream columns; unpacking is exact
  * integer arithmetic identical in Spark and DuckDB.
  *
  * Byte-layout facts encoded here (public container specs):
  *  - PNG: 8-byte signature 89 50 4E 47 0D 0A 1A 0A; first chunk must be
  *    IHDR (type at offset 12); width/height are BIG-ENDIAN 32-bit at
  *    offsets 16/20 — width first.
  *  - JPEG: starts FF D8 (SOI); then a marker-segment walk — each segment
  *    is FF <marker> <len:BE16 including the 2 length bytes>, with
  *    optional FF fill bytes before a marker and standalone markers
  *    (RSTn, SOI/EOI/TEM) carrying NO length. The frame header is any
  *    SOFn (C0-CF except C4 DHT / C8 JPG / CC DAC): precision(1) then
  *    HEIGHT BE16 then WIDTH BE16 — height first, the classic
  *    transposed-dimensions bug this kernel's property spec pins.
  */
object ImageHeader {
  final val FmtUnknown = 0L
  final val FmtPng     = 1L
  final val FmtJpeg    = 2L

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def be16(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 8) | u8(b, i + 1)
  @inline private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong

  private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  def pack(fmt: Long, w: Long, h: Long): Long = (fmt << 48) | (w << 24) | h

  /** One definition of truth for interpreted eval AND codegen. */
  def parse(b: Array[Byte]): Long = {
    if (b.length >= 24 && PngSig.indices.forall(i => u8(b, i) == PngSig(i)) &&
        u8(b, 12) == 'I' && u8(b, 13) == 'H' && u8(b, 14) == 'D' &&
        u8(b, 15) == 'R') {
      // spec requires IHDR first; its data starts at offset 16
      val w = be32(b, 16)
      val h = be32(b, 20)
      if (w >= (1L << 24) || h >= (1L << 24)) return FmtUnknown
      return pack(FmtPng, w, h)
    }
    if (b.length >= 4 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8) {
      var i = 2
      while (i + 1 < b.length) {
        // optional fill bytes: any number of FFs may pad before a marker
        if (u8(b, i) != 0xFF) return FmtUnknown // desynced — not a JPEG stream
        var j = i
        while (j + 1 < b.length && u8(b, j + 1) == 0xFF) j += 1
        if (j + 1 >= b.length) return FmtUnknown
        val marker = u8(b, j + 1)
        val seg = j + 2 // first byte after the marker
        marker match {
          case 0xD8 | 0x01 => i = seg // SOI / TEM: standalone, no length
          case m if m >= 0xD0 && m <= 0xD7 => i = seg // RSTn: standalone
          case 0xD9 => return FmtUnknown // EOI before any frame header
          case m if m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 &&
              m != 0xCC =>
            // SOFn: len(2) precision(1) HEIGHT(2) WIDTH(2) ...
            if (seg + 7 > b.length) return FmtUnknown
            val h = be16(b, seg + 3).toLong
            val w = be16(b, seg + 5).toLong
            return pack(FmtJpeg, w, h)
          case 0xDA => return FmtUnknown // SOS before SOF — no frame header
          case _ =>
            if (seg + 2 > b.length) return FmtUnknown
            val len = be16(b, seg)
            if (len < 2) return FmtUnknown
            i = seg + len
        }
      }
      FmtUnknown
    } else FmtUnknown
  }
}
