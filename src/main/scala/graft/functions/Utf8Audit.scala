package graft.functions

/** UTF-8 validity / mojibake audit over a raw `binary` column — the text
  * family's ingest kernel, completing the story the container probes
  * (q226/q229/q230) told for media: before any tokenizer touches a
  * crawled byte stream, a planning pass must know whether the bytes ARE
  * text, and which corruption class they carry (transcoding damage,
  * CESU-8/WTF-8 surrogate leakage, truncated multibyte tails, binary
  * contamination).
  *
  * One pass over the bytes classifies every position per RFC 3629:
  *  - **valid**: a well-formed 1-4 byte sequence (count == codepoints);
  *  - **overlong**: a non-shortest encoding — C0/C1 lead, or E0 with
  *    second byte 80-9F, or F0 with second byte 80-8F (the classic
  *    smuggling vector; always invalid per RFC 3629 §3);
  *  - **surrogate**: ED with second byte A0-BF — an encoded UTF-16
  *    surrogate (CESU-8/WTF-8 leakage, invalid in UTF-8);
  *  - **truncated**: a plausible lead whose continuation run ends early
  *    (EOF or a non-continuation byte where a continuation is required);
  *  - **bad**: a lone continuation byte (80-BF as lead), an invalid lead
  *    (F5-FF), or F4 with second byte 90-BF (above U+10FFFF).
  *
  * Error resync: when the SECOND byte of a multi-byte sequence decides
  * the category (overlong/surrogate/out-of-range), the walk consumes the
  * lead plus every immediately following continuation byte up to the
  * sequence's declared length — one malformed sequence counts ONCE, and
  * the walk always advances at least one byte (no crafted-input stalls:
  * advances are index increments, never attacker-controlled size
  * fields). The property spec pins these semantics.
  */
object Utf8Audit {

  /** valid(31 bits) << 32 | overlong << 24 | surrogate << 16 |
    * truncated << 8 | bad. Error counts saturate at 255 each (a stream
    * with hundreds of distinct corruption events is "binary, not text"
    * long before the exact count matters); valid saturates at 2^31-1. */
  def pack(valid: Long, overlong: Long, surrogate: Long,
      truncated: Long, bad: Long): Long = {
    @inline def c8(v: Long) = math.min(v, 255L)
    math.min(valid, (1L << 31) - 1) << 32 | c8(overlong) << 24 |
      c8(surrogate) << 16 | c8(truncated) << 8 | c8(bad)
  }

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def isCont(x: Int): Boolean = (x & 0xC0) == 0x80

  /** One definition of truth for interpreted eval AND codegen. */
  def parse(b: Array[Byte]): Long = {
    val n = b.length
    var valid = 0L; var overlong = 0L; var surrogate = 0L
    var truncated = 0L; var bad = 0L
    var i = 0
    // consume up to k continuation bytes following position `from`
    @inline def skipConts(from: Int, k: Int): Int = {
      var j = from; var left = k
      while (left > 0 && j < n && isCont(u8(b, j))) { j += 1; left -= 1 }
      j
    }
    while (i < n) {
      val x = u8(b, i)
      if (x < 0x80) { valid += 1; i += 1 }
      else if (x < 0xC0) { bad += 1; i += 1 } // lone continuation
      else if (x < 0xC2) { // C0/C1: always-overlong 2-byte lead
        overlong += 1; i = skipConts(i + 1, 1)
      } else if (x < 0xE0) { // C2-DF: 2-byte
        if (i + 1 < n && isCont(u8(b, i + 1))) { valid += 1; i += 2 }
        else { truncated += 1; i += 1 }
      } else if (x < 0xF0) { // E0-EF: 3-byte; second byte decides class
        if (i + 1 >= n || !isCont(u8(b, i + 1))) { truncated += 1; i += 1 }
        else {
          val s = u8(b, i + 1)
          if (x == 0xE0 && s < 0xA0) { overlong += 1; i = skipConts(i + 1, 2) }
          else if (x == 0xED && s >= 0xA0) {
            surrogate += 1; i = skipConts(i + 1, 2)
          } else if (i + 2 < n && isCont(u8(b, i + 2))) { valid += 1; i += 3 }
          else { truncated += 1; i = skipConts(i + 1, 2) }
        }
      } else if (x < 0xF5) { // F0-F4: 4-byte; second byte decides class
        if (i + 1 >= n || !isCont(u8(b, i + 1))) { truncated += 1; i += 1 }
        else {
          val s = u8(b, i + 1)
          if (x == 0xF0 && s < 0x90) { overlong += 1; i = skipConts(i + 1, 3) }
          else if (x == 0xF4 && s >= 0x90) { bad += 1; i = skipConts(i + 1, 3) }
          else if (i + 3 < n && isCont(u8(b, i + 2)) && isCont(u8(b, i + 3))) {
            valid += 1; i += 4
          } else { truncated += 1; i = skipConts(i + 1, 3) }
        }
      } else { // F5-FF: invalid lead
        bad += 1; i = skipConts(i + 1, 3)
      }
    }
    pack(valid, overlong, surrogate, truncated, bad)
  }
}
