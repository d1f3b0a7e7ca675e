package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity (Jaro 1989; Winkler 1990) kernel — the
  * record-linkage string comparator (alias/typo detection over names
  * and vocabulary) that complements the repo's
  * edit-distance join (q97 FastSS + capped levenshtein): JW is
  * length-normalized, transposition-aware, and prefix-boosted, the
  * standard choice where a THRESHOLD must mean the same thing for short
  * and long strings.
  *
  * Semantics pinned to the textbook form DuckDB also implements (probed
  * case by case — the oracle compares against `jaro_winkler_similarity`
  * directly, so every rule here is cross-engine load-bearing):
  *  - either side empty → 0.0 (including BOTH empty);
  *  - match window = max(⌊max(|a|,|b|)/2⌋ − 1, 0) — window 0 means
  *    same-index matches only ("ab"/"ba" → 0.0);
  *  - transpositions t = ⌊mismatched-matched-pairs / 2⌋, an INTEGER
  *    (probed: "abcdef"/"bcadef" → 0.9444, i.e. t = 1 from 3 mismatches);
  *  - jaro = (m/|a| + m/|b| + (m−t)/m) / 3, evaluated in this op order;
  *  - Winkler boost only when jaro > 0.7: jw = j + 0.1·ℓ·(1−j) with ℓ
  *    the common prefix capped at 4.
  *
  * Comparison is by Java char (UTF-16 code unit) — identical to
  * byte-wise for the ASCII vocabulary the queries feed it; supplementary
  * planes would need codepoint stepping in BOTH engines before relying
  * on oracle parity there.
  *
  * COST CONTRACT: the matching loop is O(|a|·window) ≈ quadratic in
  * string length — this is a comparator for NAME-length strings, not
  * documents. Callers must block and bound inputs upstream (q248 feeds
  * it first-char-blocked part names); handing it two multi-megabyte
  * texts is a multi-second expression call by construction, the same
  * contract every JW implementation (DuckDB's included) carries.
  */
object JaroWinkler {

  /** The SQL-string entry point, for `StaticInvoke`. */
  def jw(a: UTF8String, b: UTF8String): Double = jw(a.toString, b.toString)

  /** One definition of truth for interpreted eval AND codegen. */
  def jw(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatched = new Array[Boolean](la)
    val bMatched = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a.charAt(i) == b.charAt(j)) {
          aMatched(i) = true; bMatched(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // walk both matched subsequences in order; count positional mismatches
    var mismatches = 0
    var bi = 0
    i = 0
    while (i < la) {
      if (aMatched(i)) {
        while (!bMatched(bi)) bi += 1
        if (a.charAt(i) != b.charAt(bi)) mismatches += 1
        bi += 1
      }
      i += 1
    }
    val t = mismatches / 2 // INTEGER halving (probed DuckDB semantics)
    val md = m.toDouble
    val j = (md / la + md / lb + (md - t) / md) / 3.0
    if (j <= 0.7) return j
    var l = 0
    val cap = math.min(4, math.min(la, lb))
    while (l < cap && a.charAt(l) == b.charAt(l)) l += 1
    j + 0.1 * l * (1.0 - j)
  }
}
