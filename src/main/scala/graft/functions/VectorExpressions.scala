package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Random-hyperplane LSH buckets with query-directed multiprobe (Qin
  * et al., VLDB 2007, the standard trick for raising hyperplane-LSH
  * recall without adding tables). Bit p of table t's base bucket is
  * `dot(v, plane[t*bits+p]) > 0`; each table emits its base bucket PLUS
  * `numProbes - 1` perturbed buckets, flipping the sign bits whose
  * hyperplane dot products have the smallest |dot| — precisely the bits
  * most likely to disagree with a true neighbor's signature.
  * Perturbation sets are all single bits and bit pairs, ranked ascending
  * by |dot| (resp. |dot_i| + |dot_j|); ties break on generation order, so
  * the probe sequence is a pure deterministic function of the vector.
  *
  * Output is a flat array<int> of numTables * numProbes bucket ids —
  * entry t*numProbes + j is probe j of table t; consumers posexplode and
  * recover the table as pos / numProbes. With `numProbes = 1` it is the
  * index side (`GraftFunctions.hyperplaneBuckets`: one base bucket per
  * table); larger values serve the QUERY side only, so index size is
  * unchanged and the candidate join stays a (tbl, bucket) equi-join —
  * probing multiplies only the tiny query side, never the corpus.
  *
  * Why one kernel over a constant plane matrix, not one [[DotProduct]]
  * per plane: 18x12 planes as separate column expressions embed 216
  * 64-element array literals into every stage that references the
  * projection — the generated Java source balloons past 200 KB and
  * Janino compilation (per stage, per cold run) costs seconds of driver
  * time. Here the matrix is one referenced constant and the generated
  * code is a single static call, sign-exact with the per-plane
  * `when(dot > 0, 1 << p)` formulation.
  *
  * Null/shape semantics: a null or length-mismatched vector (or a null
  * element) yields NULL — the row drops out of candidate generation,
  * exactly like the dot-based formulation dropped it from every bucket.
  */
object HyperplaneBucketProbes {

  /** One definition of truth for interpreted eval AND codegen (called as
    * a static forwarder from generated Java). Returns null on any
    * shape/null violation. */
  def compute(v: ArrayData, planes: Array[Array[Double]], bits: Int,
      probes: Int, isFloat: Boolean): ArrayData = {
    val dim = planes(0).length
    if (v.numElements() != dim) return null
    val numTables = planes.length / bits
    val out = new Array[Int](numTables * probes)
    val dots = new Array[Double](bits)
    val nCand = bits + bits * (bits - 1) / 2
    // perturbation scratch only for query-side probing; the index side
    // (one probe) allocates nothing per row beyond its output
    val masks  = if (probes > 1) new Array[Int](nCand) else null
    val scores = if (probes > 1) new Array[Double](nCand) else null
    var t = 0
    while (t < numTables) {
      var base = 0
      var p = 0
      while (p < bits) {
        val plane = planes(t * bits + p)
        var acc = 0.0
        var i = 0
        while (i < dim) {
          if (v.isNullAt(i)) return null
          acc += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * plane(i)
          i += 1
        }
        dots(p) = acc
        if (acc > 0.0) base |= (1 << p)
        p += 1
      }
      out(t * probes) = base
      if (probes > 1) {
        // Perturbation candidates: singles {a} scored |dot_a|, pairs
        // {a,b} scored |dot_a| + |dot_b|.
        var k = 0
        var a = 0
        while (a < bits) {
          masks(k) = 1 << a; scores(k) = math.abs(dots(a)); k += 1
          var b = a + 1
          while (b < bits) {
            masks(k) = (1 << a) | (1 << b)
            scores(k) = math.abs(dots(a)) + math.abs(dots(b))
            k += 1
            b += 1
          }
          a += 1
        }
        // Partial selection sort: only the probes-1 smallest are needed.
        var j = 0
        while (j < probes - 1) {
          var m = j
          var c = j + 1
          while (c < nCand) { if (scores(c) < scores(m)) m = c; c += 1 }
          val s = scores(j); scores(j) = scores(m); scores(m) = s
          val w = masks(j);  masks(j)  = masks(m);  masks(m)  = w
          out(t * probes + 1 + j) = base ^ masks(j)
          j += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** A constant operand of a kernel call (plane matrices, stopword lists,
  * centroid matrices, PQ codebooks): rides into a `StaticInvoke` as one
  * `ObjectType` literal, unwrapped by a `value` call.
  *
  * Why not a plain Seq literal: a constant PRINTS into every plan string
  * — q53's explain was 825 KB of codebook doubles when the tensors were
  * case-class fields — so a carrier renders as `kind[shape]#digest`
  * instead. Equality is BY CONTENT DIGEST, so canonicalization and
  * semanticEquals still dedup two builds from equal constants. */
sealed abstract class KernelConst[T](val shape: String, val digest: String)
    extends Serializable {
  def value: T
  protected def kind: String
  override def toString: String = s"$kind[$shape]#$digest"
  override def equals(o: Any): Boolean = o match {
    case k: KernelConst[_] => k.getClass == getClass && k.shape == shape &&
      k.digest == digest
    case _ => false
  }
  override def hashCode: Int = digest.hashCode
}

object KernelConst {
  /** First 8 bytes of the MD5 of the value's Java serialization. */
  private[functions] def digestOf(v: AnyRef): String = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(v); out.close()
    java.security.MessageDigest.getInstance("MD5").digest(bytes.toByteArray)
      .take(8).map("%02x".format(_)).mkString
  }
  private[functions] def shapeOf(v: Any): String = v match {
    case a: Array[_] if a.nonEmpty && a(0).isInstanceOf[Array[_]] =>
      s"${a.length}x${shapeOf(a(0))}"
    case a: Array[_] => a.length.toString
  }
}

/** A small constant that ships inside the task closure. */
final class Const[T <: AnyRef](val value: T)
    extends KernelConst[T](KernelConst.shapeOf(value), KernelConst.digestOf(value)) {
  protected def kind: String = "const"
}

/** A trained tensor (centroid matrix, PQ codebook) that ships as a Spark
  * broadcast, so task closures carry the handle rather than the doubles.
  * Each deserialized copy reads the broadcast once. The broadcast lives
  * until [[destroy]] or until the ContextCleaner collects it. */
final class BcTensor[T <: AnyRef] private (
    bc: org.apache.spark.broadcast.Broadcast[T], shape: String, digest: String)
    extends KernelConst[T](shape, digest) {
  @transient private lazy val local: T = bc.value
  def value: T = local
  protected def kind: String = "tensor"
  /** Remove the broadcast's blocks now; the tensor is unusable after. */
  def destroy(): Unit = org.apache.spark.sql.graftbridge.ColumnBridge.destroy(bc)
}

object BcTensor {
  /** Broadcast `data` on the active (else default) session; `builder`
    * names the column builder that asked, for the error raised when
    * there is no session. */
  def apply[T <: AnyRef: scala.reflect.ClassTag](data: T, builder: String): BcTensor[T] = {
    import org.apache.spark.sql.SparkSession
    val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(s"$builder broadcasts its " +
        "tensor when the column is built, and no Spark session is active or " +
        "default: build the column inside a session"))
    new BcTensor(spark.sparkContext.broadcast(data),
      KernelConst.shapeOf(data), KernelConst.digestOf(data))
  }
}

/** Cosine of a vector against every centroid of a coarse quantizer, in
  * ONE fused codegen loop: output[c] = struct(dot(v, cent[c]) / norm, c).
  *
  * The IVF operator (Similarity.q30) scores each vector against all K
  * centroids to pick its cell(s). Composed per-centroid — K `struct(
  * dot(emb, typedlit(cent)) / norm, i)` columns — each 64-double centroid
  * becomes an array literal in the generated source, and K now scales
  * with the corpus (K ≈ √n), so at any real scale the stage hits the
  * same Janino blowup [[HyperplaneBucketProbes]] documents. Here the
  * centroid matrix rides along as one [[BcTensor]] and the generated
  * code is a static call.
  *
  * Bit-parity contract with the formulation it replaces: per centroid, a
  * sequential left-to-right double fold (exactly [[DotProduct]]'s order)
  * divided by the supplied norm column; output structs are in centroid
  * order, so `array_max` / `array_sort` (which compare field-by-field,
  * score first) see identical values.
  *
  * Null/shape semantics: null or length-mismatched vectors (or a null
  * element, or a null norm) yield NULL — the row drops out of the index
  * and of probing, as it did under the composed formulation.
  */
object CentroidScores {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(v: ArrayData, norm: Double, cents: Array[Array[Double]],
      isFloat: Boolean): ArrayData = {
    val dim = cents(0).length
    if (v.numElements() != dim) return null
    val out = new Array[Any](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return null
        acc += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * cent(i)
        i += 1
      }
      out(c) = org.apache.spark.sql.catalyst.InternalRow(acc / norm, c)
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Jaccard similarity of two SORTED array<long> hash sets via a single
  * O(n+m) merge — no per-pair hash table, no boxing, no string compares.
  *
  * The exact n-gram similarity join (Dedup.q40) verifies candidate pairs
  * by Jaccard. Doing that with `array_intersect`/`array_union` on the
  * STRING shingle arrays builds a hash set per pair per operator — at
  * 300k candidate pairs x ~50-string arrays that was the dominant query
  * cost (measured 12.6 s of a 24 s query at sf0.1). Shingles are already
  * hashed for the inverted index, so verification can run on the sorted
  * hash arrays first: one fused merge loop counting distinct-value
  * intersection and union together.
  *
  * EXACTNESS-PRESERVING PREFILTER, not a replacement: both inputs are
  * treated as sets of their distinct values, and for any hash function
  * jaccard_hash >= jaccard_string (a collision can only merge elements —
  * each merge raises the ratio: shared-shared −1/−1, cross-side +1/−1,
  * same-side 0/−1, all increasing for j <= 1). Filtering on
  * jaccard_hash >= θ therefore NEVER drops a true pair; the (tiny)
  * surviving set is re-verified exactly on the string shingles.
  *
  * Inputs MUST be sorted ascending (the caller sorts once per document,
  * not per pair); null array or element yields NULL; two empty arrays
  * yield 0.0.
  */
object SortedHashJaccard {

  /** One definition of truth for interpreted eval AND codegen. Merge of
    * two ascending-sorted long arrays with duplicate skipping (set
    * semantics); returns |A∩B| / |A∪B| as double, 0.0 when both empty,
    * null on a null element. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0
    var inter = 0; var union = 0
    while (i < n || j < m) {
      if (i < n && a.isNullAt(i)) return null
      if (j < m && b.isNullAt(j)) return null
      if (i >= n) { // drain b
        val v = b.getLong(j); union += 1
        while (j < m && b.getLong(j) == v) j += 1
      } else if (j >= m) { // drain a
        val v = a.getLong(i); union += 1
        while (i < n && a.getLong(i) == v) i += 1
      } else {
        val av = a.getLong(i); val bv = b.getLong(j)
        if (av == bv) {
          inter += 1; union += 1
          while (i < n && a.getLong(i) == av) i += 1
          while (j < m && b.getLong(j) == bv) j += 1
        } else if (av < bv) {
          union += 1
          while (i < n && a.getLong(i) == av) i += 1
        } else {
          union += 1
          while (j < m && b.getLong(j) == bv) j += 1
        }
      }
    }
    java.lang.Double.valueOf(
      if (union == 0) 0.0 else inter.toDouble / union)
  }
}

/** 64-bit SimHash signature from an array of per-token 64-bit hashes:
  * bit b of the output is 1 iff strictly more tokens have bit b set than
  * clear (Charikar, STOC 2002 — the vote formulation with unit weights;
  * duplicate tokens vote once per occurrence, exactly like the
  * exploded-token aggregation it replaces).
  *
  * Why an expression and not an aggregation: SimHash is a function of ONE
  * document's own tokens, so computing it via explode + 64 vote-sum
  * columns + groupBy(doc_id) (the previous q21 shape) re-shuffles every
  * token in the corpus just to reassemble rows that were never split —
  * at 100 TB that shuffle IS the query cost. As a projection over the
  * in-row token-hash array the signature costs zero shuffles; the first
  * exchange in the dedup plan becomes the banded candidate join itself.
  *
  * Null semantics: a null array or a null element yields NULL (the row
  * drops out of banding, as a null token hash dropped its vote before —
  * but builtin xxhash64 never returns null for non-null input, so this
  * only fires on genuinely null input).
  */
object SimHash64 {

  /** One definition of truth for interpreted eval AND codegen. Returns
    * null iff an element is null. Vote rule: bit set iff vote sum > 0 —
    * identical to the `when(sum > 0, 1 << bit)` aggregation this
    * replaces (ties and empty input give a 0 bit). */
  def compute(hashes: ArrayData): java.lang.Long = {
    val n = hashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (hashes.isNullAt(i)) return null
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

/** Rabin-Karp rolling fingerprint over the CODE POINTS of a string:
  * h = fold(cp => (h * 31 + cp) mod 1e9+7), h0 = 0.
  *
  * Replaces the `aggregate(transform(split(text, ''), ascii), ...)`
  * higher-order formulation: that walks a boxed per-character array
  * through two lambda frames per char (~0.8 s over the sf0.1 corpus),
  * and splits into UTF-16 code units, silently diverging from DuckDB's
  * code-point `ascii` on supplementary-plane characters. This expression
  * iterates real code points in one fused loop — bit-identical to the
  * DuckDB oracle on every input, surrogate pairs included, and an
  * order-of-magnitude faster. Every intermediate fits in a signed 64-bit
  * integer: h < 1e9+7, h*31 + cp < 3.2e10.
  */
object RollingHash {
  final val Mod = 1000000007L

  /** The SQL-string entry point, for `StaticInvoke`. */
  def hash(s: UTF8String): Long = hash(s.toString)

  /** Shared by interpreted eval and codegen — one definition of truth. */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** All token-level metrics of the Gopher rule filter in ONE fused loop
  * over the token array: word count, summed word length (chars), words
  * containing an ASCII letter, DISTINCT stopwords present, and distinct
  * bigram count. The q62 rule bundle previously derived these with
  * eight separate higher-order-function columns — HOFs are
  * CodegenFallback, so every metric re-walked the boxed token array
  * interpreted (1.7 s over the sf0.1 corpus for a pure projection).
  * Here each token is visited once inside whole-stage codegen.
  *
  * Exactness notes (the oracle compares these as integers): word length
  * is numChars (Spark `length` / DuckDB `length` semantics); "contains
  * a letter" scans UTF-8 bytes for 0x61–0x7A, exact for the `[a-z]`
  * regex because multi-byte sequences never contain ASCII-range bytes;
  * distinct bigrams dedup on the token PAIR, bijective with the
  * concatenated "a b" string because whitespace-split tokens contain no
  * spaces. Null array or element yields NULL (row drops, like every
  * expression here).
  */
object TokenRuleStats {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(toks: ArrayData,
      stop: Array[UTF8String]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    var sumLen = 0L
    var alpha = 0
    val stopSeen = new Array[Boolean](stop.length)
    val bigrams = new java.util.HashSet[Long]() // probe set; exact via list
    val bigramList = new java.util.ArrayList[(UTF8String, UTF8String)]()
    var prev: UTF8String = null
    var distinctBigrams = 0
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      val t = toks.getUTF8String(i)
      sumLen += t.numChars()
      // ASCII a-z byte scan — exact for the [a-z] containment regex
      val bytes = t.getBytes
      var j = 0
      var hasAlpha = false
      while (j < bytes.length && !hasAlpha) {
        val b = bytes(j)
        if (b >= 0x61 && b <= 0x7A) hasAlpha = true
        j += 1
      }
      if (hasAlpha) alpha += 1
      var s = 0
      while (s < stop.length) {
        if (!stopSeen(s) && t.equals(stop(s))) stopSeen(s) = true
        s += 1
      }
      if (prev != null) {
        // two-level dedup: a cheap 64-bit hash probe set, with an exact
        // pair-equality scan only on probe collisions — the count is
        // exact for ANY input, the hash only prunes the scan
        val h = prev.hashCode().toLong << 32 | (t.hashCode().toLong & 0xFFFFFFFFL)
        if (bigrams.add(h)) {
          bigramList.add((prev.clone(), t.clone()))
          distinctBigrams += 1
        } else {
          var found = false
          var b = 0
          while (b < bigramList.size && !found) {
            val (p1, p2) = bigramList.get(b)
            if (p1.equals(prev) && p2.equals(t)) found = true
            b += 1
          }
          if (!found) {
            bigramList.add((prev.clone(), t.clone()))
            distinctBigrams += 1
          }
        }
      }
      prev = t
      i += 1
    }
    var nStop = 0
    var s = 0
    while (s < stopSeen.length) { if (stopSeen(s)) nStop += 1; s += 1 }
    org.apache.spark.sql.catalyst.InternalRow(
      n, sumLen, alpha, nStop, distinctBigrams)
  }
}

/** Product-quantization encoder (Jégou et al., TPAMI 2011): split a
  * dim-d vector into m contiguous subvectors, quantize each against its
  * own K-codeword codebook by MINIMUM L2 distance, and pack the m code
  * indices into one long — `bits` bits per code, subspace i at bit
  * offset i*bits. With m=8, bits=6 a 64-float embedding (256 B) becomes
  * a 48-bit code (8 B): the 32x compression that makes exhaustive
  * ADC scans memory-bandwidth-bound instead of FLOP-bound at 100 TB.
  *
  * The codebook tensor rides along as one [[BcTensor]] —
  * composing this from per-codeword expressions would embed m*K array
  * literals in the generated source (the Janino blowup
  * [[HyperplaneBucketProbes]] documents). Ties break to the LOWEST codeword
  * index; null input, shape mismatch, or a null element yields NULL (the
  * vector drops out of the index, matching every other vector op here).
  */
object PqEncode {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(v: ArrayData, books: Array[Array[Array[Double]]], bits: Int,
      isFloat: Boolean): java.lang.Long = {
    val m = books.length
    val dsub = books(0)(0).length
    if (v.numElements() != m * dsub) return null
    var code = 0L
    var s = 0
    while (s < m) {
      val book = books(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val idx = s * dsub + j
          if (v.isNullAt(idx)) return null
          val x = (if (isFloat) v.getFloat(idx).toDouble else v.getDouble(idx)) - cw(j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict < : ties keep lowest c
        c += 1
      }
      code |= best.toLong << (bits * s)
      s += 1
    }
    java.lang.Long.valueOf(code)
  }
}

/** Query-side ADC lookup table for [[PqEncode]] codes: a flat
  * array<double> of m*K entries, entry i*K + c = dot(query_sub_i,
  * codebook_i_codeword_c). Built ONCE per query row (the tiny broadcast
  * side); after it, scoring any corpus code is m array reads + adds
  * ([[PqAdcScore]]) instead of a dim-length dot product — the
  * asymmetric-distance trick that makes PQ scans cheap. Null/shape
  * semantics match [[PqEncode]].
  */
object PqLut {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(v: ArrayData, books: Array[Array[Array[Double]]],
      isFloat: Boolean): ArrayData = {
    val m = books.length
    val k = books(0).length
    val dsub = books(0)(0).length
    if (v.numElements() != m * dsub) return null
    val out = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val book = books(s)
      var c = 0
      while (c < k) {
        val cw = book(c)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val idx = s * dsub + j
          if (v.isNullAt(idx)) return null
          acc += (if (isFloat) v.getFloat(idx).toDouble else v.getDouble(idx)) * cw(j)
          j += 1
        }
        out(s * k + c) = acc
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Asymmetric-distance score of one packed PQ code against a query LUT:
  * sum over subspaces i of lut[i*K + code_i], code_i = bits i*bits ..
  * i*bits+bits-1 of the long. This is the entire per-candidate cost of a
  * PQ scan — m array reads — and it lives inside whole-stage codegen, so
  * the candidate join's hot loop never allocates. Approximates
  * dot(query, vector) with the vector replaced by its per-subspace
  * codeword reconstruction. NULL if the LUT length is not m*K (shape
  * drift guard) or a LUT entry the code reads is NULL (a null slot holds
  * no defined double: codegen and interpreted eval read different
  * values there); the code itself is total — any 64-bit value decodes.
  */
object PqAdcScore {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(code: Long, lut: ArrayData, m: Int, bits: Int,
      k: Int): java.lang.Double = {
    if (lut.numElements() != m * k) return null
    val mask = (1L << bits) - 1L
    var acc = 0.0
    var s = 0
    while (s < m) {
      val c = ((code >>> (bits * s)) & mask).toInt
      if (c >= k) return null // unencodable under this codebook — shape drift
      if (lut.isNullAt(s * k + c)) return null
      acc += lut.getDouble(s * k + c)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Unit-normalize a numeric array in ONE fused codegen loop: norm =
  * sqrt of the sequential left-to-right fold of x*x in double (the
  * exact fold order of the `aggregate(...)` lambda it replaces, so
  * existing oracle hashes are unaffected), output x/norm per element,
  * NULL when the norm is zero.
  *
  * Why: the lambda formulation (`transform(array(sqrt(aggregate(...))),
  * nrm -> ...)` — the norm-bound-once q48 construct) walks THREE
  * higher-order-function frames per row, all interpreted with boxed
  * elements. On the q50/q26 build path the normalize pass was ~10x the
  * cost of the underlying scan (OPTIMIZATION_r13.md §B); here it is a
  * two-line loop inside whole-stage codegen.
  *
  * Null semantics: zero norm -> NULL (matches the lambda's CASE). A
  * null ELEMENT also yields NULL — the lambda instead produced an
  * array of nulls (its `nrm = 0D` test is NULL, falling to the ELSE
  * branch dividing by a null norm); no caller feeds nullable elements,
  * and dropping the row beats emitting a poisoned vector.
  */
object UnitNormalize {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    val nrm = math.sqrt(acc)
    if (nrm == 0.0) return null
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x / nrm
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The planted near-duplicate of the ANN/dedup fixtures in one codegen
  * loop: out[j] = a[j] + eps * a[(j+1) mod n] — the cyclic-neighbor mix
  * `dupCorpus` previously spelled as `transform(sequence(1, size(emb)),
  * i -> element_at(emb, i) + eps*element_at(emb, i % size + 1))`, an
  * interpreted O(n) lambda with two boxed positional lookups per
  * element. Arithmetic is per-element identical (each output is one
  * double add of one double multiply), so planted fixtures and their
  * oracles are bit-unchanged. Null-element semantics DIFFER from the
  * lambda (same deliberate deviation as [[UnitNormalize]]): the lambda
  * propagated nulls per element (an array containing nulls); here any
  * null element yields NULL for the whole value — no caller feeds
  * nullable elements, and dropping the row beats emitting a poisoned
  * vector.
  */
object NeighborMix {

  /** One definition of truth for interpreted eval AND codegen. */
  def compute(a: ArrayData, eps: Double, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    def get(i: Int): Double =
      if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    i = 0
    while (i < n) {
      out(i) = get(i) + eps * get((i + 1) % n)
      i += 1
    }
    new GenericArrayData(out)
  }
}
