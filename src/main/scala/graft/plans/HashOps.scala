package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JVM implementations of the portable hash arithmetic
  * (graft.functions.Portable / SURVEY.md §5). Called from generated code by
  * the expressions in [[graft.plans]] — one static call per row keeps the
  * surrounding plan inside whole-stage codegen while the inner loops run as
  * tight JVM code instead of per-element expression evaluation.
  *
  * Formula parity with the DuckDB oracle SQL and the Portable column
  * functions is asserted in PortableParitySpec.
  */
object HashOps {
  /** Modulus of every portable hash: the Mersenne prime 2^31 - 1. The one
    * definition, read by the kernels here and by the reference formulas
    * in [[graft.functions.Portable]]. */
  val M: Long = 2147483647L

  /** Multiplier / offset of the k-th affine re-hash (k is 0-based). */
  def aK(k: Int): Long = ((k + 1).toLong * 2654435761L) % M
  def bK(k: Int): Long = ((k + 1).toLong * 40503L) % M

  /** poly rolling hash over UTF-16 code units `from until to` (== code
    * points for BMP, == `unicode()` in DuckDB for the ASCII/BMP corpus). */
  private def polyHashRange(s: String, from: Int, to: Int): Long = {
    var acc = 0L
    var i = from
    while (i < to) { acc = (acc * 31 + s.charAt(i)) % M; i += 1 }
    acc
  }

  def polyHashStr(s: String): Long = polyHashRange(s, 0, s.length)

  def polyHash(s: UTF8String): Long = polyHashStr(s.toString)

  /** Unicode NFC (canonical composition) — the portable normalization
    * seam: Java's Normalizer and DuckDB's `nfc_normalize` implement the
    * same UAX #15 form, so a decomposed e + U+0301 folds to é on both
    * engines. Canonical only — compatibility folds (full-width → ASCII)
    * are handled by the explicit translate table in
    * [[graft.operators.TextAnalysis]], never by NFKC (engines differ
    * less on a table than on a normalization corpus). */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Count of entries ≤ v in an ascending-sorted array — the file
    * assignment against sampled range boundaries (binary search; ties
    * land in the upper file deterministically). */
  def countLe(sorted: Array[Long], v: Long): Long = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  private def tokensOf(s: String): Array[String] =
    s.split(" ", -1).filter(_.nonEmpty)

  /** polyHash of each whitespace token, in order. */
  private def tokenHashes(s: UTF8String): Array[Long] =
    tokensOf(s.toString).map(polyHashStr)

  /** Tokens `i until i + n` joined by single spaces. */
  private def wordNgram(w: Array[String], i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(w(i))
    var j = 1
    while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
    sb.toString
  }

  /** The character-n-gram hash sequence of `s` has this many terms: one
    * per length-n window, and one (the whole text) when shorter than n. */
  private def charNgramCount(s: String, n: Int): Int =
    math.max(s.length - n + 1, 1)

  /** Term i of the character-n-gram hash sequence: polyHash of
    * `s[i, i + n)`, clipped to the text, so the lone term of a text
    * shorter than n is `polyHash(s)` (mirrors the oracle's CASE). */
  private def charNgramHash(s: String, i: Int, n: Int): Long =
    polyHashRange(s, i, math.min(i + n, s.length))

  private def charNgramHashes(s: String, n: Int): Array[Long] = {
    val hs = new Array[Long](charNgramCount(s, n))
    var i = 0
    while (i < hs.length) { hs(i) = charNgramHash(s, i, n); i += 1 }
    hs
  }

  /** Sorts `hs` and drops repeats in place: the sorted distinct set the
    * jaccard kernels and the prefix-filtered join read. */
  private def sortedDistinct(hs: Array[Long]): ArrayData = {
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  /** Bit j of the result is 1 iff more hashes have bit j set than clear,
    * for j < bits (the SimHash vote). */
  private def simhashVotes(hs: Array[Long], bits: Int): Long = {
    var out = 0L
    var j = 0
    while (j < bits) {
      var sum = 0L
      var i = 0
      while (i < hs.length) {
        sum += (if (((hs(i) >> j) & 1L) == 1L) 1L else -1L)
        i += 1
      }
      if (sum > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Whitespace token count (split on ' ', empties dropped) — the codegen
    * twin of `size(Portable.tokens(c))`, which as a higher-order function
    * would break the projection out of whole-stage codegen. */
  def tokenCount(s: UTF8String): Long = {
    val str = s.toString
    var n = 0L
    var inTok = false
    var i = 0
    while (i < str.length) {
      val sep = str.charAt(i) == ' '
      if (!sep && !inTok) n += 1
      inTok = !sep
      i += 1
    }
    n
  }

  /** Feature-hashed linear score (fasttext-shaped classifier kernel):
    * sum over whitespace tokens of w(t) = (polyHash(t) mod (2R+1)) - R.
    * Deterministic stand-in weights — the feature-hash → weight-lookup →
    * sum plumbing is the real part; a trained model would broadcast a
    * weight array indexed by the same hash. */
  def hashedLinearScore(s: UTF8String, halfRange: Int): Long = {
    val toks = tokensOf(s.toString)
    val mod = 2L * halfRange + 1
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc += polyHashStr(toks(i)) % mod - halfRange
      i += 1
    }
    acc
  }

  /** Adjacent word bigrams ("a b") in one pass — the codegen twin of
    * `transform(sequence(...), i -> concat(w[i], ' ', w[i+1]))`, whose
    * per-element `element_at(tokens(text), i)` re-tokenizes the whole
    * document for every bigram (O(n²·len) per row — measured 10× on the
    * bigram-LM scorer). Empty for docs with < 2 tokens. */
  def wordBigrams(s: UTF8String): ArrayData = wordNgrams(s, 2)

  /** Adjacent word trigrams ("a b c") in one pass — [[wordBigrams]] one
    * order up (same rationale: the `transform(sequence(...))` spelling
    * re-tokenizes per element). Empty for docs with < 3 tokens. */
  def wordTrigrams(s: UTF8String): ArrayData = wordNgrams(s, 3)

  private def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val w = tokensOf(s.toString)
    val out = new Array[Any](math.max(w.length - n + 1, 0))
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromString(wordNgram(w, i, n))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hashes of word-n-shingles; the whole text is the lone shingle when
    * there are fewer than n tokens. */
  def shingleHashes(s: String, n: Int): Array[Long] = {
    val w = tokensOf(s)
    if (w.length < n) Array(polyHashStr(s))
    else {
      val out = new Array[Long](w.length - n + 1)
      var i = 0
      while (i < out.length) { out(i) = polyHashStr(wordNgram(w, i, n)); i += 1 }
      out
    }
  }

  /** Sorted distinct word-n-shingle hashes — the set representation the
    * prefix-filtered similarity join consumes. One tokenize pass per row
    * (the higher-order-function formulation re-tokenizes the document
    * for every element_at — measured 4.5 s of a 6 s pipeline at sf0.1). */
  def shingleHashSet(s: UTF8String, n: Int): ArrayData =
    sortedDistinct(shingleHashes(s.toString, n))

  /** MinHash signature: k affine minima over the word-n-shingle hashes. */
  def minhashSig(s: UTF8String, k: Int, shingleN: Int): ArrayData = {
    val hs = shingleHashes(s.toString, shingleN)
    val sig = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = aK(j); val b = bK(j)
      var mn = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = (hs(i) * a + b) % M
        if (v < mn) mn = v
        i += 1
      }
      sig(j) = mn
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** 32-bit SimHash over whitespace-token hashes. */
  def simhash32(s: UTF8String): Long = simhashVotes(tokenHashes(s), 32)

  /** 62-bit SimHash over whitespace tokens: per token, lo = polyHash(t)
    * votes bits 0-30 (identical votes to [[simhash32]]'s live bits — the
    * low-31-bit parity invariant), hi = (lo·a₃₂+b₃₂) mod M votes bits
    * 31-61 via the affine hash family the minhash signature uses. Bits
    * 62-63 are structurally zero. Gives 16-bit pigeonhole bands 65k-value
    * keys (vs the byte band's 256) so hamming ≤ 3 blocking stays
    * skew-free on large corpora. */
  def simhash64(s: UTF8String): Long = {
    val hs = tokenHashes(s)
    var i = 0
    while (i < hs.length) {
      hs(i) |= ((hs(i) * aK(32) + bK(32)) % M) << 31
      i += 1
    }
    simhashVotes(hs, 62)
  }

  /** Sorted distinct poly-hashes of the character n-grams — the set
    * representation for fast pairwise jaccard ([[sortedJaccard]]).
    * `[polyHash(s)]` when shorter than n (mirrors the oracle's CASE). */
  def ngramHashSet(s: UTF8String, n: Int): ArrayData =
    sortedDistinct(charNgramHashes(s.toString, n))

  /** Jaccard of two sorted distinct long arrays via a single merge pass —
    * no per-pair hash-set allocation; this is what makes the exact
    * n-gram-jaccard join feasible at scale. */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  private def elemAsDouble(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine similarity with the exact sequential-fold order of the oracle's
    * list_reduce (and Portable.cosine): acc starts at 0.0, elements added
    * left-to-right, products of double-cast elements — bit-identical to
    * the HOF/DuckDB formulations, ~100× cheaper than interpreted lambdas. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elemAsDouble(a, i, aFloat)
      val y = elemAsDouble(b, i, bFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Inner product with the oracle's sequential-fold order (the MIPS
    * score — [[cosine]] without the norm division). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elemAsDouble(a, i, aFloat) * elemAsDouble(b, i, bFloat)
      i += 1
    }
    acc
  }

  /** Squared L2 distance with the oracle's sequential-fold order. */
  def l2sq(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elemAsDouble(a, i, aFloat) - elemAsDouble(b, i, bFloat)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Sign-bit LSH bucket over deterministic pseudo-random hyperplanes:
    * plane(p, i) = ((i*a_p + b_p) mod M) / M * 2 - 1 (i is 1-based), bit p
    * set when dot(vec, plane_p) > 0. Same IEEE op order as the column /
    * oracle formulation. */
  def lshBucket(v: ArrayData, nPlanes: Int, isFloat: Boolean): Long = {
    val n = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val a = aK(p); val b = bK(p)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val plane = ((i + 1).toLong * a + b) % M
        dot += elemAsDouble(v, i, isFloat) * (plane.toDouble / M * 2 - 1)
        i += 1
      }
      if (dot > 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Pack an array of bit positions into a long bitset. `words > 0` gives
    * a fixed width; `words <= 0` self-sizes to the row's max position, so
    * no caller needs a driver-side dictionary count — pair consumers
    * ([[bitsetJaccard]]) treat the missing tail words as zero. */
  def positionsToBitset(pos: ArrayData, words: Int): ArrayData = {
    val n = pos.numElements()
    var w = words
    if (w <= 0) {
      var mx = -1L
      var i = 0
      while (i < n) { val p = pos.getLong(i); if (p > mx) mx = p; i += 1 }
      w = ((mx + 64) >> 6).toInt.max(1)
    }
    val bs = new Array[Long](w)
    var i = 0
    while (i < n) {
      val p = pos.getLong(i).toInt
      bs(p >> 6) |= (1L << (p & 63))
      i += 1
    }
    new GenericArrayData(bs)
  }

  /** Jaccard of two long bitsets via popcounts — the dictionary-encoded
    * fast path of the n-gram jaccard join: per-pair cost is O(words), not
    * O(set size). Widths may differ (self-sized bitsets): the longer
    * tail's bits count toward the union only. */
  def bitsetJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    val n = math.min(na, nb)
    var inter = 0; var union = 0
    var i = 0
    while (i < n) {
      val x = a.getLong(i); val y = b.getLong(i)
      inter += java.lang.Long.bitCount(x & y)
      union += java.lang.Long.bitCount(x | y)
      i += 1
    }
    while (i < na) { union += java.lang.Long.bitCount(a.getLong(i)); i += 1 }
    while (i < nb) { union += java.lang.Long.bitCount(b.getLong(i)); i += 1 }
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** Winnowing fingerprint set (Schleimer et al., SIGMOD'03): the sorted
    * distinct minima of every length-`w` window over the char-`n`-gram
    * hash sequence. Guarantees any shared substring of length ≥ n+w−1
    * yields a shared fingerprint. `[polyHash(s)]` for texts shorter than
    * n (and the whole-sequence min when shorter than one window). */
  def winnowSet(s: UTF8String, n: Int, w: Int): ArrayData = {
    val hs = charNgramHashes(s.toString, n)
    // one window per start, or one clipped window when fewer than w hashes
    val mins = new Array[Long](math.max(hs.length - w + 1, 1))
    var i = 0
    while (i < mins.length) {
      val end = math.min(i + w, hs.length)
      var mn = Long.MaxValue
      var j = i
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      mins(i) = mn
      i += 1
    }
    sortedDistinct(mins)
  }

  /** Minimum poly-hash over the character n-grams (winnowing-lite
    * fingerprint); the whole-text hash when shorter than n. */
  def minCharNgramHash(s: UTF8String, n: Int): Long = {
    val str = s.toString
    val m = charNgramCount(str, n)
    var mn = Long.MaxValue
    var i = 0
    while (i < m) {
      val h = charNgramHash(str, i, n)
      if (h < mn) mn = h
      i += 1
    }
    mn
  }

  /** Hilbert xy2d bit descent (the public-domain formulation): the
    * codegen twin of the oracle's chained-CTE unroll — ~6·bits integer
    * ops in a tight loop, versus the Column spellings that either
    * explode the collapsed projection tree (per-step withColumn) or pay
    * an interpreted struct fold per row (aggregate HOF); both were
    * measured 10-20× slower at sf0.1. */
  def hilbertKey(x0: Long, y0: Long, bits: Int): Long = {
    val n1 = (1L << bits) - 1
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
