package graft.functions

import graft.plans.HashOps.{M, aK, bK}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable deterministic text/hash arithmetic, expressible identically in
  * Spark and in the DuckDB oracle SQL (see SparkEntry.oracleSql).
  *
  * Everything is built on a polynomial rolling hash over code points,
  * `H(s) = fold(acc * 31 + code) mod M` with `M = 2^31 - 1`, and the affine
  * re-hash family `h_k(x) = (a_k * x + b_k) mod M`. All intermediates fit in
  * int64 (`a_k, x < 2^31` so `a_k * x < 2^62`), so the same arithmetic runs
  * exactly in DuckDB BIGINT and Spark LongType — this is what makes the
  * hash-based operators (minhash / simhash / fingerprints) oracle-checkable.
  *
  * These column builders are the *reference formulas* (Spark higher-order
  * functions). Hot paths use the native Catalyst expressions in
  * [[graft.plans]], which compute the same arithmetic in a single pass and
  * are cross-checked against these in ScalaTest. Both read `M`, `a_k` and
  * `b_k` from [[graft.plans.HashOps]], their one definition.
  */
object Portable {
  /** Characters of a string as an array column (empties removed — Spark's
    * `split` on an empty regex yields a trailing "" that DuckDB's
    * `string_split(s, '')` does not). */
  def chars(c: Column): Column =
    filter(split(c, ""), ch => ch =!= lit(""))

  /** Code points (ASCII-safe: test corpus is ASCII; `ascii` = `unicode`). */
  def codePoints(c: Column): Column =
    transform(chars(c), ch => ascii(ch).cast("long"))

  /** Polynomial rolling hash of a string column, in [0, M). */
  def polyHash(c: Column): Column =
    aggregate(codePoints(c), lit(0L), (acc, x) => (acc * 31 + x) % M)

  /** Affine re-hash of an int64 hash column into family member k. */
  def rehash(h: Column, k: Int): Column =
    (h * aK(k) + bK(k)) % M

  /** Whitespace tokens, empties removed (mirrors DuckDB
    * `list_filter(string_split(s, ' '), t -> t != '')`). */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= lit(""))

  /** Word n-shingles as strings joined by a single space; when the doc has
    * fewer than n tokens the whole text is the lone shingle. */
  def wordShingles(c: Column, n: Int): Column = {
    val w = tokens(c)
    val joined = transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))
    when(size(w) >= n, joined).otherwise(array(c))
  }

  /** Character n-grams via substr (1-based start, identical in DuckDB). */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array(c))

  /** Hashes of the word-n-shingles of a text column. */
  def shingleHashes(c: Column, n: Int): Column =
    transform(wordShingles(c, n), s => polyHashStr(s))

  /** polyHash over an already-materialized string expression (same formula,
    * avoids re-wrapping in a named column). */
  private def polyHashStr(s: Column): Column =
    aggregate(transform(filter(split(s, ""), ch => ch =!= lit("")),
      ch => ascii(ch).cast("long")), lit(0L), (acc, x) => (acc * 31 + x) % M)

  /** MinHash signature (length K) over the word-3-shingle hashes. */
  def minhashSignature(c: Column, k: Int, shingleN: Int = 3): Column = {
    val hs = shingleHashes(c, shingleN)
    array((0 until k).map { i =>
      array_min(transform(hs, h => rehash(h, i)))
    }: _*)
  }

  /** LSH band key: poly-fold of `rowsPerBand` consecutive signature slots
    * (band b covers sig[b*r+1 .. b*r+r], 1-based). */
  def bandHash(sig: Column, band: Int, rowsPerBand: Int): Column =
    (0 until rowsPerBand).foldLeft(lit(0L)) { (acc, j) =>
      (acc * 31 + element_at(sig, band * rowsPerBand + j + 1)) % M
    }

  /** 32-bit SimHash over whitespace-token hashes: bit j of the result is 1
    * iff the sum over tokens of (bit j of H(token) ? 1 : -1) is positive. */
  def simhash32(c: Column): Column = {
    val th = transform(tokens(c), t => polyHashStr(t))
    (0 until 32).foldLeft(lit(0L)) { (acc, j) =>
      val bitSum = aggregate(th, lit(0L),
        (s, h) => s + when(pmod(shiftright(h, j), lit(2)) === 1, lit(1L)).otherwise(lit(-1L)))
      acc + when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }
  }

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative integer columns (a's bit i lands at 2i+1, b's at 2i) —
    * the multi-dimensional clustering key under which a range of z-values
    * bounds BOTH dimensions, so file-level min/max stats prune scans
    * filtered on either column. Exact integer arithmetic (shift/mod/add),
    * identical in DuckDB as `((a // 2^i) % 2) * 2^(2i+1)` sums. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        pmod(shiftright(a.cast("long"), i), lit(2L)) * lit(1L << (2 * i + 1)) +
        pmod(shiftright(b.cast("long"), i), lit(2L)) * lit(1L << (2 * i))
    }

  /** Hilbert-curve key of two non-negative integer columns (`bits` bits
    * per dim), appended as column `out` — the space-filling order whose
    * consecutive keys are always GRID-ADJACENT, unlike Morton's quadrant
    * jumps, so equal-count key ranges get tighter per-dim bounding boxes
    * (better file-stat pruning at the same file count).
    *
    * The classic xy2d bit descent (public-domain formulation): at each
    * scale s = 2^i, quadrant q = (3·rx) XOR ry advances d by s²·q, then
    * the frame reflects/transposes (ry=0: swap, rx=1: point-reflect) so
    * the next bit is read in the rotated frame. The descent runs as ONE
    * `aggregate` higher-order fold over the bit positions with a
    * (x, y, d) struct as state — a per-row runtime loop, chosen over
    * per-step withColumn projections deliberately: CollapseProject
    * inlines chained projections and each step reads its predecessor's
    * x and y several times, so the unrolled spelling grows the
    * expression tree geometrically (measured 11.8 s vs Morton's 1.0 s
    * at sf0.1 before the rewrite). Every operation is integer
    * compare/add/mask, so the DuckDB oracle's chained-CTE unroll of the
    * same steps agrees exactly. */
  def hilbertKey(a: Column, b: Column, bits: Int): Column = {
    val n1 = lit((1L << bits) - 1)
    val folded = aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      struct(a.cast("long").as("x"), b.cast("long").as("y"),
        lit(0L).as("d")),
      (st, i) => {
        val x = st.getField("x"); val y = st.getField("y")
        val d = st.getField("d")
        val s = pow(lit(2.0), i.cast("double")).cast("long") // exact ≤ 2⁶²
        val rx = when(x.bitwiseAND(s) > 0, 1L).otherwise(0L)
        val ry = when(y.bitwiseAND(s) > 0, 1L).otherwise(0L)
        val quad = when(rx === 0L && ry === 0L, 0L)
          .when(rx === 0L, 1L).when(ry === 0L, 3L).otherwise(2L)
        struct(
          when(ry === 1L, x).when(rx === 1L, n1 - y).otherwise(y).as("x"),
          when(ry === 1L, y).when(rx === 1L, n1 - x).otherwise(x).as("y"),
          (d + s * s * quad).as("d"))
      })
    folded.getField("d")
  }

  /** The production spelling: [[graft.plans.native.hilbert_key]] — a
    * codegen'd tight loop (measured 1.1 s vs 11.8 s unrolled / 21 s HOF
    * at sf0.1) — appended as column `out`. [[hilbertKey]] above is the
    * reference formula it is parity-tested against. */
  def withHilbert(df: DataFrame, a: Column, b: Column, bits: Int,
      out: String): DataFrame =
    df.withColumn(out,
      graft.plans.native.hilbert_key(a.cast("long"), b.cast("long"), bits))

  /** Jaccard similarity of two array columns treated as sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Cosine similarity between two double-array columns (sequential
    * left-fold sum — same order as DuckDB's list lambda fold). */
  def cosine(a: Column, b: Column): Column = {
    val dot  = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na   = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (s, v) => s + v))
    val nb   = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (s, v) => s + v))
    dot / (na * nb)
  }
}
