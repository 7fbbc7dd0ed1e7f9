package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The FROZEN BPE artifacts (ordered merge list + sym→id map) as ONE
  * serializable reference object — the scale-proof carrier for
  * [[graft.operators.Tokenizer.encodeWith]]: the earlier
  * formulation unrolled one `aggregate` HOF per merge and a
  * `typedLit` map literal into the expression tree, the exact
  * CollapseProject/codegen blowup class measured on the Hilbert descent
  * (SURVEY C173) — at a real 30k-merge vocab that is a 30k-deep tree.
  * Here the whole model is a single constructor argument; codegen emits
  * one `model.encode(text)` call whatever the vocab size (guarded at
  * 30k entries in TokenizerSpec).
  *
  * Semantics are EXACTLY the sequential fold of the HOF formulation
  * (kept as `encodeWithHof`, parity-spec'd): merges apply strictly in
  * training order, each as the greedy left-to-right fuse; a merge whose
  * left or right symbol is absent from the word's CURRENT symbol set is
  * skipped (a pure no-op by the fold's own condition — the skip is what
  * makes apply O(live merges) per word instead of O(vocab)). Unknown
  * symbols map to null ids, the OOV story of a sample-trained vocab. */
final class BpeModel(mergesL: Array[String], mergesR: Array[String],
    ids: java.util.HashMap[String, java.lang.Long]) extends Serializable {

  /** Whitespace(' ')-tokenize exactly like Portable.tokens (split on
    * single spaces, drop empties), encode each word, concatenate ids in
    * document order. */
  def encode(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        encodeWord(s.substring(start, i), out)
      }
    }
    new GenericArrayData(out.toArray)
  }

  private def encodeWord(w: String, out: java.util.ArrayList[AnyRef]): Unit = {
    // start: one symbol per CODE POINT — Java regex never matches inside
    // a surrogate pair, so Portable.chars' split-by-"" yields whole
    // supplementary characters, and the native seam must agree:
    // non-BMP text (emoji, supplementary CJK) would otherwise
    // split into lone surrogates and diverge from encodeWithHof
    var syms = new java.util.ArrayList[String](w.length)
    val present = new java.util.HashSet[String]()
    var j = 0
    while (j < w.length) {
      val cp = w.codePointAt(j)
      val c = new String(Character.toChars(cp))
      syms.add(c)
      present.add(c)
      j += Character.charCount(cp)
    }
    var m = 0
    while (m < mergesL.length && syms.size > 1) {
      val l = mergesL(m)
      val r = mergesR(m)
      // skip-set: the fold below can only act when BOTH operands occur
      // somewhere in the word — absent operand ⇒ identical output
      if (present.contains(l) && present.contains(r)) {
        // the greedy left-to-right fuse of Tokenizer.mergePair: fuse
        // when the accumulator's LAST symbol is exactly l and the next
        // is r; the fused symbol (l+r) participates in later checks
        val fused = new java.util.ArrayList[String](syms.size)
        var k = 0
        var changed = false
        while (k < syms.size) {
          val cur = syms.get(k)
          if (!fused.isEmpty && fused.get(fused.size - 1) == l && cur == r) {
            fused.set(fused.size - 1, l + r)
            changed = true
          } else fused.add(cur)
          k += 1
        }
        if (changed) {
          syms = fused
          // presence is a SUPERSET after refresh-free fusing would be
          // stale the other way — rebuild only when the word changed
          // (words are ≤ tens of symbols; merges that fire are few)
          present.clear()
          var p = 0
          while (p < syms.size) { present.add(syms.get(p)); p += 1 }
        }
      }
      m += 1
    }
    var k = 0
    while (k < syms.size) {
      out.add(ids.get(syms.get(k))) // null when unknown (OOV)
      k += 1
    }
  }
}

object BpeModel {
  def apply(merges: Seq[(String, String)], ids: Map[String, Long]): BpeModel = {
    val l = new Array[String](merges.size)
    val r = new Array[String](merges.size)
    var i = 0
    merges.foreach { case (a, b) => l(i) = a; r(i) = b; i += 1 }
    val m = new java.util.HashMap[String, java.lang.Long](ids.size * 2)
    ids.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    new BpeModel(l, r, m)
  }
}
