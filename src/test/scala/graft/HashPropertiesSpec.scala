package graft

import graft.plans.HashOps
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants of the portable hash kernels (pure JVM, no
  * Spark session): ranges, set-algebra bounds, order-invariance.
  * Deterministic sampling (fixed seed) over ScalaCheck generators. */
class HashPropertiesSpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val text: Gen[String] = Gen.choose(1, 40)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  private def u(s: String) = UTF8String.fromString(s)

  test("polyHash stays in [0, M)") {
    forAll(text) { s =>
      val h = HashOps.polyHashStr(s)
      assert(h >= 0 && h < HashOps.M)
    }
  }

  test("minhash signature: length K, values in range, self-similar") {
    forAll(text) { s =>
      val sig = HashOps.minhashSig(u(s), 16, 3)
      assert(sig.numElements() == 16)
      (0 until 16).foreach { i =>
        val v = sig.getLong(i)
        assert(v >= 0 && v < HashOps.M)
      }
      // identical text → identical signature (determinism)
      val sig2 = HashOps.minhashSig(u(s), 16, 3)
      assert((0 until 16).forall(i => sig.getLong(i) == sig2.getLong(i)))
    }
  }

  test("sortedJaccard: bounds, identity, symmetry") {
    forAll(text, text) { (a, b) =>
      val ga = HashOps.ngramHashSet(u(a), 3)
      val gb = HashOps.ngramHashSet(u(b), 3)
      val j = HashOps.sortedJaccard(ga, gb)
      assert(j >= 0.0 && j <= 1.0)
      assert(HashOps.sortedJaccard(ga, ga) == 1.0)
      assert(HashOps.sortedJaccard(ga, gb) == HashOps.sortedJaccard(gb, ga))
    }
  }

  test("bitsetJaccard agrees with sortedJaccard through a shared dictionary") {
    forAll(text, text) { (a, b) =>
      val ga = HashOps.ngramHashSet(u(a), 3)
      val gb = HashOps.ngramHashSet(u(b), 3)
      val dict = ((0 until ga.numElements()).map(ga.getLong) ++
        (0 until gb.numElements()).map(gb.getLong)).distinct.sorted.zipWithIndex.toMap
      val words = (dict.size + 63) / 64
      def bs(g: org.apache.spark.sql.catalyst.util.ArrayData) =
        HashOps.positionsToBitset(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            (0 until g.numElements()).map(i => dict(g.getLong(i)).toLong).toArray),
          words)
      assert(HashOps.bitsetJaccard(bs(ga), bs(gb)) == HashOps.sortedJaccard(ga, gb))
    }
  }

  test("simhash32 is invariant under token permutation") {
    forAll(text) { s =>
      val shuffled = new scala.util.Random(42).shuffle(
        s.split(" ").toSeq).mkString(" ")
      assert(HashOps.simhash32(u(s)) == HashOps.simhash32(u(shuffled)))
    }
  }

  test("simhash64: low 31 bits are simhash32, bits 62-63 are zero") {
    forAll(raggedText) { s =>
      val h64 = HashOps.simhash64(u(s))
      assert((h64 & ((1L << 31) - 1)) == HashOps.simhash32(u(s)))
      assert((h64 >>> 62) == 0L)
    }
  }

  test("winnow fingerprints are a subset of the ngram hashes") {
    forAll(text) { s =>
      whenever(s.length >= 8) {
        val fps = HashOps.winnowSet(u(s), 8, 4)
        val all = (0 until s.length - 7)
          .map(i => HashOps.polyHashStr(s.substring(i, i + 8))).toSet
        (0 until fps.numElements()).foreach(i => assert(all.contains(fps.getLong(i))))
      }
    }
  }

  test("cosine: bounds and self-similarity on unit-representable vectors") {
    val vec = Gen.listOfN(16, Gen.choose(-100, 100)).map(_.map(_.toDouble / 10))
    forAll(vec) { v =>
      whenever(v.exists(_ != 0.0)) {
        val a = new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray)
        val c = HashOps.cosine(a, a, aFloat = false, bFloat = false)
        assert(math.abs(c - 1.0) < 1e-9)
      }
    }
  }

  // texts with irregular whitespace (leading/trailing/runs of spaces) to
  // exercise the tokenizer edges the corpus never hits
  private val raggedText: Gen[String] = Gen.choose(0, 20)
    .flatMap(n => Gen.listOfN(n,
      Gen.frequency(5 -> word, 2 -> Gen.const(""), 1 -> Gen.const(" "))))
    .map(_.mkString(" "))

  test("tokenCount equals split-and-filter token count on ragged input") {
    forAll(raggedText) { s =>
      val expected = s.split(" ", -1).count(_.nonEmpty).toLong
      assert(HashOps.tokenCount(u(s)) === expected)
    }
  }

  test("hashedLinearScore = sum of per-token hashed weights, bounded") {
    val r = 1000
    forAll(raggedText) { s =>
      val toks = s.split(" ", -1).filter(_.nonEmpty)
      val expected = toks.map(t =>
        HashOps.polyHashStr(t) % (2L * r + 1) - r).sum
      assert(HashOps.hashedLinearScore(u(s), r) === expected)
      assert(math.abs(HashOps.hashedLinearScore(u(s), r)) <= toks.length.toLong * r)
    }
  }

  test("shingleHashSet = sorted distinct shingle hashes on ragged input") {
    forAll(raggedText) { s =>
      val toks = s.split(" ", -1).filter(_.nonEmpty)
      val expected =
        if (toks.length < 3) Array(HashOps.polyHashStr(s))
        else toks.sliding(3).map(w =>
          HashOps.polyHashStr(w.mkString(" "))).toArray.distinct.sorted
      val got = HashOps.shingleHashSet(u(s), 3)
      assert(got.toLongArray().toSeq === expected.toSeq)
      // set semantics: sorted ascending, no duplicates
      val arr = got.toLongArray()
      assert(arr.sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    }
  }

  test("BpeModel == independent sequential-fold reference on ARBITRARY merge lists") {
    // r11: encodeWith's native model claims EXACT sequential-merge
    // semantics on ANY merge list — not just trained ones — including
    // the presence-set skip and the self-overlap rule. Adversarial
    // cover: random {a,b}-alphabet words and random merge lists whose
    // pairs may self-overlap ("a","a"), reference symbols that never
    // occur (the skip path), or compound across rounds ("ab","ab").
    // The reference below is an INDEPENDENT reimplementation of the
    // string fold Tokenizer.mergePair documents (separator-encoded,
    // greedy left-to-right, fused symbol joins later checks).
    val Sep = ""
    def refEncode(text: String, merges: Seq[(String, String)],
        ids: Map[String, Long]): Seq[Option[Long]] = {
      def mergeOnce(enc: String, l: String, r: String): String =
        enc.split(Sep).foldLeft("") { (acc, s) =>
          if (acc.isEmpty) s
          else if ((acc == l || acc.endsWith(Sep + l)) && s == r) acc + s
          else acc + Sep + s
        }
      text.split(' ').filter(_.nonEmpty).toSeq.flatMap { w =>
        val enc0 = w.toCharArray.map(String.valueOf).mkString(Sep)
        val enc = merges.foldLeft(enc0) { case (e, (l, r)) =>
          mergeOnce(e, l, r) }
        enc.split(Sep).toSeq.map(ids.get)
      }
    }
    // ids over every {a,b} string of length <= 3 — longer merged
    // symbols fall outside and must surface as null (the OOV path)
    val ids = (1 to 3).flatMap(n =>
      Seq.fill(n)(Seq('a', 'b')).foldLeft(Seq("")) { (acc, cs) =>
        acc.flatMap(p => cs.map(c => p + c)) }.filter(_.length == n))
      .zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
    val sym = Gen.choose(1, 2).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val mergeList = Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.zip(sym, sym)))
    val abWord = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val abText = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, abWord).map(_.mkString(" ")))
    forAll(Gen.zip(abText, mergeList), n = 400) { case (text, merges) =>
      val model = graft.plans.BpeModel(merges, ids)
      val got = model.encode(u(text))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.toSeq
        .map(v => Option(v).map(_.asInstanceOf[java.lang.Long].longValue))
      val want = refEncode(text, merges, ids)
      assert(got === want,
        s"text='$text' merges=$merges\n native=$got\n ref=$want")
    }
  }
}
