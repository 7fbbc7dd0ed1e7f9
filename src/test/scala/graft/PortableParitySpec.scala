package graft

import graft.functions.Portable
import graft.plans.native
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The native expressions (graft.plans, used on hot paths) must compute
  * the exact arithmetic of the Portable higher-order-function formulas
  * (which in turn mirror the DuckDB oracle SQL). Any drift here silently
  * breaks the oracle gate, so it is asserted on real corpus data. */
class PortableParitySpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf()).limit(100)

  test("poly_hash native == Portable formula") {
    val n = docs.select(
        native.poly_hash(col("text")).as("a"),
        Portable.polyHash(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(n == 0)
  }

  test("minhash_sig native == Portable formula") {
    val n = docs.select(
        native.minhash_sig(col("text"), 16, 3).as("a"),
        Portable.minhashSignature(col("text"), 16, 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(n == 0)
  }

  test("simhash32 native == Portable formula") {
    val n = docs.select(
        native.simhash32(col("text")).as("a"),
        Portable.simhash32(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(n == 0)
  }

  private def charNgramHashesHof(n: Int) =
    transform(Portable.charNgrams(col("text"), n), g => Portable.polyHash(g))

  test("min_char_ngram_hash native == min over Portable charNgrams hashes") {
    val n = docs.select(
        native.min_char_ngram_hash(col("text"), 8).as("a"),
        array_min(charNgramHashesHof(8)).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(n == 0)
  }

  test("cosine_sim native == Portable formula (bit-identical doubles)") {
    val emb = Tables.embeddings(spark, sf())
    val a = emb.limit(30).select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.limit(30).select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
    val dbl = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("double"))
    val n = pairs.select(
        native.cosine_sim(col("ea"), col("eb")).as("x"),
        Portable.cosine(dbl(col("ea")), dbl(col("eb"))).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(n == 0)
  }

  test("l2sq native == HOF formula (bit-identical doubles)") {
    val emb = Tables.embeddings(spark, sf())
    val a = emb.limit(30).select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.limit(30).select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val n = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(native.l2sq(col("ea"), col("eb")).as("x"),
        graft.operators.Similarity.l2sqHof(col("ea"), col("eb")).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(n == 0)
  }

  test("lsh_bucket native == HOF formula") {
    val emb = Tables.embeddings(spark, sf())
    val n = emb.select(
        native.lsh_bucket(col("embedding"), 8).as("x"),
        graft.operators.Similarity.lshBucketHof(col("embedding"), 8, 64).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(n == 0)
  }

  test("sorted_jaccard native == set ops on hashed ngrams") {
    val d = docs.limit(40)
    val a = d.select(col("doc_id").as("ia"),
      native.ngram_hash_set(col("text"), 3).as("ga"))
    val b = d.select(col("doc_id").as("ib"),
      native.ngram_hash_set(col("text"), 3).as("gb"))
    val n = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(native.sorted_jaccard(col("ga"), col("gb")).as("x"),
        Portable.jaccard(col("ga"), col("gb")).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(n == 0)
  }

  private def winnowHof(n: Int, w: Int) = {
    val hs = transform(sequence(lit(1), length(col("text")) - (n - 1)),
      i => Portable.polyHash(col("text").substr(i, lit(n))))
    when(length(col("text")) < n, array(Portable.polyHash(col("text"))))
      .when(size(hs) <= w, array(array_min(hs)))
      .otherwise(array_sort(array_distinct(
        transform(sequence(lit(1), size(hs) - (w - 1)),
          i => array_min(slice(hs, i, lit(w)))))))
  }

  test("winnow_set native == HOF windowed-minima formula") {
    val bad = docs.select(native.winnow_set(col("text"), 8, 4).as("a"),
        winnowHof(8, 4).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0)
  }

  /** Adjacent word n-grams as a join of `Portable.tokens`; empty below n
    * tokens. */
  private def wordNgramsHof(n: Int) = {
    val w = Portable.tokens(col("text"))
    when(size(w) >= n, transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  test("word_bigrams / word_trigrams native == Portable.tokens join") {
    import spark.implicits._
    val short = Seq("", "one", "one two", "  one   two ", "x y z", "a b c d")
      .toDF("text")
    Seq(docs.select(col("text")), short).foreach { df =>
      val bad = df.select(
          native.word_bigrams(col("text")).as("a2"), wordNgramsHof(2).as("b2"),
          native.word_trigrams(col("text")).as("a3"), wordNgramsHof(3).as("b3"))
        .filter(col("a2") =!= col("b2") || col("a3") =!= col("b3")).count()
      assert(bad == 0)
    }
    // the short docs really are below 2 and 3 tokens
    assert(short.select(native.word_bigrams(col("text")).as("g"))
      .filter(size(col("g")) === 0).count() == 2)
    assert(short.select(native.word_trigrams(col("text")).as("g"))
      .filter(size(col("g")) === 0).count() == 4)
  }

  test("short/degenerate strings: fewer tokens than shingle width") {
    import spark.implicits._
    val df = Seq("ab", "one two", "x y z", "").toDF("text")
    val bad = df.filter(col("text") =!= "").select(
        native.minhash_sig(col("text"), 4, 3).as("a"),
        Portable.minhashSignature(col("text"), 4, 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0)
    // word-shingle sets below, at and above the width, and on the corpus
    val badSets = df.unionByName(docs.select(col("text")))
      .select(native.shingle_hash_set(col("text"), 3).as("a"),
        array_sort(array_distinct(Portable.shingleHashes(col("text"), 3))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(badSets == 0)
    // character n-gram kernels on texts of length 0, n - 1, n and n + 1
    for (n <- Seq(3, 8)) {
      val texts = Seq(0, n - 1, n, n + 1).map(l => "abcdefghij".take(l))
        .toDF("text")
      val badGrams = texts.select(
          native.ngram_hash_set(col("text"), n).as("a1"),
          array_sort(array_distinct(charNgramHashesHof(n))).as("b1"),
          native.winnow_set(col("text"), n, 4).as("a2"), winnowHof(n, 4).as("b2"),
          native.min_char_ngram_hash(col("text"), n).as("a3"),
          array_min(charNgramHashesHof(n)).as("b3"))
        .filter(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
          col("a3") =!= col("b3")).count()
      assert(badGrams == 0, s"n = $n")
    }
  }
}
