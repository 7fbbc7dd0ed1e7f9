package graft

import graft.plans.native
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Every `native.*` function returns the same rows through its generated
  * code as through its eval. The generated side runs whole-stage codegen
  * with `spark.sql.codegen.factoryMode=CODEGEN_ONLY` and
  * `spark.sql.codegen.fallback=false`, so a template that does not compile
  * fails the query instead of falling back to interpreted eval; the
  * interpreted side runs `NO_CODEGEN` with whole-stage codegen off. Inputs
  * come from parquet and an RDD, never a local relation, whose projections
  * the optimizer would evaluate (interpreted) at plan time. */
class CodegenParitySpec extends SparkSpec {

  private lazy val s = {
    val n = spark.newSession()
    // one plan shape to inspect: no adaptive re-planning
    n.conf.set("spark.sql.adaptive.enabled", "false")
    n
  }

  private val codegenOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Token-short, n-gram-short, ragged, non-ASCII, decomposed, JSON and
    * null texts beside the corpus. */
  private val edgeTexts = Seq("", "ab", "abc", "abcdefg", "abcdefgh",
    "abcdefghi", "one", "one two", "x y z", "  a  b   c ", "café été",
    """{"a.b": {"c.d": [1, {"e.f": 2}]}, "g": "h.i"}""", "[1, 2]", null)

  private def texts: DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val edges = s.createDataFrame(s.sparkContext.parallelize(
      edgeTexts.zipWithIndex.map { case (t, i) => Row(-1L - i, t) }, 2), schema)
    Tables.documents(s, sf()).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text")).unionByName(edges)
  }

  private def vectors: DataFrame = {
    val e = Tables.embeddings(s, sf()).filter(col("vec_id") < 12)
    e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("eb")))
  }

  private val text = col("text")
  private val ea = col("ea")
  private val eb = col("eb")
  private val ebDouble = col("eb").cast("array<double>")
  private val textLen = coalesce(length(text), lit(0)).cast("long")
  private val positions = array(pmod(col("doc_id"), lit(64L)),
    pmod(col("doc_id") * 7, lit(130L)), textLen % 200)
  private val positions2 = array(pmod(col("doc_id") * 3, lit(90L)), textLen % 150)

  /** (function, input frame, output columns): every `native.*` function,
    * each over both float and double arrays where it reads vectors. */
  private val cases: Seq[(String, () => DataFrame, Seq[Column])] = Seq(
    ("poly_hash", () => texts, Seq(native.poly_hash(text))),
    ("nfc_normalize", () => texts, Seq(native.nfc_normalize(text))),
    ("bounds_file_id", () => texts,
      Seq(native.bounds_file_id(col("doc_id"), Array(-3L, 10L, 10L, 40L)))),
    ("minhash_sig", () => texts, Seq(native.minhash_sig(text, 8, 3),
      native.minhash_sig(text))),
    ("simhash32", () => texts, Seq(native.simhash32(text))),
    ("simhash64", () => texts, Seq(native.simhash64(text))),
    ("word_bigrams", () => texts, Seq(native.word_bigrams(text))),
    ("word_trigrams", () => texts, Seq(native.word_trigrams(text))),
    ("min_char_ngram_hash", () => texts,
      Seq(native.min_char_ngram_hash(text, 3), native.min_char_ngram_hash(text, 8))),
    ("ngram_hash_set", () => texts, Seq(native.ngram_hash_set(text, 3))),
    ("shingle_hash_set", () => texts, Seq(native.shingle_hash_set(text, 3))),
    ("sorted_jaccard", () => texts, Seq(native.sorted_jaccard(
      native.ngram_hash_set(text, 3), native.ngram_hash_set(upper(text), 3)))),
    ("hilbert_key", () => texts, Seq(native.hilbert_key(
      pmod(col("doc_id"), lit(256L)), length(text).cast("long") % 256, 8))),
    ("cosine_sim", () => vectors,
      Seq(native.cosine_sim(ea, eb), native.cosine_sim(ea, ebDouble))),
    ("l2sq", () => vectors, Seq(native.l2sq(ea, eb), native.l2sq(ea, ebDouble))),
    ("dot_product", () => vectors,
      Seq(native.dot_product(ea, eb), native.dot_product(ebDouble, ea))),
    ("lsh_bucket", () => vectors,
      Seq(native.lsh_bucket(ea, 8), native.lsh_bucket(ebDouble, 8))),
    ("winnow_set", () => texts,
      Seq(native.winnow_set(text, 3, 4), native.winnow_set(text, 8, 4))),
    ("positions_to_bitset", () => texts, Seq(
      native.positions_to_bitset(positions, 0),
      native.positions_to_bitset(positions, 4))),
    ("bitset_jaccard", () => texts, Seq(native.bitset_jaccard(
      native.positions_to_bitset(positions, 0),
      native.positions_to_bitset(positions2, 0)))),
    ("sanitize_json_keys", () => texts, Seq(native.sanitize_json_keys(text))),
    ("hashed_linear_score", () => texts, Seq(native.hashed_linear_score(text, 1000))),
    ("token_count", () => texts, Seq(native.token_count(text))),
    ("bpe_encode", () => texts, Seq(native.bpe_encode(text,
      Seq(("a", "b"), ("o", "n"), ("on", "e"), ("ab", "c")),
      Map("a" -> 1L, "b" -> 2L, "c" -> 3L, "e" -> 4L, "ab" -> 5L,
        "on" -> 6L, "one" -> 7L, "abc" -> 8L)))))

  /** The sorted rows of `outs` over `input` under `conf`, and whether a
    * whole-stage codegen stage ran them. */
  private def run(conf: Seq[(String, String)], input: () => DataFrame,
      outs: Seq[Column]): (Seq[String], Boolean) = {
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    val df = input().select(outs: _*)
    val rows = df.collect().map(_.toString).sorted.toSeq
    (rows, df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
  }

  test("the cases name every native.* function") {
    val fns = native.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column] && !m.getName.contains("$"))
      .map(_.getName).toSet
    assert(cases.map(_._1).toSet == fns)
  }

  for ((fn, input, outs) <- cases)
    test(s"native.$fn: CODEGEN_ONLY rows == NO_CODEGEN rows") {
      val (generated, wholeStage) = run(codegenOnly, input, outs)
      val (evaluated, noWholeStage) = run(interpreted, input, outs)
      assert(wholeStage && !noWholeStage)
      assert(generated.nonEmpty)
      assert(generated == evaluated)
    }
}
