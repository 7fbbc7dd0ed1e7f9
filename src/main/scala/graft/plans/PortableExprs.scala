package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge.InputType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the portable hash arithmetic: the hot
  * path of the dedup/fingerprint operators. Each generates a single static
  * call into [[HashOps]], so the row loop stays in whole-stage codegen and
  * the per-string work is a tight JVM loop — versus the higher-order
  * function formulation in [[graft.functions.Portable]], which evaluates an
  * expression tree per character/shingle. Parity between the two (and the
  * DuckDB oracle) is asserted in PortableParitySpec; CodegenParitySpec
  * asserts that the generated call returns what the eval returns.
  *
  * What such an expression shares: null in gives null out, and its
  * generated code is `graft.plans.HashOps.<method>(<children>, <args>)`.
  * An expression declares its `dataType`, its eval, the `method` and the
  * literal `args`; [[HashOpsUnary]] and [[HashOpsBinary]] supply the rest.
  */
trait HashOpsCall extends Expression {
  /** The [[HashOps]] method the generated code calls. */
  protected def method: String
  /** Literal arguments after the children's values (Int or Boolean). */
  protected def args: Seq[Any] = Nil
  override def nullIntolerant: Boolean = true
  protected def javaCall(children: String*): String =
    (children ++ args.map(_.toString))
      .mkString(s"graft.plans.HashOps.$method(", ", ", ")")
  /** Whether an array child holds floats (the vector kernels read
    * doubles otherwise). */
  protected def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

trait HashOpsUnary extends UnaryExpression with HashOpsCall {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => javaCall(c))
}

trait HashOpsBinary extends BinaryExpression with HashOpsCall {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => javaCall(a, b))
}

case class PolyHashExpr(child: Expression) extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.polyHash(input.asInstanceOf[UTF8String])
  override protected def method = "polyHash"
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

case class NfcNormalizeExpr(child: Expression) extends HashOpsUnary
    with ExpectsInputTypes {
  // analysis-time type check: a non-string child would otherwise compile
  // and throw ClassCastException at execution
  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.nfc(input.asInstanceOf[UTF8String])
  override protected def method = "nfc"
  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalizeExpr = copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, k: Int, shingleN: Int)
    extends HashOpsUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.minhashSig(input.asInstanceOf[UTF8String], k, shingleN)
  override protected def method = "minhashSig"
  override protected def args: Seq[Any] = Seq(k, shingleN)
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

case class SimHash32Expr(child: Expression) extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.simhash32(input.asInstanceOf[UTF8String])
  override protected def method = "simhash32"
  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

case class WordBigramsExpr(child: Expression) extends HashOpsUnary {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.wordBigrams(input.asInstanceOf[UTF8String])
  override protected def method = "wordBigrams"
  override protected def withNewChildInternal(newChild: Expression): WordBigramsExpr =
    copy(child = newChild)
}

case class WordTrigramsExpr(child: Expression) extends HashOpsUnary {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.wordTrigrams(input.asInstanceOf[UTF8String])
  override protected def method = "wordTrigrams"
  override protected def withNewChildInternal(newChild: Expression): WordTrigramsExpr =
    copy(child = newChild)
}

case class SimHash64Expr(child: Expression) extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.simhash64(input.asInstanceOf[UTF8String])
  override protected def method = "simhash64"
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

case class TokenCountExpr(child: Expression) extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.tokenCount(input.asInstanceOf[UTF8String])
  override protected def method = "tokenCount"
  override protected def withNewChildInternal(
      newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

case class HashedLinearScoreExpr(child: Expression, halfRange: Int)
    extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.hashedLinearScore(input.asInstanceOf[UTF8String], halfRange)
  override protected def method = "hashedLinearScore"
  override protected def args: Seq[Any] = Seq(halfRange)
  override protected def withNewChildInternal(
      newChild: Expression): HashedLinearScoreExpr =
    copy(child = newChild)
}

case class MinCharNgramHashExpr(child: Expression, n: Int)
    extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.minCharNgramHash(input.asInstanceOf[UTF8String], n)
  override protected def method = "minCharNgramHash"
  override protected def args: Seq[Any] = Seq(n)
  override protected def withNewChildInternal(newChild: Expression): MinCharNgramHashExpr =
    copy(child = newChild)
}

case class NgramHashSetExpr(child: Expression, n: Int) extends HashOpsUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.ngramHashSet(input.asInstanceOf[UTF8String], n)
  override protected def method = "ngramHashSet"
  override protected def args: Seq[Any] = Seq(n)
  override protected def withNewChildInternal(newChild: Expression): NgramHashSetExpr =
    copy(child = newChild)
}

case class ShingleHashSetExpr(child: Expression, n: Int)
    extends HashOpsUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.shingleHashSet(input.asInstanceOf[UTF8String], n)
  override protected def method = "shingleHashSet"
  override protected def args: Seq[Any] = Seq(n)
  override protected def withNewChildInternal(newChild: Expression): ShingleHashSetExpr =
    copy(child = newChild)
}

case class SortedJaccardExpr(left: Expression, right: Expression)
    extends HashOpsBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def method = "sortedJaccard"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedJaccardExpr =
    copy(left = newLeft, right = newRight)
}

case class HilbertKeyExpr(left: Expression, right: Expression, bits: Int)
    extends HashOpsBinary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.hilbertKey(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)
  override protected def method = "hilbertKey"
  override protected def args: Seq[Any] = Seq(bits)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertKeyExpr =
    copy(left = newLeft, right = newRight)
}

case class CosineSimExpr(left: Expression, right: Expression)
    extends HashOpsBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def method = "cosine"
  override protected def args: Seq[Any] = Seq(isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimExpr = copy(left = newLeft, right = newRight)
}

case class DotProductExpr(left: Expression, right: Expression)
    extends HashOpsBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def method = "dot"
  override protected def args: Seq[Any] = Seq(isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductExpr = copy(left = newLeft, right = newRight)
}

case class L2SqExpr(left: Expression, right: Expression)
    extends HashOpsBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def method = "l2sq"
  override protected def args: Seq[Any] = Seq(isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): L2SqExpr = copy(left = newLeft, right = newRight)
}

case class LshBucketExpr(child: Expression, nPlanes: Int) extends HashOpsUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.lshBucket(input.asInstanceOf[ArrayData], nPlanes, isFloat(child))
  override protected def method = "lshBucket"
  override protected def args: Seq[Any] = Seq(nPlanes, isFloat(child))
  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

case class WinnowSetExpr(child: Expression, n: Int, w: Int)
    extends HashOpsUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.winnowSet(input.asInstanceOf[UTF8String], n, w)
  override protected def method = "winnowSet"
  override protected def args: Seq[Any] = Seq(n, w)
  override protected def withNewChildInternal(newChild: Expression): WinnowSetExpr =
    copy(child = newChild)
}

case class PositionsToBitsetExpr(child: Expression, words: Int)
    extends HashOpsUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.positionsToBitset(input.asInstanceOf[ArrayData], words)
  override protected def method = "positionsToBitset"
  override protected def args: Seq[Any] = Seq(words)
  override protected def withNewChildInternal(newChild: Expression): PositionsToBitsetExpr =
    copy(child = newChild)
}

case class BitsetJaccardExpr(left: Expression, right: Expression)
    extends HashOpsBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.bitsetJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def method = "bitsetJaccard"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BitsetJaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** Frozen-artifact BPE encoder: the whole model — ordered merge
  * list + sym→id map — rides ONE [[BpeModel]] reference object instead
  * of an unrolled per-merge HOF chain + map literal, so the expression
  * tree (and the generated code) is the same size at 3 merges or 30k
  * (guarded in TokenizerSpec). Exact sequential-fold semantics; parity
  * with the HOF formulation is spec-asserted. */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)],
    ids: Map[String, Long]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  @transient private lazy val model = BpeModel(merges, ids)
  override protected def nullSafeEval(input: Any): Any =
    model.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

/** Count of sorted boundaries ≤ the key — the range-partition file
  * assignment against [[graft.operators.Curation.sampledRangeBounds]]
  * cut points. The boundary array rides the
  * CONSTRUCTOR as one reference object and codegen emits a single
  * binary-search call, so the key child is evaluated exactly once per
  * row — the HOF spelling captured the key expression inside the
  * lambda and re-evaluated the whole z interleave fold per boundary
  * (measured 34 s vs ~1 s at sf0.1). */
case class BoundsFileIdExpr(child: Expression, bounds: IndexedSeq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  // bounds is an immutable IndexedSeq (NOT Array) so case-class
  // equals/hashCode — and with them semanticEquals, plan
  // canonicalization, and common-subexpression elimination — compare
  // CONTENTS; an Array field compares by reference and two identical
  // cut-point expressions would never dedup. The eval and
  // codegen paths still run over a primitive long[].
  override def inputTypes: Seq[InputType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  @transient private lazy val boundsArr: Array[Long] = bounds.toArray
  override protected def nullSafeEval(input: Any): Any =
    HashOps.countLe(boundsArr, input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileBounds", boundsArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.HashOps.countLe($ref, $c)")
  }
  override protected def withNewChildInternal(
      newChild: Expression): BoundsFileIdExpr = copy(child = newChild)
}

/** Column-level API over the native expressions (Spark 4 classic backend:
  * Column wraps a ColumnNode, so go through ExpressionUtils). */
object native {
  import org.apache.spark.sql.graft.ColumnBridge

  private def asCol(e: Expression): Column = ColumnBridge.column(e)
  private def exprOf(c: Column): Expression = ColumnBridge.expression(c)

  def poly_hash(c: Column): Column = asCol(PolyHashExpr(exprOf(c)))
  def nfc_normalize(c: Column): Column = asCol(NfcNormalizeExpr(exprOf(c)))
  def bounds_file_id(c: Column, bounds: Array[Long]): Column =
    asCol(BoundsFileIdExpr(exprOf(c), bounds.toIndexedSeq))
  def minhash_sig(c: Column, k: Int = 16, shingleN: Int = 3): Column =
    asCol(MinHashSigExpr(exprOf(c), k, shingleN))
  def simhash32(c: Column): Column = asCol(SimHash32Expr(exprOf(c)))
  def simhash64(c: Column): Column = asCol(SimHash64Expr(exprOf(c)))
  def word_bigrams(c: Column): Column = asCol(WordBigramsExpr(exprOf(c)))
  def word_trigrams(c: Column): Column = asCol(WordTrigramsExpr(exprOf(c)))
  def min_char_ngram_hash(c: Column, n: Int): Column =
    asCol(MinCharNgramHashExpr(exprOf(c), n))
  def ngram_hash_set(c: Column, n: Int): Column =
    asCol(NgramHashSetExpr(exprOf(c), n))
  def shingle_hash_set(c: Column, n: Int): Column =
    asCol(ShingleHashSetExpr(exprOf(c), n))
  def sorted_jaccard(a: Column, b: Column): Column =
    asCol(SortedJaccardExpr(exprOf(a), exprOf(b)))
  def hilbert_key(a: Column, b: Column, bits: Int): Column =
    asCol(HilbertKeyExpr(exprOf(a), exprOf(b), bits))
  def cosine_sim(a: Column, b: Column): Column =
    asCol(CosineSimExpr(exprOf(a), exprOf(b)))
  def l2sq(a: Column, b: Column): Column =
    asCol(L2SqExpr(exprOf(a), exprOf(b)))
  def dot_product(a: Column, b: Column): Column =
    asCol(DotProductExpr(exprOf(a), exprOf(b)))
  def lsh_bucket(c: Column, nPlanes: Int): Column =
    asCol(LshBucketExpr(exprOf(c), nPlanes))
  def winnow_set(c: Column, n: Int, w: Int): Column =
    asCol(WinnowSetExpr(exprOf(c), n, w))
  def positions_to_bitset(c: Column, words: Int): Column =
    asCol(PositionsToBitsetExpr(exprOf(c), words))
  def bitset_jaccard(a: Column, b: Column): Column =
    asCol(BitsetJaccardExpr(exprOf(a), exprOf(b)))
  def sanitize_json_keys(c: Column): Column =
    asCol(SanitizeJsonKeysExpr(exprOf(c)))
  def hashed_linear_score(c: Column, halfRange: Int): Column =
    asCol(HashedLinearScoreExpr(exprOf(c), halfRange))
  def token_count(c: Column): Column = asCol(TokenCountExpr(exprOf(c)))
  def bpe_encode(c: Column, merges: Seq[(String, String)],
      ids: Map[String, Long]): Column =
    asCol(BpeEncodeExpr(exprOf(c), merges, ids))
}
