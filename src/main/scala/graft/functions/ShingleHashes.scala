package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct xxhash64 values of a document's word k-gram shingles, in one
  * compiled pass — the native fusion of
  * [[graft.operators.Dedup.wordShingles]] ∘
  * [[graft.operators.Dedup.hashShingles]], and the hot path of every dedup
  * pipeline (shingling dominated the profile: the higher-order-function
  * formulation evaluates interpreted lambdas per token per gram).
  *
  * Output-set-identical to the HOF chain by construction: the same
  * tokenizer ([[Tokens]] — bit-matched to `TextAnalysis.tokens`), grams
  * joined by a single space and hashed as Spark's `xxhash64` hashes a
  * string (its UTF-8 bytes, seed 42), first-occurrence distinct over
  * primitive longs. A document with fewer than `k` tokens contributes its
  * whole token list as one gram (so short exact duplicates stay
  * detectable); blank documents contribute nothing.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires a string argument, got ${child.dataType.simpleString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      ShingleHashes.distinctInOrder(Tokens(input.asInstanceOf[UTF8String]).gramHashes(k)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  import org.apache.spark.sql.graft.Bridge

  /** The distinct values of `hs` in order of first occurrence, deduplicated
    * through an open-addressing table of primitive longs (linear probing;
    * the values are xxhash outputs, so their low bits index it directly). */
  private[functions] def distinctInOrder(hs: Array[Long]): Array[Long] = {
    if (hs.length < 2) return hs
    var cap = 4
    while (cap < 2 * hs.length) cap <<= 1
    val mask = cap - 1
    val slots = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](hs.length)
    var n = 0
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var p = (h ^ (h >>> 32)).toInt & mask
      while (used(p) && slots(p) != h) p = (p + 1) & mask
      if (!used(p)) {
        used(p) = true
        slots(p) = h
        out(n) = h
        n += 1
      }
      i += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  def shingleHashes(c: Column, k: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(c), k))
}

/** ORDERED word k-gram shingle hashes — [[ShingleHashes]] without the
  * distinct: element `i` is the hash of the gram STARTING at token `i`,
  * so the array index doubles as the gram position. The positional form
  * exists for span SURGERY ([[graft.operators.Dedup.removeDuplicatedSpans]]):
  * removal must know WHERE a duplicated gram sits, which the set form
  * deliberately erases. Same tokenizer, same join-by-single-space, same
  * seed-42 xxhash64, same short-doc rule (fewer than `k` tokens ⇒ one
  * whole-text gram at position 0), so a hash produced here equals the
  * set form's hash for the same gram — the two expressions share the
  * dup-detection key space by construction. */
case class ShingleHashesAll(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes_all requires a string argument, got ${child.dataType.simpleString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes_all requires k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_all"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(Tokens(input.asInstanceOf[UTF8String]).gramHashes(k))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashesAll {
  import org.apache.spark.sql.graft.Bridge
  def shingleHashesAll(c: Column, k: Int): Column =
    Bridge.column(ShingleHashesAll(Bridge.expression(c), k))
}
