package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a text column as a single scalar expression: tokenize
  * on whitespace ([[Tokens]]), xxhash64 each token (seed 42, identical to
  * Spark's `xxhash64`), accumulate ±1 per bit over all token instances,
  * pack the sign vector into one long.
  *
  * Replaces the compose-from-built-ins formulation (explode tokens →
  * groupBy doc → 64 conditional-sum aggregates → bit-pack), which costs a
  * shuffle of every token row and a 64-expression aggregate; this is one
  * narrow pass, no shuffle. Bit-for-bit identical output to that
  * formulation (same tokenizer, same hash, same sign rule).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = Tokens(input.asInstanceOf[UTF8String])
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.count) {
      val h = toks.hash(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var packed = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) packed |= (1L << i); i += 1 }
    java.lang.Long.valueOf(packed)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  import org.apache.spark.sql.graft.Bridge
  def simhash64(c: Column): Column = Bridge.column(SimHash64(Bridge.expression(c)))
}
