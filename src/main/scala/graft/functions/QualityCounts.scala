package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The counts behind [[graft.operators.TextAnalysis.withQuality]] in one
  * pass over a text's bytes, as a struct:
  *  - `n_tokens`: `size(tokens(text))`;
  *  - `n_stopwords`: tokens equal to one of `stopwords`;
  *  - `token_chars`: the tokens' summed length in code points;
  *  - `punct_chars`: `length(text) − length(regexp_replace(text,
  *    "[\\p{Punct}]", ""))` — the ASCII `\p{Punct}` characters, plus, for
  *    malformed UTF-8, the difference between `length`'s count of the raw
  *    bytes and of the text `regexp_replace` re-encodes.
  *
  * Replaces the built-in forms, whose `split` + `filter` chain ran once
  * per feature column with interpreted lambdas. Tokens are [[Tokens]]
  * (bit-matched to `TextAnalysis.tokens`). A null text gives a null
  * struct.
  *
  * Not SQL-registered: the stopword list is a Scala argument. */
case class QualityCounts(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quality_counts requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_stopwords", IntegerType, nullable = false),
    StructField("token_chars", LongType, nullable = false),
    StructField("punct_chars", IntegerType, nullable = false)))
  override def prettyName: String = "quality_counts"

  /** Stopword UTF-8 bytes grouped by length, so a token is compared only
    * with the stopwords of its own byte length. */
  @transient private lazy val stopwordsByLength: Array[Array[Array[Byte]]] = {
    val bytes = stopwords.map(w => UTF8String.fromString(w).getBytes)
    val maxLen = if (bytes.isEmpty) 0 else bytes.map(_.length).max
    Array.tabulate(maxLen + 1)(n => bytes.filter(_.length == n).toArray)
  }

  private def isStopword(text: UTF8String, start: Int, end: Int): Boolean = {
    val len = end - start
    if (len >= stopwordsByLength.length) return false
    val candidates = stopwordsByLength(len)
    var c = 0
    while (c < candidates.length) {
      val w = candidates(c)
      var i = 0
      while (i < len && text.getByte(start + i) == w(i)) i += 1
      if (i == len) return true
      c += 1
    }
    false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String]
    val toks = Tokens(raw)
    val text = toks.text
    var nStop = 0
    var chars = 0L
    var t = 0
    while (t < toks.count) {
      val s = toks.start(t)
      val e = toks.end(t)
      if (isStopword(text, s, e)) nStop += 1
      var i = s
      while (i < e) {
        if ((text.getByte(i) & 0xC0) != 0x80) chars += 1 // not a continuation byte
        i += 1
      }
      t += 1
    }
    var punct = 0
    var i = 0
    val n = text.numBytes
    while (i < n) {
      val b = text.getByte(i)
      if ((b >= '!' && b <= '/') || (b >= ':' && b <= '@') ||
          (b >= '[' && b <= '`') || (b >= '{' && b <= '~')) punct += 1
      i += 1
    }
    if (text ne raw) punct += raw.numChars - text.numChars
    InternalRow(toks.count, nStop, chars, punct)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityCounts {
  import org.apache.spark.sql.graft.Bridge
  def qualityCounts(text: Column, stopwords: Seq[String]): Column =
    Bridge.column(QualityCounts(Bridge.expression(text), stopwords))
}
