package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The PII pass of [[graft.operators.TextAnalysis.withPiiRedaction]] in one
  * expression, as a struct:
  *  - `n_emails`, `n_ips`, `n_phones`: `size(regexp_extract_all(text, re,
  *    0))` of the email, IPv4 and phone patterns, all three counted on the
  *    ORIGINAL text (an IPv4 inside an email still counts);
  *  - `redacted`: the chain `RegExpReplace(RegExpReplace(RegExpReplace(
  *    text, email, "<EMAIL>"), ipv4, "<IP>"), phone, "<PHONE>")`.
  *
  * Replaces those six built-in passes, each of which decoded the text and
  * ran its pattern over it again. Same `Pattern`s, same `Matcher`
  * semantics, so bit-identical (property-pinned):
  *  - the email pattern needs an `@` and the other two an ASCII digit
  *    (`\d` without `UNICODE_CHARACTER_CLASS`); those are ASCII bytes,
  *    which UTF-8 never uses inside a multi-byte character, so a text
  *    without the byte cannot match and the pattern is skipped;
  *  - while no earlier pattern has changed the text, a pattern's count
  *    and its replacement come from one `find` loop; after a change, the
  *    count is a second loop over the original text;
  *  - like the built-ins, the text is decoded with `toString` (malformed
  *    UTF-8 becomes U+FFFD), so every output text is `fromString` of a
  *    decoded string, a text with no `@` and no digit included.
  *
  * A null text gives a null struct, or counts of -1 and a null text where
  * `size` of a null array is -1 (`spark.sql.legacy.sizeOfNull` without
  * ANSI mode), read like Spark's `Size` at construction. */
case class PiiScan(child: Expression,
                   legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pii_scan requires a string argument, got ${child.dataType.simpleString}")

  override def nullable: Boolean = child.nullable && !legacySizeOfNull
  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("redacted", StringType, nullable = child.nullable)))
  override def prettyName: String = "pii_scan"

  override def eval(input: InternalRow): Any = {
    val raw = child.eval(input).asInstanceOf[UTF8String]
    if (raw != null) PiiScan.scan(raw)
    else if (legacySizeOfNull) InternalRow(-1, -1, -1, null)
    else null
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PiiScan {
  import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
  import org.apache.spark.sql.graft.Bridge

  private val Email = Pattern.compile(EmailRe)
  private val Ipv4 = Pattern.compile(Ipv4Re)
  private val Phone = Pattern.compile(PhoneRe)

  def piiScan(text: Column): Column = Bridge.column(PiiScan(Bridge.expression(text)))

  private def count(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** One pattern's step of the chain over `text`, the output of the earlier
    * steps: the count on `original` and the text after replacement. */
  private def step(p: Pattern, rep: String, original: String,
                   text: String): (Int, String) =
    if (text ne original) (count(p, original), p.matcher(text).replaceAll(rep))
    else {
      val m = p.matcher(original)
      var n = 0
      var sb: java.lang.StringBuilder = null
      while (m.find()) {
        if (sb == null) sb = new java.lang.StringBuilder(original.length)
        m.appendReplacement(sb, rep)
        n += 1
      }
      if (n == 0) (0, original) else (n, m.appendTail(sb).toString)
    }

  private def scan(raw: UTF8String): InternalRow = {
    var at = false
    var digit = false
    var i = 0
    while (i < raw.numBytes) {
      val b = raw.getByte(i)
      if (b == '@') at = true
      else if (b >= '0' && b <= '9') digit = true
      i += 1
    }
    if (!at && !digit) return InternalRow(0, 0, 0, Tokens.decoded(raw))
    val s = raw.toString
    val (nEmails, t1) = if (at) step(Email, "<EMAIL>", s, s) else (0, s)
    val (nIps, t2) = if (digit) step(Ipv4, "<IP>", s, t1) else (0, t1)
    val (nPhones, t3) = if (digit) step(Phone, "<PHONE>", s, t2) else (0, t2)
    InternalRow(nEmails, nIps, nPhones,
      if (t3 eq s) Tokens.decoded(raw) else UTF8String.fromString(t3))
  }
}
