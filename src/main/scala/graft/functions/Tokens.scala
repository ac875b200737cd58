package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The whitespace tokens of one text, located in its UTF-8 bytes — the ONE
  * tokenizer of the native text kernels ([[ShingleHashes]],
  * [[ShingleHashesAll]], [[SimHash64]], [[QualityCounts]]).
  *
  * Contract: tokens are the maximal runs of characters that are not Java
  * regex `\s` (space, `\t`, `\n`, `\u000B`, `\f`, `\r`) — exactly the
  * non-empty pieces of `split(text, "\\s+")`, so the same tokens as
  * [[graft.operators.TextAnalysis.tokens]] (`Character.isWhitespace`
  * would also split on Unicode spaces). The six separators are ASCII
  * bytes, which never occur inside a multi-byte UTF-8 character, so the
  * scan works on bytes.
  *
  * Spark's `split` decodes its input with `toString`, which replaces each
  * malformed UTF-8 sequence with U+FFFD. [[Tokens.apply]] re-encodes
  * non-ASCII input the same way once per text (`fromString(toString)`),
  * so `text` holds the bytes `split` sees and token `i` — bytes
  * `[start(i), end(i))` of `text` — is the UTF-8 of the `i`-th token
  * `split` returns. */
final class Tokens private (val text: UTF8String, val count: Int,
                            bounds: Array[Int]) {

  @inline def start(i: Int): Int = bounds(2 * i)
  @inline def end(i: Int): Int = bounds(2 * i + 1)

  /** Spark's `xxhash64` of token `i` (seed 42). */
  def hash(i: Int): Long =
    XXH64.hashUnsafeBytes(text.getBaseObject, text.getBaseOffset + start(i),
      end(i) - start(i), 42L)

  /** Spark's `xxhash64` (seed 42) of each word `k`-gram — tokens
    * `i until i + k` joined by one space — indexed by its first token `i`.
    * Fewer than `k` tokens give the whole token list as one gram; a blank
    * text gives none. */
  def gramHashes(k: Int): Array[Long] = {
    if (count == 0) return Array.emptyLongArray
    val out = new Array[Long](math.max(count - k, 0) + 1)
    // the tokens joined by single spaces, once per text: each gram is then
    // one byte range of `joined`, which is never longer than the text
    // (every separator it replaces with one space is at least one byte).
    // Token t starts at at(t) in `joined`.
    val joined = new Array[Byte](text.numBytes)
    val at = new Array[Int](count)
    var len = 0
    var t = 0
    while (t < count) {
      if (t > 0) { joined(len) = ' '; len += 1 }
      at(t) = len
      val n = end(t) - start(t)
      Platform.copyMemory(text.getBaseObject, text.getBaseOffset + start(t),
        joined, Platform.BYTE_ARRAY_OFFSET + len, n)
      len += n
      t += 1
    }
    var i = 0
    while (i < out.length) {
      val last = math.min(i + k, count) - 1
      val gramEnd = at(last) + end(last) - start(last)
      out(i) = XXH64.hashUnsafeBytes(joined, Platform.BYTE_ARRAY_OFFSET + at(i),
        gramEnd - at(i), 42L)
      i += 1
    }
    out
  }
}

object Tokens {

  /** Exactly the byte values of Java regex `\s`: space and `\t`..`\r`. */
  @inline def isWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  def apply(raw: UTF8String): Tokens = {
    val text = decoded(raw)
    val n = text.numBytes
    var bounds = new Array[Int](32)
    var count = 0
    var p = 0
    while (p < n) {
      while (p < n && isWs(text.getByte(p))) p += 1
      if (p < n) {
        val s = p
        while (p < n && !isWs(text.getByte(p))) p += 1
        if (2 * count + 2 > bounds.length)
          bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
        bounds(2 * count) = s
        bounds(2 * count + 1) = p
        count += 1
      }
    }
    new Tokens(text, count, bounds)
  }

  /** `raw` as Spark's string built-ins see it: ASCII text as is, any other
    * text through `fromString(toString)`, which replaces malformed
    * sequences with U+FFFD and leaves well-formed UTF-8 unchanged. */
  def decoded(raw: UTF8String): UTF8String = {
    val n = raw.numBytes
    var i = 0
    while (i < n) {
      if (raw.getByte(i) < 0) return UTF8String.fromString(raw.toString)
      i += 1
    }
    raw
  }
}
