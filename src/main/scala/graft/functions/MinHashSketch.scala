package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** A document's MinHash sketch as ONE custom aggregate over one primitive
  * buffer: the `numHashes`-long signature and, with `withSet`, the
  * document's sorted distinct shingle set as `array<bigint>` — the two
  * things near-dup detection needs per document, in place of a signature
  * aggregate beside a `collect_set` (a sort-based `ObjectHashAggregate`
  * over boxed hash sets whose final merge deserializes every partial set).
  *
  * Input: one shingle per row, or a whole array of shingles per row (the
  * [[ShingleHashes]] array of a document, folded without an `explode`).
  * Null shingles and null arrays are skipped; rows of one group union.
  *
  * Hash family: `XxHash64Function.hash(value, seed = i)` for
  * i ∈ [0, numHashes) — deterministic and seed-indexed. Each seed hashes
  * the whole value again: xxhash64 mixes the seed in before the input, so
  * no per-row work is shared across seeds. A `bigint` shingle (the hashed
  * shingles every production caller feeds) runs a typed loop over
  * `XXH64.hashLong(v, i)` — the same values as the generic call, without
  * its per-call type dispatch. Signatures are therefore bit-identical
  * whichever form feeds them, and persisted `<name>_bands` tables keep
  * colliding with new batches. Candidates are re-verified with exact
  * Jaccard, so the family only needs to be a consistent min-wise hash.
  *
  * Set elements: a `bigint` shingle is itself; any other shingle is its
  * Spark `xxhash64` (seed 42), the value
  * [[graft.operators.Dedup.hashShingles]] gives it (collision chance over a
  * corpus' distinct shingles ~|S|²/2⁶⁴).
  *
  * Output: `withSet` gives `struct<sig, shingle_set>`, otherwise the
  * signature alone. An empty group signs as all `Long.MaxValue` with an
  * empty set: callers drop such documents before banding, or every empty
  * document would band with every other one.
  */
case class MinHashSketch(
    child: Expression,
    numHashes: Int,
    withSet: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinHashSketch.Buffer] {
  import MinHashSketch.Buffer

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (withSet) MinHashSketch.sketchType else MinHashSketch.longArray
  override def prettyName: String = if (withSet) "minhash_sketch" else "minhash_signature"

  override def createAggregationBuffer(): Buffer = {
    val buf = new Buffer(new Array[Long](numHashes + 16), numHashes, numHashes)
    java.util.Arrays.fill(buf.longs, 0, numHashes, Long.MaxValue)
    buf
  }

  /** The shingle type, resolved once per instance: the child's, or its
    * element type for an array child. */
  @transient private lazy val arrayChild: Boolean = child.dataType.isInstanceOf[ArrayType]
  @transient private lazy val shingleType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case dt => dt
  }
  @transient private lazy val longShingle: Boolean = shingleType == LongType

  private def addLong(buf: Buffer, l: Long): Unit = {
    val sig = buf.longs
    var i = 0
    while (i < numHashes) {
      val h = XXH64.hashLong(l, i.toLong)
      if (h < sig(i)) sig(i) = h
      i += 1
    }
    if (withSet) buf.append(l)
  }

  private def addOther(buf: Buffer, v: Any): Unit = {
    val sig = buf.longs
    var i = 0
    while (i < numHashes) {
      val h = XxHash64Function.hash(v, shingleType, i.toLong)
      if (h < sig(i)) sig(i) = h
      i += 1
    }
    if (withSet) buf.append(XxHash64Function.hash(v, shingleType, 42L))
  }

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v == null) buf
    else if (!arrayChild) {
      if (longShingle) addLong(buf, v.asInstanceOf[Long]) else addOther(buf, v)
      buf
    } else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          if (longShingle) addLong(buf, arr.getLong(j)) else addOther(buf, arr.get(j, shingleType))
        }
        j += 1
      }
      buf
    }
  }

  override def merge(a: Buffer, b: Buffer): Buffer = {
    var i = 0
    while (i < numHashes) { if (b.longs(i) < a.longs(i)) a.longs(i) = b.longs(i); i += 1 }
    i = numHashes
    while (i < b.n) { a.append(b.longs(i)); i += 1 }
    a
  }

  // primitive array copies out of the buffer: no per-element boxing
  override def eval(buf: Buffer): Any = {
    val sig = UnsafeArrayData.fromPrimitiveArray(buf.longs, Platform.LONG_ARRAY_OFFSET,
      numHashes, 8)
    if (!withSet) sig
    else {
      buf.sortDistinct()
      InternalRow(sig, UnsafeArrayData.fromPrimitiveArray(buf.longs,
        Platform.LONG_ARRAY_OFFSET + 8 * numHashes, buf.n - numHashes, 8))
    }
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    buf.sortDistinct()
    val bb = ByteBuffer.allocate(buf.n * 8)
    bb.asLongBuffer().put(buf.longs, 0, buf.n)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val longs = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(longs)
    new Buffer(longs, longs.length, numHashes)
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object MinHashSketch {
  import org.apache.spark.sql.graft.Bridge

  private val longArray = ArrayType(LongType, containsNull = false)
  private val sketchType = StructType(Seq(
    StructField("sig", longArray, nullable = false),
    StructField("shingle_set", longArray, nullable = false)))

  /** The aggregation buffer: `longs[0, numHashes)` is the signature,
    * `longs[numHashes, n)` the set's elements as added — unsorted and
    * possibly repeated until [[sortDistinct]] compacts them. */
  final class Buffer(var longs: Array[Long], var n: Int, setStart: Int) {
    def append(v: Long): Unit = {
      if (n == longs.length) longs = java.util.Arrays.copyOf(longs, 2 * longs.length + 16)
      longs(n) = v
      n += 1
    }

    def sortDistinct(): Unit = {
      java.util.Arrays.sort(longs, setStart, n)
      var w = setStart
      var r = setStart
      while (r < n) {
        if (w == setStart || longs(r) != longs(w - 1)) { longs(w) = longs(r); w += 1 }
        r += 1
      }
      n = w
    }
  }

  /** Signature and sorted distinct shingle set: `struct<sig, shingle_set>`. */
  def minhashSketch(c: Column, numHashes: Int): Column =
    Bridge.column(MinHashSketch(Bridge.expression(c), numHashes, withSet = true)
      .toAggregateExpression())

  /** The signature alone: `array<bigint>`. */
  def minhashSignature(c: Column, numHashes: Int): Column =
    Bridge.column(MinHashSketch(Bridge.expression(c), numHashes, withSet = false)
      .toAggregateExpression())
}
