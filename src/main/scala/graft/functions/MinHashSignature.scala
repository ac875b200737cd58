package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64, XxHash64Function}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature as a single custom aggregate: one `Array[Long]`
  * buffer updated in one pass per input row, merged elementwise — instead
  * of `numHashes` separate `min(xxhash64(...))` aggregate expressions
  * (which widen the aggregation operator past codegen limits and evaluate
  * `numHashes` independent expression trees per row).
  *
  * Hash family: `XxHash64Function.hash(value, seed = i)` for
  * i ∈ [0, numHashes) — deterministic and seed-indexed. Each seed hashes
  * the whole value again: xxhash64 mixes the seed in before the input, so
  * no per-row work is shared across seeds. The child type is resolved once
  * per instance: a `bigint` child (the hashed shingles every production
  * caller feeds) runs a typed loop over `XXH64.hashLong(v, i)` — the same
  * values as the generic call, without its per-call type dispatch — and
  * any other type keeps the generic call.
  * Signature values are internal to the LSH pipeline (candidates are
  * re-verified with exact Jaccard), so the family only needs to be a
  * consistent min-wise hash, which this is.
  */
case class MinHashSignature(
    child: Expression,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](numHashes)
    java.util.Arrays.fill(buf, Long.MaxValue)
    buf
  }

  @transient private lazy val longChild: Boolean = child.dataType == LongType

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      var i = 0
      if (longChild) {
        val l = v.asInstanceOf[Long]
        while (i < numHashes) {
          val h = XXH64.hashLong(l, i.toLong)
          if (h < buf(i)) buf(i) = h
          i += 1
        }
      } else {
        val dt = child.dataType
        while (i < numHashes) {
          val h = XxHash64Function.hash(v, dt, i.toLong)
          if (h < buf(i)) buf(i) = h
          i += 1
        }
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  // primitive array copies: no per-element boxing
  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashSignature =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashSignature =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object MinHashSignature {
  import org.apache.spark.sql.graft.Bridge

  def minhashSignature(c: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(c), numHashes)
      .toAggregateExpression())
}
