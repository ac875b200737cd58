package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The LSH band hashes of a MinHash signature in one compiled pass —
  * element `b` is exactly Spark's
  * `xxhash64(slice(sig, b·rowsPerBand + 1, rowsPerBand), b)`, the
  * higher-order form [[graft.operators.Dedup.bandedSignatures]] used to
  * evaluate with an interpreted lambda per band.
  *
  * Bit-equivalence contract (spec-pinned): `xxhash64` folds its arguments
  * left from seed 42, an array element by element, skipping nulls. So
  * band `b` is `XXH64.hashInt(b, h)`, where `h` folds `XXH64.hashLong`
  * over the band's slice starting from 42. A slice past the end of the
  * signature is cut short or empty, and a null signature hashes as an
  * empty one, both as `slice` and `xxhash64` treat them. Persisted
  * `<name>_bands` tables written with the higher-order form therefore keep
  * colliding with batches banded here. The result is never null. */
case class BandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bands >= 1 && rowsPerBand >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"band_hashes requires bands >= 1 and rowsPerBand >= 1, got bands=$bands rowsPerBand=$rowsPerBand")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"band_hashes requires array<bigint>, got ${other.simpleString}")
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def eval(input: InternalRow): Any = {
    val sig = child.eval(input).asInstanceOf[ArrayData]
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = b * rowsPerBand
      val stop = math.min(i + rowsPerBand, n)
      while (i < stop) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = XXH64.hashInt(b, h)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BandHashes {
  import org.apache.spark.sql.graft.Bridge
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(BandHashes(Bridge.expression(sig), bands, rowsPerBand))
}
