package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.types.{DataType, LongType}

/** The count-min estimate of ONE span hash — [[SpanSketchProbe]]'s
  * scalar sibling: where the probe counts an ARRAY's elements passing a
  * threshold (the gate's fused form), this returns the raw per-hash
  * estimate, which the q_dedup_spans_sketch oracle fixture dumps row by
  * row. Same transport rationale as the probe: the counter matrix rides
  * a REAL Spark broadcast, so at [[graft.operators.Dedup
  * .sketchGeometryFor]]-sized geometries (width ∝ N₁, megabytes to
  * hundreds of megabytes of counters) the expression tree carries only
  * the handle — the `typedLit` Column form
  * ([[graft.operators.Dedup.spanSketchEstimate]], kept for the
  * equivalence specs at small widths) would serialize the whole matrix
  * into every task binary of the dump job.
  *
  * Bit-equivalence contract (spec-pinned): bucket `d` of hash `h` is
  * `pmod(xxhash64(d: INT, h: LONG), width)` at seed 42 — identical to
  * both the probe and the literal form — and the estimate is the min
  * over `depth` rows of the row-major matrix. A null hash yields a null
  * estimate (UnaryExpression's null propagation), preserving the
  * zero-span sentinel the fixture relies on.
  *
  * Not SQL-registered: closes over a [[Broadcast]] handle. */
case class SpanSketchValue(child: Expression,
                           counts: Broadcast[Array[Long]],
                           width: Int, depth: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType if width >= 1 && depth >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case LongType =>
      TypeCheckResult.TypeCheckFailure(
        s"span_sketch_value requires width >= 1 and depth >= 1, got width=$width depth=$depth")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"span_sketch_value requires a bigint span hash, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "span_sketch_value"

  @transient private lazy val depthSeeds: Array[Long] =
    Array.tabulate(depth)(d => XXH64.hashInt(d, 42L))

  override protected def nullSafeEval(input: Any): Any = {
    val h = input.asInstanceOf[Long]
    val m = counts.value
    val w = width.toLong
    var est = Long.MaxValue
    var d = 0
    while (d < depth) {
      val b = java.lang.Math.floorMod(XXH64.hashLong(h, depthSeeds(d)), w).toInt
      val c = m(d * width + b)
      if (c < est) est = c
      d += 1
    }
    est
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SpanSketchValue {
  import org.apache.spark.sql.graft.Bridge
  def estimate(h: Column, counts: Broadcast[Array[Long]],
               width: Int, depth: Int): Column =
    Bridge.column(SpanSketchValue(Bridge.expression(h), counts, width, depth))
}
