package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Count of a span-hash array's elements whose count-min-sketch estimate
  * is at least `minDocs` — the serving probe of
  * [[graft.operators.Dedup.spanStatsAgainstSketch]], fused into ONE
  * native pass with the counter matrix riding a REAL Spark broadcast.
  *
  * Why not the compose-from-built-ins form (`size(filter(spans, h =>
  * least(element_at(flatLit, …))))`, kept as
  * [[graft.operators.Dedup.spanSketchEstimate]] for fixtures and the
  * equivalence specs): a `typedLit` of the flattened counter matrix
  * embeds `depth × width` longs in the expression tree, and every
  * `element_at` reference serializes its own copy — at the default 4 ×
  * 2¹⁶ geometry that is a ~10 MiB task binary PER STAGE, re-shipped on
  * every serve, plus an interpreted lambda per span per depth. Here the
  * matrix crosses the wire once per executor as a broadcast variable
  * (the expression serializes only the handle — the same transport
  * [[graft.streaming.StreamingCurate.ShingleBloom]] rides), and the
  * probe is a tight long-array loop. At sketch widths sized for
  * 100 TB-scale span populations (the ~2·N₁/width error rule), the
  * literal form's task binary would grow with the sketch; the broadcast
  * handle stays bytes.
  *
  * Bit-equivalence contract with [[graft.operators.Dedup
  * .spanSketchEstimate]] (which q_dedup_spans_sketch's oracle fixture is
  * dumped through): bucket `d` of span `h` is
  * `pmod(xxhash64(d: INT, h: LONG), width)` — seed 42, the hash chain
  * folding left over the two typed args exactly as Spark's `xxhash64`
  * does — and the estimate is the min over `depth` rows of the row-major
  * matrix. Per-depth seeds are hoisted out of the row loop.
  *
  * Not SQL-registered: the expression closes over a [[Broadcast]]
  * handle, which a SQL call site cannot construct — use the Dedup
  * serving functions. */
case class SpanSketchProbe(child: Expression,
                           counts: Broadcast[Array[Long]],
                           width: Int, depth: Int, minDocs: Long)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if width >= 1 && depth >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"span_sketch_probe requires width >= 1 and depth >= 1, got width=$width depth=$depth")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"span_sketch_probe requires array<bigint> spans, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "span_sketch_probe"

  /** xxhash64(d) at seed 42 is row-constant; computing it per span would
    * double the hash work for a value the depth loop already fixes. */
  @transient private lazy val depthSeeds: Array[Long] =
    Array.tabulate(depth)(d => XXH64.hashInt(d, 42L))

  override protected def nullSafeEval(input: Any): Any = {
    val spans = input.asInstanceOf[ArrayData]
    val m = counts.value
    val w = width.toLong
    var hit = 0L
    var i = 0
    val n = spans.numElements()
    while (i < n) {
      val h = spans.getLong(i)
      var est = Long.MaxValue
      var d = 0
      while (d < depth && est >= minDocs) {
        val b = java.lang.Math.floorMod(XXH64.hashLong(h, depthSeeds(d)), w).toInt
        val c = m(d * width + b)
        if (c < est) est = c
        d += 1
      }
      if (est >= minDocs) hit += 1
      i += 1
    }
    hit
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SpanSketchProbe {
  import org.apache.spark.sql.graft.Bridge
  def indexedCount(spans: Column, counts: Broadcast[Array[Long]],
                   width: Int, depth: Int, minDocs: Long): Column =
    Bridge.column(SpanSketchProbe(Bridge.expression(spans), counts,
      width, depth, minDocs))
}
