package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared pieces of the bench's scale harnesses, without a Spark
  * session: the median-of-reps timer, the slope fits, the JSON record and
  * the harness table. */
class BenchHarnessSpec extends AnyFunSuite {
  import Bench.{Io, Point, Record, Timed}

  private def io(i: Int) = Io(i.toDouble, 0.0)

  test("summarize: upper median, min, max and the median rep's IO, on odd and even rep counts") {
    assert(Bench.summarize(Seq(3.0 -> io(0), 1.0 -> io(1), 2.0 -> io(2)), "r") ==
      Timed(2.0, 1.0, 3.0, io(2), "r"))
    // two middle reps (2.0 and 3.0): the upper one is the median
    assert(Bench.summarize(Seq(4.0 -> io(0), 1.0 -> io(1), 3.0 -> io(2), 2.0 -> io(3)), 7) ==
      Timed(3.0, 1.0, 4.0, io(2), 7))
    assert(Bench.summarize(Seq(5.0 -> io(0)), ()) == Timed(5.0, 5.0, 5.0, io(0), ()))
  }

  test("timed: `before` and `io` once per rep, the final rep's result, min <= secs <= max") {
    for (reps <- Seq(3, 4)) {
      var befores = 0; var ios = 0; var calls = 0
      val t = Bench.timed(reps, () => befores += 1, () => { ios += 1; io(ios) }) {
        calls += 1
        Thread.sleep(5L * calls)
        calls
      }
      assert((befores, ios, calls) == ((reps, reps, reps)))
      assert(t.last == reps)
      assert(t.min >= 0.005 && t.min <= t.secs && t.secs <= t.max)
      assert((1 to reps).map(io).contains(t.io))
    }
  }

  test("logLogSlope is 1.0 on a linear and 2.0 on a quadratic power law; segment slopes per step") {
    val sizes = Seq(1, 2, 4, 8, 16)
    assert(math.abs(Bench.logLogSlope(sizes, sizes.map(3.0 * _)) - 1.0) < 1e-12)
    assert(math.abs(Bench.logLogSlope(sizes, sizes.map(n => 0.5 * n * n)) - 2.0) < 1e-12)
    val seg = Bench.segmentSlopes(sizes, Seq(1.0, 2.0, 8.0, 16.0, 16.0))
    assert(seg.size == 4)
    seg.zip(Seq(1.0, 2.0, 1.0, 0.0)).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-12, seg)
    }
  }

  test("a rendered Record is JSON, keys in order, under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${0.5}%.3f" == "0,500", "the comma-decimal locale is in force")
      val pts = Seq(1, 2, 4).map(n =>
        Point("sizes" -> n, "docs" -> n * 10L, "secs" -> 0.25 * n, "mb" -> 10.0 * n,
          "trace" -> Seq(3L, 1L)))
      val json = Record.metric("m").put("reps", 3).cols(pts, "sizes", "docs")
        .secs(pts, "secs").mb(pts, "mb").cols(pts, "trace")
        .slope("slope", pts, "secs").segmentSlopes("segment_slopes", pts, "secs")
        .put("nested", new Record().num("x", 1.23456, "%.2f").put("ok", true)
          .put("names", Seq("a", "b")))
        .put("sf", "/data/sf0.1").render
      assert(json.contains(""""secs":[0.250,0.500,1.000]"""), json)
      assert(json.contains(""""mb":[10.00,20.00,40.00]"""), json)
      assert(json.contains(""""slope":1.000,"segment_slopes":[1.000,1.000]"""), json)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      import scala.jdk.CollectionConverters._
      assert(node.fieldNames.asScala.toSeq == Seq("metric", "reps", "sizes", "docs", "secs",
        "mb", "trace", "slope", "segment_slopes", "nested", "sf"))
      assert(node.get("trace").get(2).get(1).asLong == 1L)
      assert(node.get("nested").get("x").asDouble == 1.23)
      assert(node.get("nested").get("names").get(1).asText == "b")
      assert(node.get("sf").asText == "/data/sf0.1")
      // a double renders only through an explicit format
      intercept[IllegalArgumentException](new Record().put("x", 0.5))
    } finally java.util.Locale.setDefault(saved)
  }

  test("harness table: env names and files unique, and the committed bench_scale*.json " +
    "artifacts are exactly the files the harnesses write") {
    val hs = Bench.harnesses
    assert(hs.map(_.env).distinct.size == hs.size)
    assert(hs.map(_.file).distinct.size == hs.size)
    assert(hs.forall(_.env.startsWith("SPARK_GRAFT_SCALE_")))
    assert(new java.io.File("build.sbt").exists, "runs from the repository root")
    val committed = new java.io.File(".").listFiles.map(_.getName)
      .filter(n => n.startsWith("bench_scale") && n.endsWith(".json")).toSeq
    assert(committed.nonEmpty)
    assert(hs.map(_.file).sorted == committed.sorted)
  }
}
