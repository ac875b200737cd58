package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The fixture registry every per-dir corpus, model and layout of
  * [[SparkEntry]] goes through: exactly-once builds under concurrency,
  * stable per-dir names, the epoch-stamped reuse marker, and the model
  * store codecs. Only the codec cases start a Spark session. */
class FixtureRegistrySpec extends SparkSpec {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-fixtures").toString

  private def registry(root: String, epoch: String = "e1",
                       reuse: Boolean = true): FixtureRegistry =
    new FixtureRegistry(epoch, reuse, root)

  test("8 threads on one cold key run the build once and share its value") {
    val reg = registry(tmpRoot())
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val results = (1 to 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          reg.memo("m", "/data/sf1") {
            builds.incrementAndGet()
            Thread.sleep(50) // hold the build open while the others arrive
            new Object
          }
        }
      })
    }
    start.countDown()
    val values = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(builds.get == 1)
    assert(values.forall(_ eq values.head))
  }

  test("concurrent first calls of one layout write it once") {
    val reg = registry(tmpRoot())
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    val paths = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String = reg.layout("q-x", "/data/sf1") { _ =>
        builds.incrementAndGet(); Thread.sleep(50)
      }
    })).map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(builds.get == 1 && paths.distinct.size == 1)
    assert(reg.builds.get == 1 && reg.reuses.get == 0)
  }

  test("two dirs get two paths and tables; one (name, dir) always the same") {
    val root = tmpRoot()
    val reg = registry(root)
    val (a, b) = ("/data/sf0.01", "/data/sf0.1")
    assert(reg.path("q-x", a) != reg.path("q-x", b))
    assert(reg.path("q-x", a) == reg.path("q-x", a))
    assert(reg.path("q-x", a) == registry(root).path("q-x", a))
    assert(reg.path("q-x", a) ==
      new File(s"$root/q-x/${FixtureRegistry.dirKey(a)}").getAbsolutePath)
    val ta = reg.table("banded_ix", a)(_ => ())
    val tb = reg.table("banded_ix", b)(_ => ())
    assert(ta != tb && ta == reg.table("banded_ix", a)(_ => fail("rebuilt")))
    assert(ta == s"graft_q_banded_ix_${FixtureRegistry.dirKey(a)}")
    // the full md5, not a 32-bit hash
    assert(FixtureRegistry.dirKey(a).matches("[0-9a-f]{32}"))
  }

  test("a stale-epoch marker rebuilds; a fresh one is reused only with reuse on") {
    val root = tmpRoot()
    val dir = "/data/sf1"
    def build(reg: FixtureRegistry, builds: AtomicInteger) =
      reg.layout("q-x", dir) { p =>
        builds.incrementAndGet(); new File(p).mkdirs()
      }
    val n = new AtomicInteger
    val p = build(registry(root, "e1"), n)
    assert(n.get == 1)
    assert(new String(Files.readAllBytes(new File(p, FixtureRegistry.Marker).toPath),
      "UTF-8") == "e1")
    // a fresh JVM of the same epoch, reuse on: served from disk
    val warm = registry(root, "e1")
    build(warm, n)
    assert(n.get == 1 && warm.reuses.get == 1 && warm.builds.get == 0)
    assert(warm.markerFresh(p))
    // the same epoch with reuse off (the bench): rebuilt
    build(registry(root, "e1", reuse = false), n)
    assert(n.get == 2)
    // a recipe change: the marker reads stale and the layout is rebuilt
    val next = registry(root, "e2")
    assert(!next.markerFresh(p))
    build(next, n)
    assert(n.get == 3 && next.builds.get == 1)
    assert(next.markerFresh(p))
  }

  test("a build that throws leaves no marker and no value; the next call retries") {
    val root = tmpRoot()
    val reg = registry(root)
    val dir = "/data/sf1"
    // a completed layout from an earlier JVM, then a rebuild of the SAME
    // epoch that crashes (reuse off, as in the bench): the fresh marker
    // must not survive over the half-written files
    registry(root).layout("q-x", dir)(p => new File(p).mkdirs())
    val crashing = registry(root, reuse = false)
    intercept[IllegalStateException] {
      crashing.layout("q-x", dir) { _ => throw new IllegalStateException("boom") }
    }
    assert(!new File(crashing.path("q-x", dir), FixtureRegistry.Marker).exists())
    assert(crashing.layout("q-x", dir)(p => new File(p).mkdirs()) ==
      crashing.path("q-x", dir))
    assert(crashing.markerFresh(crashing.path("q-x", dir)))
    // in memory: nothing cached after a throw
    intercept[IllegalStateException] {
      reg.memo("m", dir)(throw new IllegalStateException("boom"))
    }
    assert(reg.memo("m", dir)("second") == "second")
    // a whole fixture tree: the marker names (epoch, dir), is gone after
    // a crash, and a different dir rebuilds
    val tree = s"$root/tree"
    val trees = new AtomicInteger
    reg.tree(tree, dir)(trees.incrementAndGet())
    reg.tree(tree, dir)(trees.incrementAndGet())
    assert(trees.get == 1)
    reg.tree(tree, "/data/other")(trees.incrementAndGet())
    assert(trees.get == 2)
    intercept[IllegalStateException] {
      reg.tree(tree, dir)(throw new IllegalStateException("boom"))
    }
    assert(!new File(tree, FixtureRegistry.Marker).exists())
    reg.tree(tree, dir)(trees.incrementAndGet())
    assert(trees.get == 3)
  }

  test("model-store codecs round-trip bit for bit and refuse a broken store") {
    val root = tmpRoot()
    val dir = "/data/sf1"
    val rnd = new scala.util.Random(7)
    val m = Array.fill(5, 4)(rnd.nextGaussian())
    m(0)(0) = -0.0
    m(1)(1) = Double.MinPositiveValue
    val cb = graft.operators.Similarity.PqCodebooks(Array.fill(3, 6, 2)(rnd.nextGaussian()))
    val mStore = s"$root/m"
    val cbStore = s"$root/cb"
    // a second dir's rows in the same store are ignored on read
    ModelStore.Centroids.rows(spark, m, dir)
      .union(ModelStore.Centroids.rows(spark, Array(Array(9.0, 9.0)), "/data/other"))
      .write.parquet(mStore)
    ModelStore.Codebooks.rows(spark, cb, dir).write.parquet(cbStore)
    val m2 = ModelStore.Centroids.read(spark, mStore, dir, "spec")
    assert(m2.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq ==
      m.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq)
    val cb2 = ModelStore.Codebooks.read(spark, cbStore, dir, "spec")
    assert(cb2.codebooks.map(_.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq).toSeq ==
      cb.codebooks.map(_.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq).toSeq)
    val rot = ModelStore.Rotation.rows(spark, m, dir)
    assert(rot.columns.toSeq == Seq("i", "rowv", "dir"))
    // no rows for the dir
    val e1 = intercept[IllegalArgumentException](
      ModelStore.Codebooks.read(spark, cbStore, "/data/none", "pqCodebooks"))
    assert(e1.getMessage.contains("pqCodebooks: ") &&
      e1.getMessage.contains("holds no rows for dir=/data/none"))
    // a crashed dump: no _SUCCESS
    Files.delete(new File(mStore, "_SUCCESS").toPath)
    val e2 = intercept[IllegalArgumentException](
      ModelStore.Centroids.read(spark, mStore, dir, "kmeansCentroids"))
    assert(e2.getMessage.contains(s"kmeansCentroids: $mStore exists without _SUCCESS"))
  }

  test("a model store stamped with another epoch, or not at all, is refit; " +
    "a current one is read") {
    val root = tmpRoot()
    val dir = "/data/sf1"
    val (rotStore, cbStore) = (s"$root/rot", s"$root/cb")
    val persisted = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val refit = Array(Array(5.0, 6.0))
    Seq(rotStore, cbStore).foreach(st =>
      ModelStore.Rotation.rows(spark, persisted, dir).coalesce(1).write.parquet(st))
    var fits = 0
    def load(reg: FixtureRegistry, stores: String*): Seq[Seq[Double]] =
      reg.stored(stores: _*) { fits += 1; refit }(
        ModelStore.Rotation.read(spark, stores.head, dir, "spec"))
        .map(_.toSeq).toSeq
    val current = registry(root, "e1")
    // written before stores were stamped
    assert(load(current, rotStore) == refit.map(_.toSeq).toSeq && fits == 1)
    registry(root, "e0").stamp(rotStore)
    assert(load(current, rotStore) == refit.map(_.toSeq).toSeq && fits == 2,
      "a store of another epoch must be refit")
    current.stamp(rotStore)
    assert(load(current, rotStore) == persisted.map(_.toSeq).toSeq && fits == 2,
      "a store of the current epoch must be read")
    assert(load(registry(root, "e1", reuse = false), rotStore) ==
      persisted.map(_.toSeq).toSeq, "model stores do not depend on layout reuse")
    // a model held in two stores is read only when both are current
    assert(load(current, rotStore, cbStore) == refit.map(_.toSeq).toSeq && fits == 3)
    current.stamp(cbStore)
    assert(load(current, rotStore, cbStore) == persisted.map(_.toSeq).toSeq &&
      fits == 3)
  }
}
