package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructField

/** One table of every per-data-dir fixture [[SparkEntry]] builds: the
  * persisted corpora, models and serving layouts its queries read, and
  * the in-JVM values derived from them. Each entry is keyed by
  * (name, dir) and built at most once per JVM.
  *
  *  - [[memo]] holds a value in memory only;
  *  - [[table]] names a catalog table `graft_q_<name>_<md5(dir)>`;
  *  - [[layout]] names a path `<root>/<name>/<md5(dir)>` and writes the
  *    epoch-stamped completion marker, so with `reuse` on a later JVM
  *    serves the files a completed build left instead of rebuilding;
  *  - [[tree]] applies that marker rule to a whole fixture tree that
  *    describes one dir;
  *  - [[stored]] reads a store its caller wrote and [[stamp]]ed only
  *    while the stamp is current.
  *
  * `epoch` is the recipe hash every marker records: a marker from any
  * other epoch reads as stale. `reuse` is read on every build, so a
  * caller may switch it before first use. */
final class FixtureRegistry(epoch: => String, reuse: => Boolean,
                            root: String = "target") {
  import FixtureRegistry._

  private val values = new ConcurrentHashMap[(String, String), AnyRef]()
  private val locks = new ConcurrentHashMap[(String, String), Object]()

  /** Layout builds and reuses since this registry was made, printed by
    * [[Verify]] so a log shows whether the gate served persisted
    * fixtures or rebuilt them. */
  val builds = new AtomicLong
  val reuses = new AtomicLong

  /** The value for (name, dir), built exactly once per JVM. A
    * concurrent first access would otherwise run `build` twice — for a
    * persisted layout, two racing overwrite writes — so a first access
    * builds under a per-key lock while a hit takes no lock. This is what
    * makes the registry safe for [[Verify]]'s parallel dump loop. A build
    * that throws caches nothing; the next call retries. */
  def memo[V](name: String, dir: String)(build: => V): V = {
    val key = (name, dir)
    val hit = values.get(key)
    if (hit != null) hit.asInstanceOf[V]
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = values.get(key)
      if (again != null) again.asInstanceOf[V]
      else {
        val v = build
        values.put(key, v.asInstanceOf[AnyRef])
        v
      }
    }
  }

  /** Absolute path `<root>/<name>/<md5(dir)>`. */
  def path(name: String, dir: String): String =
    new File(s"$root/$name/${dirKey(dir)}").getAbsolutePath

  /** Catalog table `graft_q_<name>_<md5(dir)>`, built once per JVM by
    * `build(table)`. Catalog tables carry no marker: they are rebuilt in
    * every JVM. */
  def table(name: String, dir: String)(build: String => Unit): String = {
    val t = s"graft_q_${name}_${dirKey(dir)}"
    memo(t, dir) { build(t); t }
  }

  /** Persisted layout at [[path]]: `build(path)` writes it unless reuse
    * is on and a marker of the current epoch is there. */
  def layout(name: String, dir: String)(build: String => Unit): String =
    loadLayout(name, dir)(build)(identity)

  /** [[layout]], then `read` the built or reused files once per JVM —
    * for models the queries hold in memory. */
  def loadLayout[V](name: String, dir: String)(build: String => Unit)(
      read: String => V): V = {
    val p = path(name, dir)
    memo(p, dir) {
      if (stamped(new File(p, Marker), epoch)(build(p))) builds.incrementAndGet()
      else reuses.incrementAndGet()
      read(p)
    }
  }

  /** Runs `build` for a fixture tree under `treeRoot` that describes
    * exactly one dir, unless reuse is on and the tree's marker records
    * (epoch, dir). Not counted in [[builds]]/[[reuses]]. */
  def tree(treeRoot: String, dir: String)(build: => Unit): Unit =
    stamped(new File(treeRoot, Marker), s"$epoch $dir")(build)

  /** True when `p` carries a marker of the current epoch. */
  def markerFresh(p: String): Boolean = fresh(new File(p, Marker), epoch)

  /** A value persisted in stores a caller writes itself (the learned-model
    * stores): `read` when every store carries a marker of the current
    * epoch, else `fit`. A store from another epoch, or one written
    * before stores were stamped, reads as absent, so a recipe change is
    * refit instead of served from the old matrices. The writer calls
    * [[stamp]] after each store completes. */
  def stored[V](stores: String*)(fit: => V)(read: => V): V =
    if (stores.forall(markerFresh)) read else fit

  /** Marks the completed store at `p` with the current epoch. */
  def stamp(p: String): Unit = writeMarker(new File(p, Marker), epoch)

  private def writeMarker(marker: File, stamp: String): Unit = {
    marker.getParentFile.mkdirs()
    Files.write(marker.toPath, stamp.getBytes("UTF-8"))
  }

  private def fresh(marker: File, stamp: String): Boolean =
    marker.exists() &&
      new String(Files.readAllBytes(marker.toPath), "UTF-8") == stamp

  /** Skips `build` when reuse is on and `marker` holds `stamp`. Otherwise
    * deletes the marker, builds, and writes the marker LAST, so a build
    * that throws leaves no marker and the next run rebuilds. True when
    * it built. */
  private def stamped(marker: File, stamp: String)(build: => Unit): Boolean =
    if (reuse && fresh(marker, stamp)) false
    else {
      Files.deleteIfExists(marker.toPath)
      build
      writeMarker(marker, stamp)
      true
    }
}

object FixtureRegistry {
  /** Completion-marker file name inside a layout or fixture tree. */
  val Marker = "_GRAFT_COMPLETE"

  /** Full-width per-dir key: md5 of the dir string. `String.hashCode`
    * (32 bits) invited a silent collision class — two dirs sharing one
    * physical index and serving each other's corpus with no error. */
  def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** The learned-model stores: [[graft.operators.QuantizerTables]]' rows
  * plus a `dir` column, one dir's rows per store, and a reader takes
  * only that dir's rows. A store without `_SUCCESS` is a crashed dump
  * and one without rows for the dir is corrupt; both fail loudly rather
  * than let a caller refit a matrix that differs from the one the oracle
  * fixtures were made from. */
private[graft] object ModelStore {
  import graft.operators.QuantizerTables

  /** A matrix store: the codec's `(idx, vec)` rows plus `dir`. */
  final case class Matrix(codec: QuantizerTables.Matrix) {
    def rows(s: SparkSession, m: Array[Array[Double]], dir: String): DataFrame =
      codec.rows(s, m, Some(dir))

    def read(s: SparkSession, store: String, dir: String,
             who: String): Array[Array[Double]] =
      codec.decode(storeRows(s, store, dir, who, codec.fields))
  }

  val Centroids = Matrix(QuantizerTables.Centroids)
  val Rotation = Matrix(QuantizerTables.Rotation)

  /** PQ codebooks: the codec's `(j, c, centroid)` rows plus `dir`. */
  object Codebooks {
    private val codec = QuantizerTables.Codebooks

    def rows(s: SparkSession, cb: graft.operators.Similarity.PqCodebooks,
             dir: String): DataFrame =
      codec.rows(s, cb, Some(dir))

    def read(s: SparkSession, store: String, dir: String,
             who: String): graft.operators.Similarity.PqCodebooks =
      codec.decode(storeRows(s, store, dir, who, codec.fields))
  }

  private def storeRows(s: SparkSession, store: String, dir: String, who: String,
                        fields: Seq[StructField]): Array[Row] = {
    require(new File(store, "_SUCCESS").exists(),
      s"$who: $store exists without _SUCCESS - crashed fixture dump; " +
        "re-run Verify (prepareOracleFixtures) for this dir")
    val rows = s.read.parquet(store).filter(col("dir") === dir)
      .select(fields.map(f => col(f.name)): _*).collect()
    require(rows.nonEmpty,
      s"$who: $store holds no rows for dir=$dir - corrupt fixture dump; " +
        "re-run Verify for this dir")
    rows
  }
}
