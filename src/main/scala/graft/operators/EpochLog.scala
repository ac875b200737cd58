package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** The epoch-commit log shared by every epoch-committed index layout —
  * the banded, span and hash indexes ([[Dedup]]), learned IVF, PQ and
  * OPQ ([[Similarity]]) and the semantic-dedup gate
  * ([[graft.streaming.SemDedupIngest]]). This is the only code that reads
  * or writes a commit record; the layouts own their data rows, this owns
  * which of them exist. A small transaction log on the model of Delta
  * Lake's (Armbrust et al., VLDB 2020), whose reference ancestor is the
  * appender's read-concat-replace compaction (step-1/appender.py:215-323).
  *
  * The record is `(build_id bigint, key string)`, one row per committed
  * build, append or delete. It lives in one of two places, the only thing
  * a log varies on: a catalog table `<name>_meta` with tombstones in
  * `<name>_tombs` ([[EpochLog.table]]), or a directory `<path>/_epochs`
  * with tombstones in `<path>/_tombstones` ([[EpochLog.directory]]; the
  * underscore keeps both out of the data read).
  *
  * Crash story, for every layout on the log:
  *  - '''Commit last.''' Every write stamps its rows with a fresh
  *    `build_id` ([[EpochLog.newEpoch]]) and appends that epoch to the
  *    record only after the rows are complete; a rebuild overwrites the
  *    record last. Readers filter rows to the committed epochs — a
  *    pushed-down predicate over a per-file-constant column, so parquet
  *    row-group stats skip uncommitted files wholesale, no extra shuffle.
  *  - '''Orphans are invisible.''' A crash before the commit leaves rows
  *    at an epoch no record lists; serving never sees them, and the next
  *    compaction's snapshot collects their files. A crashed rebuild leaves
  *    a record whose epochs the overwritten data no longer holds, and the
  *    layouts' committed-row probes refuse that loudly. A missing or empty
  *    record refuses with an error naming the operation and its rebuilder.
  *  - '''Keyed retries land exactly once.''' A keyed append writes its
  *    idempotency key (a `foreachBatch` batch id: same offsets, same rows
  *    on replay) in its commit row. A committed key no-ops the replay; a
  *    crashed attempt committed nothing, so its retry lands under a fresh
  *    epoch. Keys survive compaction, re-pointed at the merged epoch, so a
  *    replay from before the compaction still reads as delivered.
  *  - '''Tombstones are epoch-scoped.''' A delete writes ids under a fresh
  *    epoch and commits it like an append. A tombstone hides only rows of
  *    strictly older epochs, so delete-then-re-append serves the new row
  *    with no bookkeeping at append time.
  *  - '''Compaction is snapshot → merge → recommit → GC''' ([[compact]]).
  *    The data-file snapshot is taken first and is exactly what the merge
  *    reads and what GC deletes. The merge lands as an append under a
  *    fresh epoch, invisible until the record is overwritten to list only
  *    that epoch (the recommit, the commit point). A crash before it
  *    leaves the old epochs serving; after it, the snapshot's rows are
  *    invisible, so deleting their files and the tombstones is pure GC and
  *    a crash mid-delete leaves orphans for the next compaction.
  *  - '''Single writer.''' The recommit re-reads the record just before
  *    the overwrite and refuses if its epochs changed since the snapshot
  *    (an append or delete committed meanwhile would otherwise vanish from
  *    the record, its rows turned into orphans). The record is then left
  *    untouched, and the merged rows stay orphans for the next compaction.
  *    This narrows the race window but does not close it: it is a check,
  *    not a lease, so appends must still pause around compaction. */
final class EpochLog private (spark: SparkSession, name: String,
                              inCatalog: Boolean) {
  import spark.implicits._

  private val record = if (inCatalog) s"${name}_meta" else s"$name/_epochs"
  private val tombs = if (inCatalog) s"${name}_tombs" else s"$name/_tombstones"

  private def load(at: String): DataFrame =
    if (inCatalog) spark.table(at) else spark.read.parquet(at)

  private def save(w: DataFrameWriter[Row], at: String): Unit =
    if (inCatalog) w.saveAsTable(at) else w.parquet(at)

  /** Whether the record exists at all — false for a layout never built. */
  def exists: Boolean =
    if (inCatalog) spark.catalog.tableExists(record)
    else EpochLog.hasMarker(spark, record)

  private def requireRecord(op: String, rebuilder: String): Unit =
    if (inCatalog)
      require(exists, s"$op: $record does not exist - no index was built " +
        s"under this name; run $rebuilder first")
    else EpochLog.requireMarker(spark, record, op, "the index has no " +
      "committed-epochs record (crashed rebuild, or a path not written by " +
      s"$rebuilder) - re-run $rebuilder")

  private def epochsOf(log: DataFrame): Seq[Long] =
    log.select("build_id").distinct().collect().map(_.getLong(0)).toSeq

  private def write(rows: Seq[(Long, Option[String])], mode: String): Unit =
    save(rows.toDF("build_id", "key").coalesce(1).write.mode(mode), record)

  /** The committed epochs, possibly none (a fresh semantic-dedup gate).
    * Distinct: after a compaction every surviving key points at the one
    * merged epoch. */
  def committedOrEmpty(op: String, rebuilder: String): Seq[Long] = {
    requireRecord(op, rebuilder)
    epochsOf(load(record))
  }

  /** The committed epochs of a built index: refuses a missing or empty
    * record, naming `op` and its `rebuilder`. */
  def committed(op: String, rebuilder: String): Seq[Long] = {
    val eps = committedOrEmpty(op, rebuilder)
    require(eps.nonEmpty,
      if (inCatalog) s"$op: $record lists no committed builds - run $rebuilder first"
      else s"$op: _epochs at $name lists no committed builds - re-run $rebuilder")
    eps
  }

  /** Whether a keyed append under `key` already committed. */
  def keyCommitted(key: String, op: String, rebuilder: String): Boolean = {
    requireRecord(op, rebuilder)
    val log = load(record)
    log.columns.contains("key") &&
      log.filter(col("key") === key).limit(1).collect().nonEmpty
  }

  /** Commit `epoch` — call after its rows are complete. */
  def append(epoch: Long, key: Option[String] = None): Unit =
    write(Seq((epoch, key)), "append")

  /** Replace the record with exactly `epochs` (a rebuild commits one; a
    * fresh empty record takes none). */
  def overwrite(epochs: Long*): Unit =
    write(epochs.map(e => (e, Option.empty[String])), "overwrite")

  /** `rows` restricted to the committed epochs. */
  def committedRows(rows: DataFrame, committed: Seq[Long]): DataFrame =
    rows.filter(col("build_id").isin(committed: _*))

  /** Delete `ids` (a one-column frame named like the data's id column):
    * tombstones under a fresh epoch, then the commit. Refuses a layout
    * with no committed builds before writing into it. */
  def tombstone(ids: DataFrame, op: String, rebuilder: String): Unit = {
    committed(op, rebuilder)
    val epoch = EpochLog.newEpoch()
    save(ids.distinct().withColumn("build_id", lit(epoch))
      .coalesce(1).write.mode("append"), tombs)
    append(epoch)
  }

  /** `rows` minus every row a committed tombstone covers: same id, and an
    * epoch strictly older than the tombstone's. The tombstone side is ids
    * only, so it is broadcast and the index side never shuffles. */
  def withoutTombstones(rows: DataFrame, idCol: String,
                        committed: Seq[Long]): DataFrame = {
    val present =
      if (inCatalog) spark.catalog.tableExists(tombs)
      else EpochLog.dataFiles(spark, new Path(tombs)).nonEmpty
    if (!present) rows
    else {
      val t = committedRows(load(tombs), committed)
        .select(col(idCol).as("__tomb_id"), col("build_id").as("__tomb_epoch"))
      rows.join(broadcast(t),
        rows(idCol) === t("__tomb_id") && rows("build_id") < t("__tomb_epoch"),
        "left_anti")
    }
  }

  /** What serving sees: committed rows no committed tombstone covers. */
  def liveRows(rows: DataFrame, idCol: String,
               committed: Seq[Long]): DataFrame =
    withoutTombstones(committedRows(rows, committed), idCol, committed)

  /** The `_`/`.`-filtered data files of `dataset` — a catalog table for a
    * table log, a directory for a directory log. */
  private[graft] def dataFiles(dataset: String): Seq[String] =
    EpochLog.dataFiles(spark,
      if (!inCatalog) new Path(dataset)
      else new Path(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(dataset)).location))

  /** Overwrite the record to list only `merged`, re-pointing every
    * surviving key at it — the compaction commit point. Refuses, leaving
    * the record untouched, if its epochs are no longer `snapshot`: some
    * other writer committed after the compaction took its snapshot. */
  private[graft] def recommit(snapshot: Seq[Long], merged: Long,
                              op: String): Unit = {
    val log = load(record)
    val now = epochsOf(log)
    if (now.toSet != snapshot.toSet)
      throw new IllegalStateException(s"$op: $record changed since the " +
        s"compaction snapshot (committed now: ${now.sorted.mkString(", ")}; " +
        s"snapshot: ${snapshot.sorted.mkString(", ")}) - compaction is " +
        "single-writer; the record is unchanged and the merged rows stay " +
        "orphans for the next compaction")
    val keys =
      if (!log.columns.contains("key")) Seq.empty
      else log.filter(col("key").isNotNull).select("key").collect()
        .map(_.getString(0)).toSeq
    write((merged, Option.empty[String]) +: keys.map(k => (merged, Option(k))),
      "overwrite")
  }

  /** Snapshot → merge → recommit → GC over the data files of `datasets`.
    * `merge(committed, epoch, snapshot)` must append the committed rows
    * of the snapshot files (one file list per dataset) under `epoch`,
    * tombstoned rows dropped; it also runs the layout's own probes. */
  def compact(op: String, rebuilder: String, datasets: String*)
             (merge: (Seq[Long], Long, Seq[Seq[String]]) => Unit): Unit = {
    val committed = this.committed(op, rebuilder)
    val snapshot = datasets.map(dataFiles)
    val epoch = EpochLog.newEpoch()
    merge(committed, epoch, snapshot)
    recommit(committed, epoch, op)
    val conf = spark.sessionState.newHadoopConf()
    def delete(p: Path, recursive: Boolean): Unit =
      p.getFileSystem(conf).delete(p, recursive)
    snapshot.flatten.foreach(f => delete(new Path(f), recursive = false))
    // the tombstones' work is done: the rows they masked are in no
    // committed epoch any more
    if (inCatalog) spark.sql(s"DROP TABLE IF EXISTS $tombs")
    else delete(new Path(tombs), recursive = true)
  }
}

object EpochLog {

  /** The log of a catalog-table layout: `<name>_meta`, `<name>_tombs`. */
  def table(spark: SparkSession, name: String): EpochLog =
    new EpochLog(spark, name, inCatalog = true)

  /** The log of a directory layout: `<path>/_epochs`, `<path>/_tombstones`. */
  def directory(spark: SparkSession, path: String): EpochLog =
    new EpochLog(spark, path, inCatalog = false)

  /** A fresh epoch id. */
  def newEpoch(): Long = System.nanoTime()

  /** Whether the write of directory `dir` completed (its `_SUCCESS`). */
  def hasMarker(spark: SparkSession, dir: String): Boolean = {
    val marker = new Path(dir, "_SUCCESS")
    marker.getFileSystem(spark.sessionState.newHadoopConf()).exists(marker)
  }

  /** Refuse a directory whose write did not complete. */
  def requireMarker(spark: SparkSession, dir: String, op: String,
                    remedy: String): Unit =
    require(hasMarker(spark, dir),
      s"$op: no _SUCCESS commit marker at $dir - the write did not " +
        s"complete (crashed overwrite?); $remedy")

  /** Data files under `root`, recursively, skipping every `_`/`.` name
    * (commit markers, sidecar tables, the log itself, dot-files). */
  private def dataFiles(spark: SparkSession, root: Path): Seq[String] = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (s.isDirectory) walk(s.getPath)
      else Seq(s.getPath.toString)
    }
    if (fs.exists(root)) walk(root) else Nil
  }
}
