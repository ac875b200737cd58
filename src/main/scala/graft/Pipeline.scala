package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BucketAggregate, Dedup, Finalize, IntervalJoin, LanguageModel, MetricTransforms, TextAnalysis}
import graft.sources.Readers

/** End-to-end pipeline wiring (SURVEY.md §3): raw node CSVs → FRESCO long →
  * interval join with accounting → bucketed wide table → finalized output.
  * The reference spreads this over three OS-process stages with filesystem
  * handoff; here it is one logical plan per stage with parquet boundaries
  * only where the reference's data contract requires them.
  */
object Pipeline {

  /** Step 1: the four raw CSV families of one or many nodes → FRESCO long.
    * Paths may contain globs; Spark parallelizes over file splits. */
  def step1(spark: SparkSession, blockPath: String, cpuPath: String,
            llitePath: String, memPath: String): DataFrame = {
    import graft.schemas.Schemas._
    MetricTransforms.allFamilies(
      Readers.csv(spark, blockPath, block),
      Readers.csv(spark, cpuPath, cpu),
      Readers.csv(spark, llitePath, llite),
      Readers.csv(spark, memPath, mem))
  }

  /** Row order inside every file of a [[writeDaily]] store, kept by
    * [[compactDaily]]'s rewrite: step-2 readers get row-group locality per
    * job and time (the reference's `sorted-*.parquet` contract, SURVEY
    * §2.6 O4, without requiring pre-sorted input). `date` is constant
    * within a day partition's files. */
  private val DailySortKeys: Seq[String] = Seq("date", "Job Id", "Timestamp")

  /** Daily-partitioned zstd sink (SURVEY.md §2.1 S5/S7) — replaces the
    * reference's split-by-strftime + one-file-per-day writes
    * (`step-1/transformer.py:265-338`). Partitioning by date gives step-2
    * partition pruning for month-scoped reads. */
  def writeDaily(fresco: DataFrame, outDir: String,
                 overwrite: Boolean = false): Unit = {
    val base = fresco
      .withColumn("date", to_date(col("Timestamp")))
      .sortWithinPartitions(DailySortKeys.map(col): _*)
      .write
      .option("compression", "zstd")
      .partitionBy("date")
    // default APPEND: successive node batches add to existing days (the
    // reference appender's contract). overwrite=true replaces only the
    // days present in THIS batch (dynamic overwrite) — a full-output wipe
    // (static overwrite) would silently drop earlier batches' days.
    (if (overwrite)
       base.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     else base.mode("append"))
      .parquet(outDir)
  }

  /** Batch small-file compaction of a partitioned store (the lakehouse
    * OPTIMIZE shape; the reference appender's consolidation goal as an
    * on-demand maintenance pass): every `k=v` partition directory whose
    * file count exceeds `ceil(bytes / targetBytes)` is rewritten to that
    * many zstd files and swapped in via rename-aside (original moves to a
    * dot-prefixed sibling until the new files are fully in place — same
    * protocol as the object-store writeback, safe on s3a-style non-atomic
    * renames). Driver work is directory listings only; the rewrite is a
    * distributed read-coalesce-sort-write per oversized partition, which
    * keeps [[DailySortKeys]] order inside each new file.
    *
    * Crash safety: each run first examines residue of a previously crashed
    * swap. Unambiguous states repair automatically (an original preserved
    * aside whose live partition is fully gone rolls back; incomplete
    * rewrites are deleted); a state where both the live partition and the
    * preserved original exist — reachable only mid-rename on non-atomic
    * stores or just before cleanup — fails LOUDLY with both paths named,
    * because the complete copy could be either and guessing risks silent
    * loss. No crash point loses data; at worst a rerun demands one manual
    * comparison.
    *
    * Refuses a directory carrying a `_spark_metadata` commit log: the
    * streaming sink tracks its files BY NAME there, and rewriting them
    * underneath it would corrupt every log-driven read. Compact batch
    * stores ([[writeDaily]] output); let the streaming sink's own
    * exactly-once appends stand.
    *
    * Returns one `(partition, filesBefore, filesAfter)` row per rewritten
    * partition; untouched partitions are absent. */
  def compactDaily(spark: SparkSession, dir: String,
                   targetBytes: Long = 128L * 1024 * 1024): Seq[(String, Int, Int)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(base, "_spark_metadata")),
      s"refusing to compact $dir: a _spark_metadata commit log tracks these " +
        "files by name (streaming sink output); rewriting them would corrupt " +
        "log-driven reads. Compact batch stores only.")
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    // recover residue of an earlier crashed run BEFORE listing partitions:
    //  - `.P_graft_compact_old` with live P fully gone: the rename-away
    //    completed (on copy-then-delete stores, live only vanishes after
    //    every file was copied into old) → roll the original back;
    //  - `.P_graft_compact_old` with live P present but the partition's
    //    tmp fully GONE: rename(tmp, live) completed (same vanish-last
    //    argument), so live IS the rewrite and the crash hit before
    //    delete(old) — the completed-swap state self-heals by dropping old;
    //  - `.P_graft_compact_old` with live P AND tmp present: genuinely
    //    ambiguous on a non-atomic-rename store (mid rename-away or mid
    //    rename-in — the complete copy could be either dir) → FAIL LOUDLY
    //    with the dirs listed; every byte still exists, and guessing here
    //    is how data gets lost silently;
    //  - `.P_graft_compact_tmp` alone = incomplete rewrite → delete it.
    val entries = fs.listStatus(base)
    entries.filter(_.getPath.getName.endsWith("_graft_compact_old")).foreach { st =>
      val part = st.getPath.getName.stripPrefix(".").stripSuffix("_graft_compact_old")
      val live = new org.apache.hadoop.fs.Path(base, part)
      val partTmp = new org.apache.hadoop.fs.Path(base, "." + part + "_graft_compact_tmp")
      if (!fs.exists(live)) {
        if (!fs.rename(st.getPath, live))
          throw new java.io.IOException(s"crash recovery failed: ${st.getPath} -> $live")
      } else if (!fs.exists(partTmp)) {
        fs.delete(st.getPath, true) // completed swap: live is the rewrite
      } else throw new java.io.IOException(
        s"ambiguous crashed compaction swap: $live, ${st.getPath} AND $partTmp " +
          "all exist. No data is lost. Triage: if the live partition is " +
          "COMPLETE (row counts / _SUCCESS), delete BOTH staging dirs; if it " +
          "is incomplete, delete the live partition AND the tmp dir, then " +
          "re-run (the preserved original rolls back). Never delete the tmp " +
          "dir alone - recovery reads tmp-gone as 'swap completed' and would " +
          "drop the preserved original against a partial live partition.")
    }
    entries.filter(_.getPath.getName.endsWith("_graft_compact_tmp"))
      .foreach(st => fs.delete(st.getPath, true))
    fs.listStatus(base)
      .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith(".")) // never treat swap residue as a partition
      .toSeq.flatMap { st =>
        val files = dataFiles(st.getPath)
        val want = math.max(1,
          math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
        if (files.length <= want) None
        else {
          val tmp = new org.apache.hadoop.fs.Path(base,
            "." + st.getPath.getName + "_graft_compact_tmp")
          val old = new org.apache.hadoop.fs.Path(base,
            "." + st.getPath.getName + "_graft_compact_old")
          val day = spark.read.parquet(st.getPath.toString)
          // a partition directory read alone has no partition column
          day.coalesce(want)
            .sortWithinPartitions(DailySortKeys.filter(day.columns.contains).map(col): _*)
            .write.mode("overwrite").option("compression", "zstd")
            .parquet(tmp.toString)
          // entry-time recovery guarantees `old` does not exist here (any
          // `_graft_compact_old` was rolled back or threw before listing)
          if (!fs.rename(st.getPath, old))
            throw new java.io.IOException(s"compaction swap failed: ${st.getPath} -> $old")
          if (!fs.rename(tmp, st.getPath))
            throw new java.io.IOException(
              s"compaction swap failed: $tmp -> ${st.getPath} (original preserved at $old)")
          fs.delete(old, true)
          Some((st.getPath.getName, files.length, dataFiles(st.getPath).length))
        }
      }
  }

  /** The training-data curation pipeline as ONE entry point (the batch
    * composition `q_curate_full` oracle-checks, productized): training docs
    * are decontaminated against the eval corpus (shared word-`shingleK`-
    * gram check), low-quality docs dropped, near-dup LOSERS removed
    * (MinHash-LSH at `minJaccard` — losers are computed on the full input
    * corpus up front, so membership never depends on the other filters'
    * outcome), PII redacted, and a deterministic md5 split dealt. Output:
    * the input columns plus `quality_score`, redaction columns
    * (`redacted`, `n_emails`, `n_ips`, `n_phones`) and `split`. Every
    * stage is the oracle-checked operator; the composition is exactly one
    * logical plan (plus the LSH candidate pipeline's internal
    * checkpoints), so Catalyst prunes/pushes across stage seams. */
  def curate(docs: DataFrame, evalDocs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             minQuality: Double = 0.5, minJaccard: Double = 0.8,
             shingleK: Int = 8,
             maxSharedSpanFrac: Option[Double] = None,
             lmGate: Option[(LanguageModel.BigramLm, Double)] = None): DataFrame = {
    val dupLosers = Dedup.minhashDuplicates(
        Dedup.shingleHashArrays(docs, idCol, textCol), minJaccard)
      .select(col("id_b").as(idCol))
    val kept = TextAnalysis.withQuality(
        Dedup.decontaminate(docs, evalDocs, idCol, textCol, shingleK), textCol)
      .filter(col("quality_score") >= minQuality)
      .join(dupLosers, Seq(idCol), "left_anti")
    // optional batch-side boilerplate stage ([[Dedup.spanStats]] over the
    // corpus itself — the compaction-pass twin of the streaming span-index
    // gate, which scores batches against the LANDED corpus): docs whose
    // shared-span fraction exceeds the threshold drop. Default off so the
    // composition stays exactly the oracle-checked q_curate pipeline.
    val spanned = maxSharedSpanFrac.fold(kept)(maxFrac =>
      Dedup.dropSpanDuplicatedDocs(kept, idCol, textCol, n = shingleK,
        maxSharedFrac = maxFrac))
    // optional reference-LM perplexity gate (the CCNet stage): docs whose
    // cross-entropy under the supplied model exceeds the threshold drop;
    // the model is the CALLER's (trained on a reference corpus, usually
    // [[LanguageModel.read]] from disk) — a self-trained gate would score
    // boilerplate as likely. Unscorable docs pass (keepUnscored default);
    // the xent column is dropped so the output schema stays gate-agnostic.
    val lmKept = lmGate.fold(spanned) { case (lm, maxXent) =>
      LanguageModel.filterByCrossEntropy(spanned, idCol, textCol, lm, maxXent)
        .drop("xent")
    }
    TextAnalysis.hashSplit(TextAnalysis.withPiiRedaction(lmKept, textCol), idCol)
  }

  /** Step 2: FRESCO metrics ⋈ accounting → 1-minute bucketed wide table. */
  def step2(metrics: DataFrame, accounting: DataFrame): DataFrame =
    BucketAggregate(IntervalJoin(metrics, accounting))

  /** Step 2 from paths. */
  def step2(spark: SparkSession, metricsPath: String, accountingPath: String): DataFrame =
    step2(Readers.frescoMetrics(spark, metricsPath),
      Readers.accounting(spark, accountingPath))

  /** Step 3: final string standardization. */
  def step3(wide: DataFrame): DataFrame = Finalize(wide)

  /** Attach per-stage audit metrics (SURVEY §2.4 A10 — the reference logs
    * row counts at every stage): returns the observed frame and an
    * `Observation` whose `get` yields `rows` / `null_values` after the
    * next action, without a second scan. */
  def observed(df: DataFrame, name: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val valueNulls =
      if (df.columns.contains("Value"))
        sum(when(col("Value").isNull, 1L).otherwise(0L))
      else lit(0L)
    (df.observe(obs, count(lit(1)).as("rows"), valueNulls.as("null_values")), obs)
  }
}
