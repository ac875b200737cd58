package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exprs._
import graft.schemas.Schemas

/** Step-1 metric-family transforms: raw node counters → FRESCO long format
  * `(Job Id, Host, Timestamp, Event, Value, Units)`.
  *
  * Each is a pure `DataFrame => DataFrame` over the schemas in
  * [[graft.schemas.Schemas]]; rate derivation uses lag windows partitioned
  * by `(jobID, node)` ordered by `Timestamp` — the Spark-native form of the
  * reference's sort + `diff().over()` (reference
  * `step-1/data_processor.py:86-363`, SURVEY.md §2.5 W1-W4).
  *
  * Scale note: the window shuffle partitions by `(jobID, node)` — at 100 TB
  * that is millions of small groups, which hash-distributes evenly; no
  * global sort is ever required (SURVEY.md §2.6 O1).
  */
object MetricTransforms {

  /** Minimum seconds between samples for a valid rate — reference
    * `step-1/data_processor.py:23` (`MIN_TIME_DELTA`). */
  val MinTimeDelta = 0.1

  private val SectorBytes = 512.0
  private val BytesPerGiB = math.pow(2, 30)
  private val BytesPerMiB = math.pow(2, 20)

  private val grp = Window.partitionBy("jobID", "node").orderBy("Timestamp")

  /** Shared head: parse timestamp, fill numeric NULLS with 0 — reference
    * `step-1/data_processor.py:100-106`. Uses `coalesce`, NOT `na.fill`:
    * Spark's fill would also replace NaN with 0, fabricating a counter
    * reset-and-jump (a giant bogus rate on the following sample), whereas
    * the reference's `fill_null` leaves NaN intact so it propagates
    * through the diff and both rows drop at the `delta >= 0` filter. */
  private def prep(df: DataFrame, numericCols: Seq[String]): DataFrame =
    // one projection: a withColumn chain re-analyses the growing plan per column
    df.withColumns(numericCols.map(c => c -> coalesce(col(c), lit(0.0))).toMap +
        ("Timestamp" -> parseRawTs(col("timestamp"))))
      .filter(col("Timestamp").isNotNull &&
        col("jobID").isNotNull && col("node").isNotNull)

  private def toFresco(df: DataFrame, event: String, units: String,
                       jidStandardize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                         standardizeJobId): DataFrame =
    df.select(
      jidStandardize(col("jobID")).as("Job Id"),
      col("node").as("Host"),
      col("Timestamp"),
      lit(event).as("Event"),
      col("Value"),
      lit(units).as("Units"))

  /** Per-(group) lag deltas of a counter plus the sampling gap in seconds,
    * keeping only valid rate rows: gap ≥ [[MinTimeDelta]] and non-negative
    * delta (drops counter resets and duplicate timestamps — reference
    * `step-1/data_processor.py:113-122`). The counter value itself breaks
    * timestamp ties so the lag pairing is deterministic (the reference
    * inherits whatever file order Polars' stable sort preserved). */
  private def counterDelta(df: DataFrame, counter: String): DataFrame = {
    val w = Window.partitionBy("jobID", "node").orderBy(col("Timestamp"), col(counter))
    df.withColumn("delta", col(counter) - lag(col(counter), 1).over(w))
      .withColumn("dt", secondsBetween(col("Timestamp"), lag(col("Timestamp"), 1).over(w)))
      .filter(col("dt") >= MinTimeDelta && col("delta") >= 0.0)
  }

  /** block.csv → `block` event, GB/s — reference
    * `step-1/data_processor.py:86-144` (rate expr `:117-129`). */
  def block(raw: DataFrame): DataFrame = {
    val summed = prep(raw, Seq("rd_sectors", "wr_sectors"))
      .withColumn("total_sectors", col("rd_sectors") + col("wr_sectors"))
      .groupBy("jobID", "node", "Timestamp")
      .agg(sum("total_sectors").as("total_sectors"))
    val rated = counterDelta(summed, "total_sectors")
      .withColumn("Value",
        clampMin(col("delta") * SectorBytes / col("dt") / BytesPerGiB, 0.0))
    toFresco(rated, "block", "GB/s")
  }

  /** cpu.csv → `cpuuser` event, CPU % — reference
    * `step-1/data_processor.py:146-230`: per-core jiffy counters summed to
    * node level, lag-diffed per column, `Δuser / Δtotal · 100` clamped to
    * [0,100]; rows with non-positive total-jiffy delta dropped. */
  def cpu(raw: DataFrame): DataFrame = {
    val cols = Schemas.cpuCounterCols
    val summed = prep(raw, cols)
      // cpu (alone among the families) drops null-device rows before the
      // node-level sum — reference `data_processor.py:165`
      .filter(col("device").isNotNull)
      .groupBy("jobID", "node", "Timestamp")
      .agg(sum(cols.head).as(cols.head), cols.tail.map(c => sum(c).as(c)): _*)
    val diffed = summed.select(col("*") +:
      cols.map(c => (col(c) - lag(col(c), 1).over(grp)).as(s"${c}_d")): _*)
    val total = rowSum(cols.map(c => col(s"${c}_d")))
    val rated = diffed
      .withColumn("total_d", total)
      .filter(col("total_d").isNotNull && col("total_d") > 0.0)
      .withColumn("Value",
        clampMetric(safeDiv(col("user_d"), col("total_d")) * 100.0, 0.0, 100.0))
    toFresco(rated, "cpuuser", "CPU %")
  }

  /** llite.csv → `nfs` event, MB/s — reference
    * `step-1/data_processor.py:232-296` (Lustre traffic published under the
    * historical `nfs` event name). */
  def llite(raw: DataFrame): DataFrame = {
    // no device dimension → no pre-aggregation (unlike block/cpu); duplicate
    // timestamps are dropped by the Δt ≥ 0.1 s filter, matching the
    // reference's sort+diff (`data_processor.py:265-274`)
    val perRow = prep(raw, Seq("read_bytes", "write_bytes"))
      .withColumn("total_bytes", col("read_bytes") + col("write_bytes"))
    val rated = counterDelta(perRow, "total_bytes")
      .withColumn("Value", clampMin(col("delta") / col("dt") / BytesPerMiB, 0.0))
    toFresco(rated, "nfs", "MB/s")
  }

  /** mem.csv → `memused` + `memused_minus_diskcache` events, GB — reference
    * `step-1/data_processor.py:298-363`. `MemUsed` is treated as bytes
    * (`:330`); the `MemTotal − MemFree` fallback applies only when the
    * MemUsed COLUMN is absent from the source (`:316-327`) — a null cell
    * in a present column becomes 0 via `fill_null(0)` (`:309-311`), not
    * the fallback. Column absence is carried by the reader's back-fill
    * metadata. Both metrics clip at ≥ 0.
    *
    * `memUnitFactor` converts the source's memory unit to bytes before the
    * GB division: 1.0 for byte-valued sources (current semantics), 1024.0
    * for the legacy KB-valued `/proc/meminfo` feeds (reference
    * `rough-drafts/old/transform_all_csv_to_parquet_v2.py:293-297`,
    * SURVEY.md §7.4.7). */
  def mem(raw: DataFrame, memUnitFactor: Double = 1.0): DataFrame = {
    def scaled(c: org.apache.spark.sql.Column) =
      if (memUnitFactor == 1.0) c else c * lit(memUnitFactor)
    val memUsedAbsent = graft.sources.Readers.isBackfilled(raw, "MemUsed")
    val base = prep(raw,
        if (memUsedAbsent) Seq("MemTotal", "MemFree", "FilePages")
        else Seq("MemTotal", "MemFree", "FilePages", "MemUsed"))
      .withColumn("mem_used",
        scaled(if (memUsedAbsent) col("MemTotal") - col("MemFree") else col("MemUsed")))
      .withColumn("FilePages", scaled(col("FilePages")))
    // both events in ONE pass (a union of two projections would scan and
    // parse the source twice)
    base.select(
        standardizeJobId(col("jobID")).as("Job Id"),
        col("node").as("Host"),
        col("Timestamp"),
        explode(array(
          struct(lit("memused").as("Event"),
            clampMin(col("mem_used") / BytesPerGiB, 0.0).as("Value")),
          struct(lit("memused_minus_diskcache").as("Event"),
            clampMin((col("mem_used") - col("FilePages")) / BytesPerGiB, 0.0).as("Value"))))
          .as("ev"))
      .select(col("Job Id"), col("Host"), col("Timestamp"),
        col("ev.Event").as("Event"), col("ev.Value").as("Value"),
        lit("GB").as("Units"))
  }

  /** Full step-1 node transform: all four families unioned — reference
    * `step-1/data_processor.py:365-439` (`vertical_relaxed` concat). */
  def allFamilies(blockDf: DataFrame, cpuDf: DataFrame,
                  lliteDf: DataFrame, memDf: DataFrame): DataFrame =
    block(blockDf)
      .unionByName(cpu(cpuDf))
      .unionByName(llite(lliteDf))
      .unionByName(mem(memDf))

  // ---- LEGACY draft variants (SURVEY §2.8 F2/F15/F17/F19) ----
  // Opt-in reprocessing of archives produced by the rough-draft
  // transformer (`rough-drafts/rough_transform_stampede_to_fresco_ts_data
  // .py`): per-ROW instantaneous formulas that predate the lag-delta rate
  // derivation — no validity filters, no clamps, no zero-fill and no
  // key-null row drops (unlike `prep`): a blank counter cell propagates
  // to a null Value (the pandas drafts propagate NaN — Spark's null is
  // the engine-native missing marker) and Inf/NaN on zero denominators
  // pass through exactly like the originals. Job ids get the F2
  // case-insensitive standardization instead of F1's literal chain. The
  // one deliberate divergence: an unparseable timestamp becomes a null
  // Timestamp instead of raising, matching the engine's lenient-read
  // contract rather than pandas' errors='raise'.

  private def prepLegacy(df: DataFrame): DataFrame =
    df.withColumn("Timestamp", parseRawTs(col("timestamp")))

  /** LEGACY block (F15): `(rd+wr sectors)·512 / (rd_ticks+wr_ticks) / 2³⁰`
    * per row — reference draft `:11-14`. Input: [[Schemas.blockLegacy]]. */
  def blockLegacy(raw: DataFrame): DataFrame =
    toFresco(
      prepLegacy(raw)
        .withColumn("Value",
          (col("rd_sectors") + col("wr_sectors")) * SectorBytes /
            (col("rd_ticks") + col("wr_ticks")) / BytesPerGiB),
      "block", "GB/s", standardizeJobIdLegacy)

  /** LEGACY cpu (F17): `(user+nice)/total · 100` per row, NO deltas and no
    * clamp — reference draft `:36-38`. Input: [[Schemas.cpu]]. */
  def cpuLegacy(raw: DataFrame): DataFrame = {
    val total = Schemas.cpuCounterCols.map(col).reduce(_ + _)
    toFresco(
      prepLegacy(raw)
        .withColumn("Value", (col("user") + col("nice")) / total * 100.0),
      "cpuuser", "CPU %", standardizeJobIdLegacy)
  }

  /** LEGACY nfs (F19): `(direct_read+direct_write) / 2²⁰` per row —
    * reference draft `:60-61`. Input: [[Schemas.nfsLegacy]]. */
  def nfsLegacy(raw: DataFrame): DataFrame =
    toFresco(
      prepLegacy(raw)
        .withColumn("Value",
          (col("direct_read") + col("direct_write")) / BytesPerMiB),
      "nfs", "MB/s", standardizeJobIdLegacy)
}
