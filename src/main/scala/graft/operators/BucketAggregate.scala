package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exprs._
import graft.schemas.Schemas

/** Step-2 core aggregation (SURVEY.md §2.9 T4 + §2.4 A3/A6/A8): the joined
  * metric stream → job-start-aligned 1-minute buckets → per-(job, host,
  * bucket) mean per event → pivot events to `value_*` columns → exact
  * 21-column wide output.
  *
  * The reference does this with a per-job Python loop over 1-minute windows
  * (`step-2/consumer.py:377-508`); here it is one `groupBy().agg()` with a
  * conditional mean per event — a single shuffle keyed by (jid, Host,
  * bucket), with partial (map-side) aggregation, which is the scalable
  * shape at 100 TB.
  *
  * Buckets are aligned to each job's `start` (NOT epoch-aligned like
  * Spark's `window()`): index `k = floor((ts-start)/1min)`, bucket span
  * `[start + k·1min, min(start + (k+1)·1min, end))`, and the output `time`
  * is the bucket midpoint — all in whole-µs arithmetic to match the
  * reference's `Datetime[µs]` fidelity (`consumer.py:406-420`,
  * SURVEY.md §7.4.1).
  */
object BucketAggregate {

  val DefaultBucketMicros: Long = 60L * 1000000L // 1 minute (consumer.py:27)

  /** Which instant the output `time` column carries per bucket. */
  sealed trait TimeMode
  object TimeMode {
    /** Bucket midpoint — step-2 canonical (`consumer.py:412-414`). */
    case object Midpoint extends TimeMode
    /** Bucket start — the step-3.1 variant, which stamps each row with the
      * chunk's start instant (`step-3.1/old/consumer_2.py:489`). */
    case object BucketStart extends TimeMode
  }

  /** Mean `Value` of one event's rows: null when it has none. */
  private def avgOf(event: String) =
    avg(when(col("Event") === event, col("Value"))).as(event)

  /** Input: output of [[IntervalJoin]] — FRESCO columns (`Host`,
    * `Timestamp`, `Event`, `Value`) + accounting columns (`jid`, `start`,
    * `end`, `submit`, `user`, `account`, `jobname`, `queue`, `nnodes`,
    * `ncpus`, `walltime`, `exit_status`).
    *
    * `timeMode` selects midpoint vs bucket-start `time`; `mixedUnitColumn`
    * appends the step-3.1 `unit = "Mixed"` placeholder column
    * (`consumer_2.py:510`) after the canonical 21 (step-3.1 runs 5-minute
    * buckets — pass `bucketMicros = 300s` for the full 3.1 shape). */
  def apply(joined: DataFrame, bucketMicros: Long = DefaultBucketMicros,
            timeMode: TimeMode = TimeMode.Midpoint,
            mixedUnitColumn: Boolean = false): DataFrame = {
    val withBucket = joined
      // empty/null hosts are excluded from output rows (consumer.py:455)
      .filter(col("Host").isNotNull && col("Host") =!= "")
      .withColumn("bucket", bucketIndex(col("Timestamp"), col("start"), bucketMicros))

    val pivoted = withBucket
      .groupBy(
        col("jid"), col("Host").as("host"), col("bucket"),
        col("start"), col("end"), col("submit"),
        col("user"), col("account"), col("jobname"), col("queue"),
        col("nnodes"), col("ncpus"), col("walltime"), col("exit_status"))
      // one column per event of the explicit list → stable schema even for
      // never-seen events (consumer.py:528-548, SURVEY.md §7.4.9). A
      // conditional avg per event is the pivot in ONE aggregation: Spark
      // plans `.pivot(...).agg(avg)` as two, each with its own exchange.
      .agg(avgOf(Schemas.frescoEvents.head),
        Schemas.frescoEvents.tail.map(avgOf): _*)
      // host_list = sorted distinct hosts of THIS accounting record
      // (consumer.py:403-404 — keyed by (jid, start, end) so resubmitted
      // jobs sharing a normalized jid don't pool hosts). Computed AFTER the
      // aggregate: the window then shuffles one row per (job, host, bucket)
      // instead of the full metric stream, preserving map-side partial
      // aggregation and avoiding a whale-jid straggler partition.
      .withColumn("host_list",
        hostListOver(col("host"), Window.partitionBy(col("jid"), col("start"), col("end"))))

    val time = timeMode match {
      case TimeMode.Midpoint =>
        intervalMidpoint(
          bucketStart(col("start"), col("bucket"), bucketMicros),
          bucketEnd(col("start"), col("bucket"), bucketMicros, col("end")))
      case TimeMode.BucketStart =>
        bucketStart(col("start"), col("bucket"), bucketMicros)
    }
    val out = pivoted.select(
      time.as("time"),
      col("submit").as("submit_time"),
      col("start").as("start_time"),
      col("end").as("end_time"),
      col("walltime").cast("long").as("timelimit"),
      col("nnodes").cast("long").as("nhosts"),
      col("ncpus").cast("long").as("ncores"),
      col("account"),
      col("queue"),
      col("host"),
      col("jid"),
      col("jobname"),
      col("exit_status").as("exitcode"),
      col("host_list"),
      col("user").as("username"),
      col("cpuuser").as("value_cpuuser"),
      lit(null).cast("double").as("value_gpu"), // no GPU input (consumer.py:489-490)
      col("memused").as("value_memused"),
      col("memused_minus_diskcache").as("value_memused_minus_diskcache"),
      col("nfs").as("value_nfs"),
      col("block").as("value_block"))
    if (mixedUnitColumn) out.withColumn("unit", lit("Mixed")) else out
  }
}
