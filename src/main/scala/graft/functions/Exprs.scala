package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable expression helpers (`Column => Column`, never `udf()`), so
  * Catalyst sees through them and whole-stage codegen stays intact
  * (SURVEY.md §2.10).
  */
object Exprs {

  /** `when(denom != 0, num/denom).otherwise(default)` — reference
    * `step-1/data_processor.py:29-31` (`safe_division`). */
  def safeDiv(num: Column, denom: Column, default: Column = lit(0.0)): Column =
    when(denom =!= 0.0, num / denom).otherwise(default)

  /** Clamp to `[lo, hi]` with `lo` as the null-default — reference
    * `step-1/data_processor.py:34-36` (`validate_metric`). */
  def clampMetric(c: Column, lo: Double, hi: Double): Column =
    coalesce(least(greatest(c, lit(lo)), lit(hi)), lit(lo))

  /** Clamp below at `lo` (memory metrics) — reference
    * `step-1/data_processor.py:330-332`. */
  def clampMin(c: Column, lo: Double): Column = greatest(c, lit(lo))

  /** Step-1 job-id standardization: literal `jobID`→`JOB`, then
    * `job`→`JOB` (chained, order matters: `jobID123`→`JOB123`) —
    * reference `step-1/data_processor.py:133-134`. */
  def standardizeJobId(c: Column): Column =
    regexp_replace(regexp_replace(c, lit("jobID"), lit("JOB")), lit("job"), lit("JOB"))

  /** LEGACY draft job-id standardization (SURVEY §2.8 F2): replace-all
    * `job`→`JOB` case-INSENSITIVELY, then strip every literal `ID`
    * (case-sensitive) — reference
    * `rough-drafts/rough_transform_stampede_to_fresco_ts_data.py:18,41`.
    * Faithful including its quirks: `jobid42`→`JOBid42` (lowercase `id`
    * survives), `GRID7`→`GR7` (any `ID` is stripped) — which is why
    * step-1 switched to the literal chain ([[standardizeJobId]]). */
  def standardizeJobIdLegacy(c: Column): Column =
    regexp_replace(regexp_replace(c, "(?i)job", "JOB"), "ID", "")

  /** Step-2 job-id normalization: trailing digits, falling back to the
    * original value when there are none — reference
    * `step-2/consumer.py:161-174`. Spark's `regexp_extract` returns `""`
    * on miss (not null), hence the `nullif` wrap (SURVEY.md §7.4.5). */
  def normalizeJobId(c: Column): Column = {
    val s = c.cast("string")
    coalesce(nullif(regexp_extract(s, "(\\d+)$", 1), lit("")), s)
  }

  /** Step-3 jid cleanup + `_S` suffix: drop the FIRST literal `ID`, then
    * FIRST `job`→`JOB`, append `_S` — reference
    * `step-3/final_cleanup.py:34-54` uses Polars `str.replace(...,
    * literal=True)`, which replaces only the first occurrence (unlike
    * step-1's `replace_all`). The anchored non-greedy pattern makes
    * `regexp_replace` first-occurrence-only. */
  def finalizeJid(c: Column): Column =
    concat(
      regexp_replace(
        regexp_replace(c.cast("string"), lit("^((?s).*?)ID"), lit("$1")),
        lit("^((?s).*?)job"), lit("$1JOB")),
      lit("_S"))

  /** Append `_S` (host / host_list / username) — reference
    * `step-3/final_cleanup.py:59-75`. Nulls stay null. */
  def suffixS(c: Column): Column = concat(c.cast("string"), lit("_S"))

  /** Parse `MM/DD/YYYY HH:MM:SS`, null on failure — reference
    * `step-1/data_processor.py:102` (`strict=False`). `try_to_timestamp`
    * keeps the null-on-garbage semantics under Spark 4's default ANSI
    * mode; the single-letter fallback pattern accepts unpadded fields
    * (`1/5/2013 3:04:05`) like the reference's chrono-based strptime. */
  def parseRawTs(c: Column): Column =
    coalesce(try_to_timestamp(c, lit("MM/dd/yyyy HH:mm:ss")),
      try_to_timestamp(c, lit("M/d/yyyy H:m:s")))

  /** Multi-format fallback parse, first format that succeeds wins —
    * reference `step-3.1/old/consumer_2.py:175-215`. */
  def parseTsMulti(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** Date (`yyyy-MM-dd`) embedded in the current input file's NAME —
    * reference `step-1/appender.py:72-83` routes rows to daily targets by
    * the date in names like `NODE1_('2013-02-27',).parquet`. Only the
    * last path segment is searched (`input_file_name()` returns the full
    * URI; a dated ancestor DIRECTORY must not shadow the file's own
    * name). Null when the name carries no (valid) date — the reference's
    * `unknown_date` fallback path; `try_to_timestamp` keeps a
    * regex-shaped but invalid date (`9999-99-99`) null instead of an
    * ANSI error. */
  def fileDate(name: Column = input_file_name()): Column =
    try_to_timestamp(
      nullif(regexp_extract(substring_index(name, "/", -1),
        "(\\d{4}-\\d{2}-\\d{2})", 1), lit("")),
      lit("yyyy-MM-dd")).cast("date")

  /** µs since epoch, accepting zoned AND naive timestamps: `unix_micros`
    * rejects TIMESTAMP_NTZ at analysis, so inputs are cast to the
    * session-zoned type first — a no-op for TIMESTAMP; for NTZ the
    * session zone (UTC in every [[graft.Sessions]] session) fixes the
    * instant. Every µs-arithmetic helper below routes through this, so
    * the operators keep working when a source hands them naive parquet
    * timestamps (the default read of isAdjustedToUTC=false columns). */
  def tsMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Seconds between `ts` and its lag within the window, as fractional
    * seconds with µs fidelity — reference `step-1/data_processor.py:119`
    * (`dt.total_seconds()` of a diff). */
  def secondsBetween(later: Column, earlier: Column): Column =
    (tsMicros(later) - tsMicros(earlier)) / 1e6

  /** Job-start-aligned tumbling bucket index: `floor((ts - start)/width)`
    * in whole µs — reference `step-2/consumer.py:406-420` (SURVEY §2.9 T4).
    * Spark's `window()` is epoch-aligned and cannot express this. */
  def bucketIndex(ts: Column, start: Column, widthMicros: Long): Column =
    floor((tsMicros(ts) - tsMicros(start)) / lit(widthMicros)).cast("long")

  /** Bucket start = `start + k*width` (µs integer arithmetic). */
  def bucketStart(start: Column, idx: Column, widthMicros: Long): Column =
    timestamp_micros(tsMicros(start) + idx * lit(widthMicros))

  /** Bucket end clipped at the job's `end` — reference
    * `step-2/consumer.py:409` (`min(current + 1min, end)`). */
  def bucketEnd(start: Column, idx: Column, widthMicros: Long, end: Column): Column =
    least(timestamp_micros(tsMicros(start) + (idx + 1) * lit(widthMicros)), end.cast("timestamp"))

  /** Interval midpoint `lo + (hi-lo) // 2` in µs — reference
    * `step-2/consumer.py:412-414`. */
  def intervalMidpoint(lo: Column, hi: Column): Column =
    timestamp_micros(
      tsMicros(lo) + floor((tsMicros(hi) - tsMicros(lo)) / lit(2L)).cast("long"))

  /** Sorted comma-joined distinct non-empty values — reference
    * `step-2/consumer.py:404` (`",".join(sorted(filter(None, hosts)))`;
    * nulls are excluded by `collect_set`, the empty string by
    * `array_remove`); used as an aggregate: `hostList(col("Host"))`. Both
    * steps are compiled expressions: `filter` and `array_sort` evaluate an
    * interpreted lambda per element, and without nulls `sort_array` sorts
    * the same. */
  def hostList(c: Column): Column =
    array_join(sort_array(array_remove(collect_set(c), lit(""))), ",")

  /** [[hostList]] as a window function (per-window sorted distinct list). */
  def hostListOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    array_join(sort_array(array_remove(collect_set(c).over(w), lit(""))), ",")

  /** Horizontal (row-wise) sum, nulls counted as 0 — reference
    * `step-1/data_processor.py:192-194`: Polars `sum_horizontal` ignores
    * nulls (a plain `+` reduce would null the whole row on one null cell,
    * silently dropping rows the reference keeps). */
  def rowSum(cols: Seq[Column]): Column =
    cols.map(c => coalesce(c, lit(0.0))).reduce(_ + _)
}
