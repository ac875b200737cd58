package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Exprs._
import graft.schemas.Schemas

/** Source readers (SURVEY.md §2.1 S1-S4): schema-typed, null-sentinel-aware,
  * tolerant of missing columns — the Spark-native form of the reference's
  * lenient Polars readers.
  */
object Readers {

  /** Column-metadata key marking schema columns that were absent from the
    * source and back-filled as typed nulls by [[ensureColumns]]. */
  val Backfilled = "graft.backfilled"

  /** True when `df`'s column `name` was back-filled (source didn't have it). */
  def isBackfilled(df: DataFrame, name: String): Boolean =
    df.schema.fields.find(_.name == name)
      .exists(f => f.metadata.contains(Backfilled) && f.metadata.getBoolean(Backfilled))

  /** Add any schema columns absent from `df` as typed nulls (missing-column
    * tolerance — reference `step-1/data_processor.py:70-79`), then project
    * to exactly the schema's columns in order. Casting uses `try_cast` so a
    * malformed cell becomes null (the reference's lenient-read semantics)
    * instead of an ANSI runtime error. */
  def ensureColumns(df: DataFrame, schema: StructType): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols = schema.fields.map { f =>
      byLower.get(f.name.toLowerCase) match {
        case Some(actual) =>
          expr(s"try_cast(`$actual` AS ${f.dataType.sql})").as(f.name)
        case None =>
          // mark back-filled columns so transforms can distinguish
          // "column absent from the source" from "present but null"
          // (the reference branches on column presence, e.g. the MemUsed
          // fallback in `step-1/data_processor.py:316-327`)
          lit(null).cast(f.dataType).as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putBoolean(Backfilled, true).build())
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Reader options of [[csv]]. univocity's default input buffer is 1M
    * chars (2 MB) per parser, and Spark builds two parsers per file; 4k
    * chars parse the same lines. */
  private[graft] val CsvOptions = Map(
    "header" -> "true", "mode" -> "PERMISSIVE", "inputBufferSize" -> "4096")

  /** Robust CSV read (S1): explicit schema, header, PERMISSIVE parse, null
    * sentinels `["", "NA", "NULL"]` — reference
    * `step-1/data_processor.py:53-84`. One tolerant path: every cell is
    * read as string, sentinels become null, then [[ensureColumns]]
    * `try_cast`s to the declared types (null on garbage, never an ANSI
    * error) and back-fills missing columns as typed nulls.
    *
    * The column names come from ONE file's header and apply to every file
    * of the glob by position, as with any Spark CSV read: the header of
    * the file Spark's schema inference reads first, the one holding the
    * first split of its largest-first packing (the largest file; among
    * files larger than a split, the first in glob order). It is read on the driver
    * by [[org.apache.spark.sql.graft.CsvHeader]] with Spark's own line
    * reader, parser and `makeSafeHeader`, so no inference job runs. Where
    * that cannot answer (no match, a directory or hidden file in the
    * match, only empty files, no non-blank line in the first split) the
    * read falls back to Spark's inference, with its errors and its empty
    * schema. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val raw = csvStrings(spark, path)
    val deSentineled = raw.select(raw.columns.map { c =>
      when(col(c).isin(Schemas.NullSentinels: _*), lit(null)).otherwise(col(c)).as(c)
    }.toIndexedSeq: _*)
    ensureColumns(deSentineled, schema)
  }

  /** [[csv]]'s raw read: every column a string, named by the header. */
  private[graft] def csvStrings(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.options(CsvOptions)
    org.apache.spark.sql.graft.CsvHeader.schema(spark, path, CsvOptions)
      .fold(reader)(reader.schema)
      .csv(path)
  }

  /** Lazy parquet scan of FRESCO metric files (S3) with case-insensitive
    * column conformance and event-set filter — reference
    * `step-2/consumer.py:240-290`. */
  def frescoMetrics(spark: SparkSession, path: String): DataFrame = {
    val df = ensureColumns(spark.read.parquet(path), Schemas.fresco)
    df.filter(col("Event").isin(Schemas.frescoEvents: _*))
      .withColumn("jid", normalizeJobId(col("Job Id")))
  }

  /** Accounting CSV (S2): typed read + `MM/DD/YYYY` date parsing + jid
    * normalization + key-null drop — reference `step-2/consumer.py:178-223`. */
  def accounting(spark: SparkSession, path: String): DataFrame =
    csv(spark, path, Schemas.accounting)
      .withColumn("start", parseRawTs(col("start")))
      .withColumn("end", parseRawTs(col("end")))
      .withColumn("submit", parseRawTs(col("submit")))
      .withColumn("jid", normalizeJobId(col("jobID")))
      .na.drop(Seq("jid", "start", "end"))

  /** JSONL corpus reader — the interchange format web-scale text corpora
    * arrive in (one JSON document per line). Explicit schema (no
    * inference scan over 100 TB), PERMISSIVE parse with malformed lines
    * captured in `_corrupt_record` instead of failing the job — a
    * thousand broken lines in a billion-document crawl must never kill
    * the pipeline, and keeping them lets a quarantine sink audit them. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** One-document-per-file text corpus: one row per file (`wholetext`),
    * document id = the file name. Parallelism is the file count — fine
    * for document corpora (many small files), wrong for a few huge files
    * (no intra-file splits); compact such corpora to JSONL/parquet first. */
  def textDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(
        substring_index(input_file_name(), "/", -1).as("doc_name"),
        col("value").as("text"))
}
