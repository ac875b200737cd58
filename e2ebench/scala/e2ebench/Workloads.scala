package e2ebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.operators.{BucketAggregate, Dedup, Finalize, IntervalJoin, MetricTransforms, TextAnalysis}
import graft.runner.Main
import graft.schemas.Schemas
import graft.sources.Readers

/** One workload: an untraced iteration through the user-facing entry
  * points, and a traced iteration that times each layer on a materialized
  * input. Both write the same output directories, which the caller's
  * checks then read. */
sealed trait Workload {
  /** Output directories of an iteration whose bytes count as stored. */
  def outputs: Seq[String]
  /** Runs one iteration; returns the wall seconds of each verb. */
  def run(spark: SparkSession, in: String, dir: String): Map[String, Double]
  def traced(spark: SparkSession, in: String, dir: String, t: Tracer): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "fresco_e2e" => FrescoE2e
    case "curate_docs" => CurateDocs
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def seconds[T](body: => T): Double = {
    val t0 = System.nanoTime
    body
    (System.nanoTime - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val zstd = Map("compression" -> "zstd")

  /** Writes `df` under the iteration's trace scratch space and reads it
    * back, so the next layer's span starts from stored input. */
  def materialize(t: Tracer, dir: String, name: String, df: DataFrame): DataFrame =
    t.span("materialize") {
      val path = s"$dir/_trace/$name"
      df.write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
    }

  /** The parquet sink `runner.Main` writes verb outputs with. */
  def mainWrite(t: Tracer, df: DataFrame, out: String): Unit = {
    t.action("Main.write")(df.write.mode("overwrite").options(zstd).parquet(out))
    t.add("Main.write.bytes", t.last("bytes_written").toDouble)
  }

  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_")).flatMap(walk)
      else Seq(f)
    walk(new File(dir))
  }

  /** Step 2 then step 3, layer by layer, as `runner.Main` composes them. */
  def tracedStep2And3(spark: SparkSession, metricsPath: String, acctPath: String,
                      dir: String, t: Tracer): Unit = {
    t.span("step2") {
      val metrics = materialize(t, dir, "metrics",
        t.layer("Readers.frescoMetrics")(Readers.frescoMetrics(spark, metricsPath)))
      val acct = materialize(t, dir, "accounting",
        t.layer("Readers.accounting")(Readers.accounting(spark, acctPath)))
      val joined = materialize(t, dir, "joined",
        t.layer("IntervalJoin")(IntervalJoin(metrics, acct)))
      t.add("IntervalJoin.shuffle_bytes", shuffleOfLast(t, "IntervalJoin"))
      val wide = materialize(t, dir, "wide",
        t.layer("BucketAggregate")(BucketAggregate(joined)))
      t.add("BucketAggregate.shuffle_bytes", shuffleOfLast(t, "BucketAggregate"))
      t.add("BucketAggregate.spill_bytes", lastLayer(t, "BucketAggregate")("spill_bytes").toDouble)
      val (nIn, nJoined, nWide) = (metrics.count(), joined.count(), wide.count())
      t.add("IntervalJoin.rows_in", nIn.toDouble)
      t.add("IntervalJoin.rows_out", nJoined.toDouble)
      t.add("IntervalJoin.match_ratio", nJoined.toDouble / math.max(nIn, 1L))
      t.add("BucketAggregate.rows_out", nWide.toDouble)
      t.add("BucketAggregate.rows_in_per_out", nJoined.toDouble / math.max(nWide, 1L))
      mainWrite(t, wide, s"$dir/wide")
    }
    t.span("step3") {
      val fin = materialize(t, dir, "final",
        t.layer("Finalize")(Finalize(spark.read.parquet(s"$dir/wide"))))
      mainWrite(t, fin, s"$dir/final")
    }
  }

  def lastLayer(t: Tracer, name: String): Map[String, Long] =
    t.spans.filter(s => s.layer && s.name == name).last.counters

  def shuffleOfLast(t: Tracer, name: String): Double =
    lastLayer(t, name)("shuffle_write_bytes").toDouble
}

import Workload._

/** Raw node CSVs → step1 (one append per node-group flush) → compactDaily
  * (the reference appender's consolidation) → step2 → step3. */
object FrescoE2e extends Workload {
  val outputs = Seq("store", "wide", "final")
  private val families = Seq("block" -> Schemas.block, "cpu" -> Schemas.cpu,
    "llite" -> Schemas.llite, "mem" -> Schemas.mem)

  private def groups(in: String): Seq[String] =
    new File(in).listFiles.filter(f => f.isDirectory && f.getName.startsWith("g"))
      .map(_.getPath).toSeq.sorted

  def run(spark: SparkSession, in: String, dir: String): Map[String, Double] = {
    val appends = groups(in).map { g =>
      seconds(Main.run(Seq("step1") ++ families.flatMap { case (f, _) => Seq(s"--$f", s"$g/*/$f.csv") } ++
        Seq("--out", s"$dir/store"), spark))
    }
    val compact = seconds(Pipeline.compactDaily(spark, s"$dir/store"))
    val step2 = seconds(Main.run(Seq("step2", "--metrics", s"$dir/store",
      "--accounting", s"$in/accounting.csv", "--out", s"$dir/wide"), spark))
    val step3 = seconds(Main.run(Seq("step3", "--in", s"$dir/wide", "--out", s"$dir/final"), spark))
    Map("step1_s" -> appends.sum, "append_p50_s" -> Workload.median(appends), "compact_s" -> compact,
      "step2_s" -> step2, "step3_s" -> step3)
  }

  def traced(spark: SparkSession, in: String, dir: String, t: Tracer): Unit = {
    groups(in).zipWithIndex.foreach { case (g, gi) =>
      t.span("step1") {
        val outs = families.map { case (fam, schema) =>
          val raw = materialize(t, dir, s"raw_${fam}_$gi",
            t.layer("Readers.csv")(Readers.csv(spark, s"$g/*/$fam.csv", schema)))
          val rows = raw.count()
          t.add("Readers.csv.rows", rows.toDouble)
          t.add("Readers.csv.null_cells", raw.select(raw.columns.map(c =>
            sum(when(col(c).isNull, 1L).otherwise(0L))).reduce(_ + _)).head.getLong(0).toDouble)
          val transform: DataFrame => DataFrame = fam match {
            case "block" => MetricTransforms.block
            case "cpu" => MetricTransforms.cpu
            case "llite" => MetricTransforms.llite
            case _ => MetricTransforms.mem(_)
          }
          val name = s"MetricTransforms.$fam"
          val out = materialize(t, dir, s"fresco_${fam}_$gi", t.layer(name)(transform(raw)))
          t.add(s"$name.shuffle_bytes", shuffleOfLast(t, name))
          t.add(s"$name.rows_in", rows.toDouble)
          t.add(s"$name.rows_out", out.count().toDouble)
          out
        }
        t.action("writeDaily")(Pipeline.writeDaily(outs.reduce(_ unionByName _), s"$dir/store"))
        t.add("writeDaily.bytes", t.last("bytes_written").toDouble)
      }
    }
    families.foreach { case (fam, _) =>
      val n = s"MetricTransforms.$fam"
      t.metrics(s"$n.keep_ratio") = t.metrics(s"$n.rows_out") / math.max(t.metrics(s"$n.rows_in"), 1.0)
    }
    val store = s"$dir/store"
    val files = dataFiles(store).size
    t.add("writeDaily.files", files.toDouble)
    t.add("writeDaily.files_per_day",
      files.toDouble / math.max(new File(store).list.count(_.startsWith("date=")), 1))
    t.action("compactDaily")(Pipeline.compactDaily(spark, store))
    t.add("compactDaily.bytes_rewritten", t.last("bytes_written").toDouble)
    t.add("compactDaily.files_before", files.toDouble)
    t.add("compactDaily.files_after", dataFiles(store).size.toDouble)
    tracedStep2And3(spark, store, s"$in/accounting.csv", dir, t)
  }
}

/** The `curate` verb over a seeded document corpus and eval set. */
object CurateDocs extends Workload {
  val outputs = Seq("out")

  def run(spark: SparkSession, in: String, dir: String): Map[String, Double] = Map(
    "curate_s" -> seconds(Main.run(Seq("curate", "--in", s"$in/docs.parquet",
      "--eval", s"$in/eval.parquet", "--out", s"$dir/out"), spark)))

  /** Pipeline.curate's composition with default parameters, one layer at
    * a time. */
  def traced(spark: SparkSession, in: String, dir: String, t: Tracer): Unit = t.span("curate") {
    val (id, text) = ("doc_id", "text")
    val docs = spark.read.parquet(s"$in/docs.parquet")
    val evalDocs = spark.read.parquet(s"$in/eval.parquet")
    val losers = materialize(t, dir, "losers", t.layer("Dedup.minhash")(
      Dedup.minhashDuplicates(Dedup.hashedWordShingles(docs, id, text), 0.8)
        .select(col("id_b").as(id))))
    val candidates = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(Dedup.hashedWordShingles(docs, id, text)), 32).count()
    val nLosers = losers.distinct().count()
    t.add("Dedup.minhash.candidate_pairs", candidates.toDouble)
    t.add("Dedup.minhash.losers", nLosers.toDouble)
    t.add("Dedup.minhash.verified_ratio", nLosers.toDouble / math.max(candidates, 1L))
    val clean = materialize(t, dir, "decontaminated", t.layer("Dedup.decontaminate")(
      Dedup.decontaminate(docs, evalDocs, id, text, 8)))
    val nDocs = docs.count()
    val nClean = clean.count()
    t.add("Dedup.decontaminate.contaminated", (nDocs - nClean).toDouble)
    val quality = materialize(t, dir, "quality", t.layer("TextAnalysis.quality")(
      TextAnalysis.withQuality(clean, text).filter(col("quality_score") >= 0.5)))
    t.add("TextAnalysis.quality.kept_ratio", quality.count().toDouble / math.max(nClean, 1L))
    val kept = materialize(t, dir, "kept", quality.join(losers, Seq(id), "left_anti"))
    val redacted = materialize(t, dir, "redacted",
      t.layer("TextAnalysis.pii")(TextAnalysis.withPiiRedaction(kept, text)))
    t.add("TextAnalysis.pii.pii_hits",
      redacted.select(sum(col("n_emails") + col("n_ips") + col("n_phones"))).head.getLong(0).toDouble)
    val split = materialize(t, dir, "split",
      t.layer("TextAnalysis.split")(TextAnalysis.hashSplit(redacted, id)))
    mainWrite(t, split, s"$dir/out")
  }
}
