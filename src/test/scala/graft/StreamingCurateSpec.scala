package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamingCurate

/** Ingest-time streaming curation: Bloom decontamination semantics vs the
  * exact batch operator, and the full stream flow end to end. */
class StreamingCurateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val evalDocs = Seq(
    (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (901L, "one two three four five six seven eight nine ten eleven")
  ).toDF("doc_id", "text")

  test("evalShingleBloom: no false negatives vs the exact contamination join") {
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val train = Seq(
      // contains the eval 8-gram "alpha..theta" inside other text
      (1L, "intro words alpha beta gamma delta epsilon zeta eta theta and more"),
      (2L, "the quick brown fox jumps over the lazy dog today again"), // clean
      (3L, "one two three four five six seven eight wrapped in noise") // contaminated via 901
    ).toDF("doc_id", "text")
    assert(bloom.k == 8, "the filter must carry the width it was built at")
    val streamed = train
      .filter(StreamingCurate.contaminated(col("text"), bloom))
      .select("doc_id").as[Long].collect().toSet
    val exact = Dedup.contamination(train, evalDocs, "doc_id", "text", 8)
      .select("doc_id").as[Long].collect().toSet
    // Bloom has NO false negatives: everything the exact join flags is
    // flagged; at fpp=0.001 on this fixture there are no false positives
    // either, so the sets coincide
    assert(exact.subsetOf(streamed), s"missed contamination: ${exact -- streamed}")
    assert(streamed == exact)
    assert(streamed == Set(1L, 3L))
  }

  test("curateBatchWithIndex via foreachBatch: near-dup-vs-corpus removed at " +
    "ingest, the lambda gap closed per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river " +
        "bank while the heron watches from the reeds in the morning light")
    ).toDF("doc_id", "text")
    val index = graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text")
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text", "ts")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= StreamingCurate
          .curateBatchWithIndex(b, "doc_id", "text", bloom, index,
            minJaccard = 0.5)
          .select("doc_id", "split").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        ()
      }
      .start()
    in.addData(
      // near-dup of corpus doc 1 (one word changed): index filter drops it
      (10L, "the quick brown fox jumps over the lazy cat near the old river " +
        "bank while the heron watches from the reeds in the morning light",
        ts("2013-01-01 10:00:00")),
      // novel, good quality, clean: kept
      (11L, "a completely new report about the harvest with plenty of the " +
        "usual words in it for the quality gate to like and to keep",
        ts("2013-01-01 10:00:05")),
      // contaminated vs the eval corpus: bloom drops it
      (12L, "intro words alpha beta gamma delta epsilon zeta eta theta iota kappa end",
        ts("2013-01-01 10:00:10")))
    q.processAllAvailable()
    q.stop()
    assert(out.map(_._1).toSet == Set(11L), s"kept: $out")
    assert(Set("train", "val", "test").contains(out.head._2))
  }

  test("curateBatchWithIndex with a span index: boilerplate-dominated docs " +
    "gated at ingest alongside the signature anti-join") {
    implicit val sqlCtx = spark.sqlContext
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val boiler = "all rights reserved contact the webmaster for takedown " +
      "requests and legal inquiries about this content"
    // landed docs carry LONG unique bodies so the footer is a minority of
    // their shingles: doc-level jaccard vs the mostly-footer batch doc
    // stays well under the 0.5 signature threshold (the point — only the
    // SPAN gate sees the footer domination)
    val corpus = Seq(
      (1L, "first landed article body carrying many original words about " +
        s"river morphology sediment transport and seasonal flow regimes $boiler"),
      (2L, "second landed article with different phrasing entirely about " +
        s"orchard grafting rootstock selection and winter pruning habits $boiler")
    ).toDF("doc_id", "text")
    val index = graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text")
    val spanIx = graft.operators.Dedup.buildSpanIndex(corpus, "doc_id", "text", n = 6)
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = collection.mutable.ArrayBuffer.empty[Long]
    val q = in.toDF().toDF("doc_id", "text", "ts")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= StreamingCurate
          .curateBatchWithIndex(b, "doc_id", "text", bloom, index,
            minJaccard = 0.5, spanIndex = Some(spanIx))
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    in.addData(
      // NOT a doc-level near-dup of any landed doc (different body), but
      // boilerplate-dominated: most of its spans are the landed footer —
      // only the span gate catches it
      (10L, s"a short fresh note with the footer $boiler",
        ts("2013-01-01 10:00:00")),
      // fresh, footer-free, long enough for quality: kept
      (11L, "a completely new report about the harvest with plenty of the " +
        "usual words in it for the quality gate to like and to keep",
        ts("2013-01-01 10:00:05")))
    q.processAllAvailable()
    q.stop()
    assert(out.toSet == Set(11L), s"kept: $out")
    // the same batch WITHOUT the span gate keeps both — pinning that the
    // catch above is the span index's, not a side effect of another stage
    val kept = StreamingCurate.curateBatchWithIndex(
        Seq((10L, s"a short fresh note with the footer $boiler"),
          (11L, "a completely new report about the harvest with plenty of " +
            "the usual words in it for the quality gate to like and to keep"))
          .toDF("doc_id", "text"),
        "doc_id", "text", bloom, index, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 11L))
  }

  test("curateBatchWithIndex with a reference-LM gate: improbable-bigram " +
    "docs gated at ingest; other stages unaffected") {
    import graft.operators.LanguageModel
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val fluent = "the quick brown fox jumps over the lazy dog and the " +
      "quick brown fox jumps over the lazy dog again for the usual walk " +
      "in the morning with all of the other animals from the farm"
    val gibberish = fluent.split(" ").sorted.reverse.mkString(" ")
    val lm = LanguageModel.train(
      Seq((50L, fluent)).toDF("doc_id", "text"), "text")
    val xs = LanguageModel.crossEntropy(
        Seq((1L, fluent), (2L, gibberish)).toDF("doc_id", "text"),
        "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val tau = (xs(1L) + xs(2L)) / 2
    val corpus = Seq((90L, "one landed article about something else " +
      "entirely with its own vocabulary and phrasing")).toDF("doc_id", "text")
    val index = graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text")
    val batch = Seq((10L, fluent), (11L, gibberish)).toDF("doc_id", "text")
    val kept = StreamingCurate.curateBatchWithIndex(batch, "doc_id", "text",
        bloom, index, lmGate = Some((lm, tau)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"kept: $kept")
    val ungated = StreamingCurate.curateBatchWithIndex(batch, "doc_id", "text",
        bloom, index)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ungated == Set(10L, 11L),
      "without the LM gate both pass — the catch above is the LM's")
  }

  test("idempotentCurateSink: replaying a batch id overwrites its own " +
    "directory — no duplicate rows, identical output") {
    implicit val sqlCtx = spark.sqlContext
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river " +
        "bank while the heron watches from the reeds in the morning light")
    ).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("idem-sink").toString
    val sink = StreamingCurate.idempotentCurateSink(out, "doc_id", "text",
      bloom, index, minJaccard = 0.5)
    val batch0 = Seq(
      // near-dup of corpus doc 1: index filter drops it
      (10L, "the quick brown fox jumps over the lazy cat near the old river " +
        "bank while the heron watches from the reeds in the morning light",
        ts("2013-01-01 10:00:00")),
      // novel, good quality, clean: kept
      (11L, "a completely new report about the harvest with plenty of the " +
        "usual words in it for the quality gate to like and to keep",
        ts("2013-01-01 10:00:05")))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = in.toDF().toDF("doc_id", "text", "ts")
      .writeStream.foreachBatch(sink).start()
    in.addData(batch0: _*)
    q.processAllAvailable()
    // second micro-batch under a different id — its directory must coexist
    in.addData((20L, "another genuinely novel piece of text with plenty of " +
      "ordinary words in it to pass the quality gate comfortably",
      ts("2013-01-01 10:01:00")))
    q.processAllAvailable()
    q.stop()
    def landed() = spark.read.parquet(out)
      .select("doc_id", "batch_id", "split", "quality_score").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getString(2), r.getDouble(3)))
      .toSeq.sorted
    val first = landed()
    assert(first.map(_._1) == Seq(11L, 20L), s"landed: $first")
    assert(first.map(_._2).distinct.size == 2, "two batch partitions expected")
    // the retry shape: foreachBatch re-delivers batch 0 with the SAME
    // input rows — the sink must overwrite, not append
    sink(batch0.toDF("doc_id", "text", "ts"), 0L)
    assert(landed() == first,
      "replaying a batch id must leave the landed corpus identical")
    // a replay is NOT a new epoch: still exactly one row per kept doc
    assert(spark.read.parquet(out).groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("idempotentCurateIngestSink: kept docs land AND join the banded " +
    "index per micro-batch — the next batch dedups against them; replays " +
    "are no-ops on both legs") {
    implicit val sqlCtx = spark.sqlContext
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river " +
        "bank while the heron watches from the reeds in the morning light")
    ).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("ingest-sink").toString
    try {
      Dedup.writeBandedIndex(Dedup.buildDedupIndex(corpus, "doc_id", "text"),
        "ix_stream", buckets = 4)
      val sink = StreamingCurate.idempotentCurateIngestSink(out, "ix_stream",
        "doc_id", "text", bloom, minJaccard = 0.5)
      val batch0 = Seq(
        // near-dup of the landed corpus → filtered by the index
        (10L, "the quick brown fox jumps over the lazy cat near the old " +
          "river bank while the heron watches from the reeds in the morning light",
          ts("2013-01-01 10:00:00")),
        // novel → kept AND appended to the index
        (11L, "a completely new report about the harvest with plenty of the " +
          "usual words in it for the quality gate to like and to keep",
          ts("2013-01-01 10:00:05")))
      val in = MemoryStream[(Long, String, Timestamp)]
      val q = in.toDF().toDF("doc_id", "text", "ts")
        .writeStream.foreachBatch(sink).start()
      in.addData(batch0: _*)
      q.processAllAvailable()
      // batch 1 carries a near-dup of doc 11 — catchable ONLY because
      // batch 0's kept docs were appended within the stream
      in.addData((20L, "a completely new report about the orchard with " +
        "plenty of the usual words in it for the quality gate to like and " +
        "to keep", ts("2013-01-01 10:01:00")),
        (21L, "another genuinely novel piece of text with plenty of " +
          "ordinary words in it to pass the quality gate comfortably",
          ts("2013-01-01 10:01:30")))
      q.processAllAvailable()
      q.stop()
      def landed() = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(landed() == Set(11L, 21L),
        "10 filtered vs corpus, 20 filtered vs batch-0's kept doc")
      val sigsBefore = spark.table("ix_stream_sigs").count()
      assert(sigsBefore == 3, "corpus + the two kept docs")
      // the restart-retry shape: replay batch 0 — landing dir overwrites
      // itself, the index append reads as already-committed
      sink(batch0.toDF("doc_id", "text", "ts"), 0L)
      assert(landed() == Set(11L, 21L))
      assert(spark.table("ix_stream_sigs").count() == sigsBefore,
        "a replayed batch must not re-append to the index")
    } finally {
      Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ix_stream$s"))
    }
  }

  test("SpanIngest: streamed two-cycle ingest ≡ the CLI span-index loop " +
    "(gate → land → append per batch); replays are no-ops on both legs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SpanIngest
    // the exact RunnerSpec CLI-loop scenario, so the equivalence claim is
    // literal: same corpus, same two batches, same width and threshold
    val boiler = "all rights reserved contact the webmaster for takedown " +
      "requests and legal inquiries about this content"
    val corpus = Seq(
      (1L, s"first article body text with original words $boiler"),
      (2L, s"second article entirely different phrasing here $boiler")
    ).toDF("doc_id", "text")
    val batch0 = Seq(
      (10L, s"tiny note $boiler"), // boilerplate-dominated → gated
      (11L, "a long fresh report about tidal power generation economics " +
        "with enough words that no span matches the landed corpus at all"))
    val batch1 = Seq(
      // span-copy of doc 11 — gated ONLY if batch 0's kept docs joined
      // the index between the cycles
      (20L, "a long fresh report about tidal power generation economics " +
        "with enough words that no span matches the landed corpus at all " +
        "plus one extra tail clause"))
    val out = java.nio.file.Files.createTempDirectory("span-ingest").toString
    try {
      Dedup.writeSpanIndex(
        Dedup.buildSpanIndex(corpus, "doc_id", "text", n = 6),
        "span_ix_stream", buckets = 4)
      val sink = SpanIngest.sink(out, "span_ix_stream", "doc_id", "text",
        maxIndexedFrac = 0.5)
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream.foreachBatch(sink).start()
      in.addData(batch0: _*)
      q.processAllAvailable()
      in.addData(batch1: _*)
      q.processAllAvailable()
      q.stop()
      def landed() = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      // the CLI loop's pinned outcome on the same inputs: cycle 1 keeps
      // only the fresh doc, cycle 2 gates its span-copy — replayed here
      // through the FLAT ops exactly as span-index-build/filter/merge run
      val flatIx = Dedup.buildSpanIndex(corpus, "doc_id", "text", n = 6)
      val keep1 = Dedup.filterAgainstSpanIndex(batch0.toDF("doc_id", "text"),
        flatIx, "doc_id", "text", maxIndexedFrac = 0.5)
      val ix2 = Dedup.mergeSpanIndexes(flatIx,
        Dedup.buildSpanIndex(keep1, "doc_id", "text", n = 6))
      val keep2 = Dedup.filterAgainstSpanIndex(batch1.toDF("doc_id", "text"),
        ix2, "doc_id", "text", maxIndexedFrac = 0.5)
      val cliKept = keep1.select("doc_id").as[Long].collect().toSet ++
        keep2.select("doc_id").as[Long].collect().toSet
      assert(cliKept == Set(11L), "fixture sanity: CLI loop keeps only 11")
      assert(landed() == cliKept,
        "streamed ingest must land exactly what the CLI loop keeps")
      // the cross-cycle knowledge went through the INDEX: doc 11's spans
      // are served from the append epoch
      val p = Dedup.spanStatsAgainstBucketedIndex(
        batch1.toDF("doc_id", "text"), "span_ix_stream", "doc_id", "text")
        .head()
      assert(p.getAs[Double]("indexed_frac") > 0.5,
        "batch 0's kept spans must be servable in cycle 2")
      // the restart-retry shape: replay batch 0 — the landing dir
      // overwrites itself, the index append reads as already-committed
      val rowsBefore = spark.table("span_ix_stream_spans").count()
      sink(batch0.toDF("doc_id", "text"), 0L)
      assert(landed() == cliKept,
        "replaying a batch id must leave the landed corpus identical")
      assert(spark.table("span_ix_stream_spans").count() == rowsBefore,
        "a replayed batch must not re-append span rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS span_ix_stream_spans")
      spark.sql("DROP TABLE IF EXISTS span_ix_stream_meta")
    }
  }

  test("SpanIngest with a sketch pre-gate: two-stage ingest lands the same " +
    "corpus; the static sketch sheds early, the exact leg catches staleness") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SpanIngest
    // the exact scenario of the one-stage test, so the landed-set
    // equivalence claim is literal
    val boiler = "all rights reserved contact the webmaster for takedown " +
      "requests and legal inquiries about this content"
    val corpus = Seq(
      (1L, s"first article body text with original words $boiler"),
      (2L, s"second article entirely different phrasing here $boiler")
    ).toDF("doc_id", "text")
    val batch0 = Seq(
      (10L, s"tiny note $boiler"), // boilerplate-dominated → shed by the SKETCH
      (11L, "a long fresh report about tidal power generation economics " +
        "with enough words that no span matches the landed corpus at all"))
    val batch1 = Seq(
      // span-copy of doc 11: its spans joined the index AFTER the sketch
      // was built, so the static sketch passes it — only the exact
      // bucketed leg can gate it. The staleness split, exercised.
      (20L, "a long fresh report about tidal power generation economics " +
        "with enough words that no span matches the landed corpus at all " +
        "plus one extra tail clause"))
    val out = java.nio.file.Files.createTempDirectory("span-ingest-2s").toString
    try {
      val ix = Dedup.buildSpanIndex(corpus, "doc_id", "text", n = 6)
      Dedup.writeSpanIndex(ix, "span_ix_2stage", buckets = 4)
      // sketch built ONCE at "stream start" from the then-current index,
      // ample width (collision-free here): ≡ exact on the build corpus
      val sketch = Dedup.spanSketchFromIndex(ix)
      // division of labor, asserted directly: the sketch leg alone sheds
      // the boilerplate doc of batch 0 but NOT batch 1's span-copy (its
      // spans postdate the sketch)
      def sketchKept(rows: Seq[(Long, String)]) =
        Dedup.filterAgainstSpanSketch(rows.toDF("doc_id", "text"), sketch,
            "doc_id", "text", maxIndexedFrac = 0.5)
          .select("doc_id").as[Long].collect().toSet
      assert(sketchKept(batch0) == Set(11L),
        "the static sketch must shed the boilerplate doc pre-join")
      assert(sketchKept(batch1) == Set(20L),
        "spans appended after the sketch was built must pass the coarse leg")
      val sink = SpanIngest.sink(out, "span_ix_2stage", "doc_id", "text",
        maxIndexedFrac = 0.5, preGate = Some(sketch))
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text")
        .writeStream.foreachBatch(sink).start()
      in.addData(batch0: _*)
      q.processAllAvailable()
      in.addData(batch1: _*)
      q.processAllAvailable()
      q.stop()
      def landed() = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      // composed outcome == the one-stage loop's pinned outcome: 10 shed
      // coarse, 20 gated fine (via batch 0's append), 11 lands
      assert(landed() == Set(11L),
        "two-stage ingest must land exactly what the exact loop lands here")
      // replay still no-ops through the same key, pre-gate or not
      val rowsBefore = spark.table("span_ix_2stage_spans").count()
      sink(batch0.toDF("doc_id", "text"), 0L)
      assert(landed() == Set(11L) &&
        spark.table("span_ix_2stage_spans").count() == rowsBefore,
        "a replayed batch must not re-land or re-append with a pre-gate")
    } finally {
      spark.sql("DROP TABLE IF EXISTS span_ix_2stage_spans")
      spark.sql("DROP TABLE IF EXISTS span_ix_2stage_meta")
    }
  }

  test("IvfIngest: streamed embedding batches become servable exactly-once — " +
    "the ANN side of the lambda split") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.streaming.IvfIngest
    val rnd = new scala.util.Random(61)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0))
    def cloud(i: Int): Seq[Float] =
      centers(i % 2).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    def mk(ids: Range) = ids.map(i => (i.toLong, cloud(i)))
    val base = mk(0 until 40).toDF("vec_id", "embedding")
    val batch0 = mk(40 until 50)
    val batch1 = mk(50 until 60)
    val cents = Similarity.kmeansFit(base, "vec_id", "embedding", k = 2, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-stream").toString
    Similarity.writeLearnedIndex(base, "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(IvfIngest.sink(dir, "vec_id", "embedding"))
      .start()
    in.addData(batch0: _*)
    q.processAllAvailable()
    in.addData(batch1: _*)
    q.processAllAvailable()
    q.stop()
    // every streamed row is servable, exactly as a batch-built index
    // over the union would serve it (same quantizer on both sides)
    val all = base.union(batch0.toDF("vec_id", "embedding"))
      .union(batch1.toDF("vec_id", "embedding"))
    val queries = all.filter($"vec_id" >= 40 && $"vec_id" < 46)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val served = key(Similarity.serveLearnedIndex(dir, all, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val rebuilt = java.nio.file.Files.createTempDirectory("ivf-stream-rb").toString
    Similarity.writeLearnedIndex(all, "vec_id", "embedding", rebuilt,
      Similarity.IvfQuantizer(cents))
    assert(served == key(Similarity.serveLearnedIndex(rebuilt, all, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)),
      "streamed ingest must serve exactly what a batch rebuild serves")
    // the restart-retry shape: foreachBatch re-delivers a batch id with
    // the same rows — the keyed append reads as already-delivered
    IvfIngest.sink(dir, "vec_id", "embedding")(
      batch0.toDF("vec_id", "embedding"), 0L)
    assert(key(Similarity.serveLearnedIndex(dir, all, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)) == served,
      "a replayed batch must not change what serves")
    assert(spark.read.parquet(dir).groupBy("vec_id").count()
        .filter(col("count") > 1).count() == 0,
      "no row may be indexed twice")
    // empty batches (AvailableNow emits them freely) don't burn an epoch
    val epochs = spark.read.parquet(s"$dir/_epochs").count()
    IvfIngest.sink(dir, "vec_id", "embedding")(
      base.filter($"vec_id" < 0), 99L)
    assert(spark.read.parquet(s"$dir/_epochs").count() == epochs,
      "an empty batch must not commit an epoch")
  }

  test("IvfIngest.sink over the OPQ layout: streamed rows rotate + encode " +
    "exactly-once — replay no-ops, empty batches burn no epoch, streamed " +
    "≡ rebuilt") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.streaming.IvfIngest
    val rnd = new scala.util.Random(62)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0))
    def cloud(i: Int): Seq[Float] =
      centers(i % 2).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    def mk(ids: Range) = ids.map(i => (i.toLong, cloud(i)))
    val base = mk(0 until 40).toDF("vec_id", "embedding")
    val batch0 = mk(40 until 50)
    val batch1 = mk(50 until 60)
    // a REAL (non-identity) rotation — the coordinate-reversal
    // permutation: orthonormal and deterministic, so the test pins that
    // streamed rows are rotated before encoding (an unrotated append
    // would quantize against the wrong codebook geometry)
    val d = 6
    val rot = Array.tabulate(d, d)((i, j) => if (j == d - 1 - i) 1.0 else 0.0)
    val rotated = base
      .select($"vec_id", $"embedding".cast("array<double>").as("__v"))
      .select($"vec_id", Similarity.rotateExpr($"__v", rot).as("rv"))
    val cents = Similarity.kmeansFit(rotated, "vec_id", "rv", k = 2, iters = 4)
    val cb = Similarity.trainPqResidual(rotated, "vec_id", "rv", cents,
      m = 2, ksub = 8, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("opq-stream").toString
    Similarity.writeLearnedIndex(base, "vec_id", "embedding", dir,
      Similarity.IvfQuantizer(cents, Some(cb), Some(rot)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(IvfIngest.sink(dir, "vec_id", "embedding"))
      .start()
    in.addData(batch0: _*)
    q.processAllAvailable()
    in.addData(batch1: _*)
    q.processAllAvailable()
    q.stop()
    val all = base.union(batch0.toDF("vec_id", "embedding"))
      .union(batch1.toDF("vec_id", "embedding"))
    val queries = all.filter($"vec_id" >= 40 && $"vec_id" < 46)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn_id"))).toSet
    val served = key(Similarity.serveLearnedIndex(dir, all, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val rebuilt = java.nio.file.Files.createTempDirectory("opq-stream-rb").toString
    Similarity.writeLearnedIndex(all, "vec_id", "embedding", rebuilt,
      Similarity.IvfQuantizer(cents, Some(cb), Some(rot)))
    assert(served == key(Similarity.serveLearnedIndex(rebuilt, all, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)),
      "streamed OPQ ingest must serve exactly what a batch rebuild serves")
    // restart-retry: a replayed batch id reads as already-delivered
    assert(!Similarity.appendToLearnedIndex(
      batch0.toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
      Some("batch_0")), "replayed key must no-op")
    IvfIngest.sink(dir, "vec_id", "embedding")(
      batch0.toDF("vec_id", "embedding"), 0L)
    assert(key(Similarity.serveLearnedIndex(dir, all, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)) == served,
      "a replayed batch must not change what serves")
    assert(spark.read.parquet(dir).groupBy("vec_id").count()
        .filter(col("count") > 1).count() == 0,
      "no row may be indexed twice")
    // empty batches never burn an epoch
    val epochs = spark.read.parquet(s"$dir/_epochs").count()
    IvfIngest.sink(dir, "vec_id", "embedding")(
      base.filter($"vec_id" < 0), 99L)
    assert(spark.read.parquet(s"$dir/_epochs").count() == epochs,
      "an empty batch must not commit an epoch")
  }

  test("lambda topology: landing dir → curate-stream (index-filtered) → " +
    "periodic batch compaction + index refresh ≡ the batch-only pipeline") {
    // the full loop the library's lambda split describes: ingest curates
    // what a row can decide about itself (exact dup in-watermark, Bloom
    // decontamination, quality, near-dup vs the LANDED corpus via the
    // index); the periodic compaction closes the one gap a stream cannot
    // (near-dup pairs arriving in different micro-batches, neither known
    // to the index) and refreshes the index so the NEXT cycle knows the
    // stream-landed docs. Done right, the final corpus is exactly what
    // the batch-only pipeline computes over the same inputs.
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val corpus0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river " +
        "bank while the heron watches from the reeds in the morning light"),
      (2L, "a long and ordinary account of the village market day with " +
        "plenty of perfectly regular words for the quality gate")
    ).toDF("doc_id", "text")
    val index0 = graft.operators.Materialize.eagerCheckpoint(
      Dedup.buildDedupIndex(corpus0, "doc_id", "text"))
    val landing = java.nio.file.Files.createTempDirectory("lambda-landing").toString
    val out = java.nio.file.Files.createTempDirectory("lambda-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lambda-ckpt").toString
    val goodA = "a completely new report about the harvest with plenty of " +
      "the usual words in it for the quality gate to like and to keep"
    val goodB = "another genuinely novel piece of writing with plenty of " +
      "ordinary words in it to pass the quality gate comfortably"
    val batch1 = Seq(
      // near-dup of landed doc 1: the index filter drops it at ingest
      (10L, "the quick brown fox jumps over the lazy cat near the old river " +
        "bank while the heron watches from the reeds in the morning light",
        ts("2013-01-01 10:00:00")),
      (11L, goodA, ts("2013-01-01 10:00:05")), // novel: kept
      // contaminated vs the eval corpus: Bloom drops it
      (12L, "intro words alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa end", ts("2013-01-01 10:00:10")))
    val batch2 = Seq(
      // exact dup of 11 in a LATER micro-batch: the watermark state still
      // holds 11's content hash, so it is dropped across the batch seam
      (13L, goodA, ts("2013-01-01 10:00:15")),
      // the LAMBDA GAP doc: near-dup of 11, which arrived by stream and is
      // NOT in index0 — ingest keeps it; compaction must drop it
      (20L, goodA.replace("harvest", "orchard"), ts("2013-01-01 10:00:20")),
      (21L, "!!! ??? ### $$$", ts("2013-01-01 10:00:25")), // low quality: dropped
      (22L, goodB, ts("2013-01-01 10:00:30"))) // novel: kept
    def land(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit =
      rows.toDF("doc_id", "text", "ts").repartition(1)
        .write.mode("append").parquet(landing)
    land(batch1)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(landing)
    val q = StreamingCurate.dedupedStream(stream, "text", "ts")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(StreamingCurate.idempotentCurateSink(out, "doc_id", "text",
        bloom, index0, minJaccard = 0.5))
      .start()
    q.processAllAvailable()
    land(batch2)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(out)
    assert(landed.select("doc_id").as[Long].collect().toSet == Set(11L, 20L, 22L),
      "ingest keeps the novel docs AND the cross-batch near-dup it cannot see")
    // periodic compaction: batch curate over corpus0 ∪ landed — closes the
    // lambda gap (20 loses to 11) — then the index refresh
    val compacted = Pipeline.curate(
      corpus0.unionByName(landed.select("doc_id", "text")), evalDocs,
      minJaccard = 0.5)
    val cols = Seq("doc_id", "text", "quality_score", "n_emails", "redacted", "split")
    def key(df: org.apache.spark.sql.DataFrame) = df.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    // THE claim: ≡ the batch-only pipeline over the same raw inputs
    val allInputs = corpus0.unionByName(
      (batch1 ++ batch2).map(r => (r._1, r._2)).toDF("doc_id", "text"))
    assert(key(compacted) == key(Pipeline.curate(allInputs, evalDocs, minJaccard = 0.5)))
    assert(compacted.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L, 22L))
    // index refresh: the next cycle's index knows the STREAM-landed docs —
    // a near-dup of doc 22 is now filtered at ingest, which index0 missed
    val index1 = Dedup.buildDedupIndex(compacted, "doc_id", "text")
    val probe = Seq((30L, goodB.replace("ordinary", "everyday")))
      .toDF("doc_id", "text")
    assert(Dedup.filterAgainstIndex(probe, index1, "doc_id", "text",
      minJaccard = 0.5).count() == 0, "refreshed index must catch it")
    assert(Dedup.filterAgainstIndex(probe, index0, "doc_id", "text",
      minJaccard = 0.5).count() == 1, "the stale index is exactly what misses it")
  }

  test("idempotentCurateSemanticSink: quality gates + semantic gate in one " +
    "lifecycle — within-batch and cross-batch embedding near-dups gated, " +
    "replays no-op both legs, one-batch ≡ the batch composition") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Similarity, TextAnalysis}
    import graft.streaming.SemDedupIngest
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val centroids = Array(Array.fill(6)(9.0), Array.fill(6)(-9.0))
    val A: Seq[Float] = Seq.fill(6)(9.0f)
    val nearA: Seq[Float] = 9.3f +: Seq.fill(5)(9.0f) // cosine ≈ 0.9999 to A
    val nearA2: Seq[Float] = 8.7f +: Seq.fill(5)(9.0f)
    val B: Seq[Float] = Seq.fill(6)(-9.0f)
    val batch0 = Seq(
      // contaminated vs the eval corpus: Bloom drops it BEFORE the gate —
      // its embedding must never enter the kept set
      (10L, "intro words alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa end", A),
      // novel, good quality: admitted, joins the kept set
      (11L, "a completely new report about the harvest with plenty of the " +
        "usual words in it for the quality gate to like and to keep", A),
      // WITHIN-batch semantic near-dup of 11 (higher id loses, the id rule)
      (12L, "another genuinely novel piece of text with plenty of ordinary " +
        "words in it to pass the quality gate comfortably", nearA),
      (13L, "!!! ??? ### $$$", B)) // low quality: dropped pre-gate
    val batch1 = Seq(
      // CROSS-batch semantic near-dup of admitted 11: arrival wins
      (20L, "a third sufficiently long and ordinary piece of writing with " +
        "plenty of the usual words for the quality gate to keep", nearA2),
      // distinct cluster: admitted
      (21L, "a fourth sufficiently long and ordinary piece of writing with " +
        "plenty of the usual words for the quality gate to keep", B))
    val statePath = java.nio.file.Files.createTempDirectory("semcur-state").toString + "/gate"
    val out = java.nio.file.Files.createTempDirectory("semcur-out").toString
    SemDedupIngest.init(spark, statePath, centroids)
    val sink = StreamingCurate.idempotentCurateSemanticSink(out, statePath,
      "doc_id", "text", "embedding", bloom, minCosine = 0.95)
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = in.toDF().toDF("doc_id", "text", "embedding")
      .writeStream.foreachBatch(sink).start()
    in.addData(batch0: _*)
    q.processAllAvailable()
    in.addData(batch1: _*)
    q.processAllAvailable()
    q.stop()
    def landed() = spark.read.parquet(out)
    assert(landed().select("doc_id").as[Long].collect().toSet == Set(11L, 21L),
      "10 contaminated, 13 low-quality, 12 within-batch near-dup, " +
        "20 cross-batch near-dup of the admitted 11")
    // the landed rows are the CURATED rows (quality/redaction/split ride)
    val r11 = landed().filter($"doc_id" === 11L).collect().head
    assert(r11.getAs[Double]("quality_score") >= 0.5)
    assert(Set("train", "val", "test").contains(r11.getAs[String]("split")))
    // the kept-set state is exactly the admitted vectors
    assert(SemDedupIngest.keptSet(spark, statePath)
      .select("doc_id").as[Long].collect().toSet == Set(11L, 21L))
    // replay batch 0: ONE delivery token covers both legs — no landing
    // rewrite, no new epoch, kept set unchanged
    val epochsBefore = spark.read.parquet(s"$statePath/_epochs").count()
    sink(batch0.toDF("doc_id", "text", "embedding"), 0L)
    assert(landed().select("doc_id").as[Long].collect().toSet == Set(11L, 21L))
    assert(spark.read.parquet(s"$statePath/_epochs").count() == epochsBefore,
      "a replayed batch must not commit a new epoch")
    assert(landed().groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0, "no doc may land twice")
    // ONE-BATCH EQUIVALENCE (the q_curate_semantic claim): a single batch
    // of the whole corpus lands exactly what the batch composition keeps —
    // per-row gates, then semDedup over the survivors' embeddings
    val all = batch0 ++ batch1
    val statePath2 = java.nio.file.Files.createTempDirectory("semcur-st2").toString + "/gate"
    val out2 = java.nio.file.Files.createTempDirectory("semcur-out2").toString
    SemDedupIngest.init(spark, statePath2, centroids)
    StreamingCurate.idempotentCurateSemanticSink(out2, statePath2,
      "doc_id", "text", "embedding", bloom, minCosine = 0.95)(
      all.toDF("doc_id", "text", "embedding"), 0L)
    val survivors = TextAnalysis.withQuality(
        all.toDF("doc_id", "text", "embedding")
          .filter(!StreamingCurate.contaminated(col("text"), bloom)), "text")
      .filter(col("quality_score") >= 0.5)
    val batchKept = Similarity.semDedup(
        survivors.select(col("doc_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids, minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(spark.read.parquet(out2).select("doc_id").as[Long].collect().toSet
      == batchKept, "one-batch stream must equal the batch composition")
    assert(batchKept == Set(11L, 21L), "fixture sanity")
  }

  test("curateStream: dedup within watermark, Bloom decontamination, quality, " +
    "redaction, split — append stream") {
    implicit val sqlCtx = spark.sqlContext
    val bloom = StreamingCurate.evalShingleBloom(evalDocs, "doc_id", "text", k = 8)
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingCurate.curateStream(docs, "doc_id", "text", "ts", bloom,
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("curate_stream_out")
      .outputMode("append").start()

    val good = "the quick brown fox jumps over the lazy dog near the river " +
      "and it naps in the sun for a while mail me at a@b.co"
    in.addData(
      (1L, good, ts("2013-01-01 10:00:00")),
      (2L, good, ts("2013-01-01 10:00:05")), // exact dup within watermark: dropped
      (3L, "intro words alpha beta gamma delta epsilon zeta eta theta tail",
        ts("2013-01-01 10:00:10")), // contaminated: dropped
      (4L, "!!! ??? ### $$$", ts("2013-01-01 10:00:15"))) // low quality: dropped
    q.processAllAvailable()
    in.addData((5L, good + " but different tail words entirely here",
      ts("2013-01-01 10:00:20"))) // distinct text in a later batch: kept
    q.processAllAvailable()
    q.stop()

    val out = spark.table("curate_stream_out")
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L), s"kept: $kept")
    val r1 = out.filter($"doc_id" === 1L).collect().head
    assert(r1.getAs[Int]("n_emails") == 1)
    assert(r1.getAs[String]("redacted").contains("<EMAIL>"))
    assert(Set("train", "val", "test").contains(r1.getAs[String]("split")))
    assert(r1.getAs[Double]("quality_score") >= 0.5)
    // the kept rows match the batch operators applied to the same rows:
    // same quality score and same split for the same doc
    val batch = graft.operators.TextAnalysis.hashSplit(
      graft.operators.TextAnalysis.withPiiRedaction(
        graft.operators.TextAnalysis.withQuality(
          Seq((1L, good)).toDF("doc_id", "text"), "text"), "text"), "doc_id")
      .collect().head
    assert(batch.getAs[String]("split") == r1.getAs[String]("split"))
    assert(batch.getAs[Double]("quality_score") == r1.getAs[Double]("quality_score"))
  }
}
