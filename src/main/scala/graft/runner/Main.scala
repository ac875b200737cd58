package graft.runner

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftExtensions, Pipeline}
import graft.operators.Similarity
import graft.operators.Similarity.IvfKind
import graft.schemas.Schemas
import graft.streaming.Compactor

/** `spark-submit`-able entry point mirroring the reference's executable
  * stages plus its appender/mover daemon pair:
  *
  *  - `step1`: raw node CSV families → FRESCO long parquet, daily
  *    partitioned (reference `step-1/transformer.py:342`).
  *  - `step2`: FRESCO metrics ⋈ accounting CSV → 1-minute bucketed wide
  *    table (`step-2/consumer.py:815`).
  *  - `step3`: wide table → finalized strings (`step-3/final_cleanup.py:156`).
  *  - `compact`: watch a landing dir, append exactly-once into a daily
  *    layout (`step-1/appender.py:215` + `mover.py:27`); `--once` drains
  *    the backlog and exits (Trigger.AvailableNow), otherwise runs until
  *    terminated.
  *  - `curate`: the training-data curation pipeline (decontaminate →
  *    quality filter → near-dup removal → PII redaction → hash split) over
  *    a documents parquet — [[graft.Pipeline.curate]] as a CLI.
  *  - `index-build` / `index-append` / `index-filter` / `index-compact`:
  *    the incremental dedup-index lifecycle
  *    ([[graft.operators.Dedup.writeBandedIndex]] family) — build the
  *    banded index once, then per ingest cycle filter the new batch
  *    against it and append what was kept; compact when the per-append
  *    files warrant it (merges committed epochs WITHOUT re-shingling).
  *  - `span-index-build` / `span-index-merge` / `span-index-filter`: the
  *    span-frequency index ([[graft.operators.Dedup.buildSpanIndex]]
  *    family) — the ingest boilerplate gate; growth is the additive
  *    merge, no epoch machinery.
  *  - `mix`: token-budget mixture sampling
  *    ([[graft.operators.TextAnalysis.sampleByTokenBudget]]) — the final
  *    pass before training data ships.
  *  - `lm-train` / `lm-score` / `lm-filter`: the reference-LM perplexity
  *    gate ([[graft.operators.LanguageModel]]) — train+prune+persist a
  *    bigram model once, then score or threshold-filter every corpus or
  *    ingest batch against it (the CCNet deployment loop).
  *  - `bpe-train` / `bpe-encode`: distributed BPE tokenizer training
  *    ([[graft.operators.Bpe]]) — learn the merge vocabulary from the
  *    word-frequency table, persist it, and encode corpora with it.
  *  - `bm25-build` / `bm25-append` / `bm25-compact` / `bm25-merge` /
  *    `bm25-search` / `bm25-phrase` / `bm25-batch`: the inverted-index
  *    retrieval lifecycle plus phrase and batch-query serving
  *    ([[graft.operators.TextIndex]]) — build the term-sorted index,
  *    grow it per ingest batch (epoch append, meta-last; or the
  *    whole-index staged-swap merge), fold epochs back periodically,
  *    and serve ranked searches from it.
  *  - `ivf-*`, `pq-*` and `opq-*`: the learned-ANN index lifecycle
  *    ([[graft.operators.Similarity.writeLearnedIndex]] family), one
  *    body per step for three quantizer kinds — int8 codes, residual
  *    IVF-PQ codes, and the OPQ composition (a learned rotation, Ge et
  *    al. 2013, with both quantizers fit in the rotated space). The
  *    build verb picks the kind: it fits the quantizer and writes the
  *    partition-pruned layout with the quantizer riding beside it. Every
  *    other verb reads the kind from the path: `-query` serves a batch,
  *    `-append` adds an ingest batch under a committed epoch (servable
  *    at once, encoded by the riding quantizer), `-refresh` runs the
  *    drift-gated cycle (refit, measure
  *    [[graft.operators.Similarity.assignmentDrift]] in the stored
  *    rotation's space, rebuild only past tolerance), `-delete`
  *    tombstones ids, `-compact` folds the per-append files, and
  *    `-ingest` appends a landing-dir stream per micro-batch,
  *    exactly-once ([[graft.streaming.IvfIngest]]).
  *
  * Usage:
  * {{{
  * spark-submit --class graft.runner.Main graft.jar step1 \
  *   --block 'block-*.csv' --cpu 'cpu-*.csv' --llite 'llite-*.csv' \
  *   --mem 'mem-*.csv' --out fresco/ [--overwrite]
  * spark-submit --class graft.runner.Main graft.jar step2 \
  *   --metrics fresco/ --accounting acct.csv --out wide/
  * spark-submit --class graft.runner.Main graft.jar step3 --in wide/ --out final/
  * spark-submit --class graft.runner.Main graft.jar compact \
  *   --landing incoming/ --out daily/ --checkpoint ckpt/ [--once]
  * }}}
  */
object Main {

  private val Usage =
    """usage: graft.runner.Main <command> [options]
      |  step1   --block <glob> --cpu <glob> --llite <glob> --mem <glob> --out <dir> [--overwrite]
      |  step2   --metrics <path> --accounting <csv> --out <dir>
      |  step3   --in <wide-parquet> --out <dir>
      |  compact --landing <dir> --out <dir> --checkpoint <dir> [--once]
      |  curate  --in <docs-parquet> --eval <eval-parquet> --out <dir>
      |          [--id doc_id] [--text text] [--quality 0.5] [--jaccard 0.8] [--shingle-k 8]
      |  curate-stream --landing <dir> --eval <eval-parquet> --out <dir> --checkpoint <dir>
      |          [--id doc_id] [--text text] [--ts ts] [--watermark '10 minutes']
      |          [--quality 0.5] [--shingle-k 8] [--once]
      |  semgate-init --in <embeddings-parquet> --path <state-dir>
      |          [--id vec_id] [--embedding embedding] [--k 64] [--iters 5]
      |          (fit the frozen quantizer and create the semantic-gate state)
      |  curate-stream-semantic --landing <dir> --eval <eval-parquet> --out <dir>
      |          --state <semgate-dir> --checkpoint <dir>
      |          [--id doc_id] [--text text] [--embedding embedding]
      |          [--cosine 0.95] [--quality 0.5] [--shingle-k 8] [--once]
      |          (the full streaming curation capstone: quality gates +
      |           semantic dedup gate, exactly-once on both legs)
      |  index-build  --in <docs-parquet> --name <table>
      |          [--id doc_id] [--text text] [--buckets 256] [--bands 32]
      |          [--shingle-k 3] [--hashes 128]
      |  index-append --in <docs-parquet> --name <table> [--id doc_id] [--text text]
      |  index-filter --in <batch-parquet> --name <table> --out <dir>
      |          [--id doc_id] [--text text] [--jaccard 0.8]
      |  index-compact --name <table>
      |  index-delete --in <ids-parquet> --name <table> [--id doc_id]
      |  mix     --in <docs-parquet> --budgets <g=tokens[,g=tokens...]> --out <dir>
      |          [--id doc_id] [--text text] [--group source]
      |  lm-train  --in <docs-parquet> --path <model-dir>
      |          [--text text] [--alpha 0.5] [--prune-min <n>]
      |  lm-score  --in <docs-parquet> --path <model-dir> --out <dir>
      |          [--id doc_id] [--text text]
      |  lm-filter --in <docs-parquet> --path <model-dir> --out <dir>
      |          --max-xent <nats> [--id doc_id] [--text text] [--drop-unscored]
      |  bpe-train --in <docs-parquet> --path <merges-parquet>
      |          [--text text] [--merges 1000] [--min-pair 2]
      |  bpe-encode --in <docs-parquet> --path <merges-parquet> --out <dir>
      |          [--id doc_id] [--text text]
      |  bm25-build  --in <docs-parquet> --path <index-dir>
      |          [--id doc_id] [--text text] [--term-partitions 32]
      |  bm25-merge  --in <docs-parquet> --path <index-dir>
      |          [--id doc_id] [--text text] [--term-partitions 32]
      |  bm25-append --in <docs-parquet> --path <index-dir> --epoch <key>
      |          [--id doc_id] [--text text] [--term-partitions 32]
      |  bm25-compact --path <index-dir> [--term-partitions 32]
      |  bm25-search --path <index-dir> --query '<terms>' --out <dir>
      |          [--id doc_id] [--k1 1.2] [--b 0.75] [--topk 20]
      |  bm25-topk-build --path <index-dir> --out <topk-dir>
      |          [--term-partitions 32] [--k1 1.2] [--b 0.75]
      |  bm25-topk   --path <topk-dir> --query '<terms>' --out <dir>
      |          [--id doc_id] [--k 10] [--k1 1.2] [--b 0.75]
      |          (block-max pruned top-k; rounded deterministic cut)
      |  bm25-phrase --path <index-dir> --phrase '<exact phrase>' --out <dir>
      |          [--id doc_id] [--k1 1.2] [--b 0.75] [--topk 20]
      |  bm25-window --path <index-dir> --query '<terms>' [--window 5] --out <dir>
      |          [--id doc_id] [--k1 1.2] [--b 0.75] [--topk 20]
      |  bm25-batch  --path <index-dir> --queries <queries-parquet> --out <dir>
      |          [--id doc_id] [--query-id query_id] [--query-text query]
      |          [--k1 1.2] [--b 0.75] [--no-pushdown]
      |          (full per-query scored sets; no top-k; --no-pushdown for
      |           query tables past the driver-collect bound)
      |  bm25-phrase-batch --path <index-dir> --phrases <phrases-parquet> --out <dir>
      |          [--id doc_id] [--phrase-id phrase_id] [--phrase-text phrase]
      |          [--k1 1.2] [--b 0.75] [--no-pushdown]
      |          (full per-phrase match sets; no top-k)
      |  decontaminate-phrase --in <docs-parquet> --path <index-dir>
      |          --phrases <phrases-parquet> --out <dir>
      |          [--id doc_id] [--phrase-id phrase_id] [--phrase-text phrase]
      |          [--no-pushdown]  (drops docs containing any phrase verbatim)
      |  span-index-build  --in <docs-parquet> --path <dir>
      |          [--id doc_id] [--text text] [--span-n 8]
      |  span-index-merge  --path <index-dir> --in <docs-parquet> --out <dir>
      |          [--id doc_id] [--text text]
      |  span-index-filter --in <batch-parquet> --path <index-dir> --out <dir>
      |          [--id doc_id] [--text text] [--max-frac 0.5]
      |  ivf-build   --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding] [--k 32] [--iters 5]
      |          (the learned-ANN family: a build verb picks the quantizer
      |           kind - ivf int8, pq residual PQ, opq rotated residual
      |           PQ; the other ivf-/pq-/opq- verbs read it from --path)
      |  ivf-query   --in <queries-parquet> --corpus <embeddings-parquet>
      |          --path <dir> --out <dir> [--id vec_id] [--embedding embedding]
      |          [--topk 10] [--nprobe 2]
      |  ivf-refresh --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding] [--k <index's k>]
      |          [--iters 5] [--tolerance 0.1] [--fitsample 0]
      |          (--fitsample N bounds the drift-probe's fresh fit to an
      |           N-row md5 sample — the cheap-no-op dial; a triggered
      |           rebuild always refits on the full corpus)
      |  ivf-append  --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding]
      |  ivf-compact --path <dir> [--id vec_id]
      |  ivf-delete  --in <ids-parquet> --path <dir> [--id vec_id]
      |  ivf-ingest  --landing <dir> --path <dir> --checkpoint <dir>
      |          [--id vec_id] [--embedding embedding] [--once]
      |  opq-ingest  --landing <dir> --path <dir> --checkpoint <dir>
      |          [--id vec_id] [--embedding embedding] [--once]
      |          (ivf-ingest's keyed exactly-once sink: every learned path
      |           reads its own quantizer, so both verbs serve every kind)
      |  opq-build   --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding] [--k 32] [--m 8]
      |          [--ksub 16] [--iters 5] [--opqiters 2]
      |          (the OPQ composition: learned rotation + rotated-space
      |           coarse + residual codebooks, all three riding)
      |  opq-query   --in <queries-parquet> --corpus <embeddings-parquet>
      |          --path <dir> --out <dir> [--topk 10] [--nprobe 2] [--factor 4]
      |  opq-append  --in <embeddings-parquet> --path <dir>
      |  opq-refresh --in <embeddings-parquet> --path <dir>
      |          [--tolerance 0.1] [--k/--m/--ksub <index's>] [--opqiters 2]
      |          [--fitsample 0]
      |          (drift measured in the STORED rotation's space against a
      |           fresh rotated-space fit — every run pays that fit, full
      |           corpus by default or --fitsample N rows; past
      |           tolerance the rotation AND both quantizers retrain and
      |           the corpus re-encodes)
      |  pq-build    --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding] [--k 32] [--m 8]
      |          [--ksub 16] [--iters 5]
      |          (learned residual IVF-PQ: coarse k-means + per-subspace
      |           residual codebooks, both riding with the index)
      |  pq-query    --in <queries-parquet> --corpus <embeddings-parquet>
      |          --path <dir> --out <dir> [--id vec_id] [--embedding embedding]
      |          [--topk 10] [--nprobe 2] [--factor 4]
      |  pq-refresh  --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding] [--k <index's k>]
      |          [--m <index's m>] [--ksub <index's ksub>] [--iters 5]
      |          [--tolerance 0.1] [--fitsample 0]
      |          (coarse-drift check; above tolerance retrains BOTH
      |           quantizers and re-encodes — codes are derived data.
      |           COST NOTE: drift is measured against a FRESH coarse
      |           fit, so every run — including the common no-op
      |           refresh — pays one full k-means fit over the corpus;
      |           schedule accordingly, it is the price of an honest
      |           drift number rather than a stale-centroid heuristic)
      |  pq-append   --in <embeddings-parquet> --path <dir>
      |          [--id vec_id] [--embedding embedding]
      |  pq-compact  --path <dir> [--id vec_id]
      |  pq-delete   --in <ids-parquet> --path <dir> [--id vec_id]
      |  quality-train --in <labeled-docs-parquet> --path <model-dir>
      |          [--text text] [--label label] [--dim 65536] [--iters 12]
      |          [--lr 0.5] [--l2 1e-6] [--sample 1.0]
      |          (fasttext-style linear quality gate: distributed logreg
      |           over hashed presence unigrams; persists the fixed-point
      |           serving weights)
      |  quality-score --in <docs-parquet> --path <model-dir> --out <dir>
      |          [--id doc_id] [--text text] [--threshold <p>]
      |          (serve: exact integer margins + sigmoid p per doc; with
      |           --threshold keep only docs at p >= threshold)
      |  mm-index-build  --in <assets-parquet> --name <table>
      |          [--modality image|audio|video] [--buckets 256] [--bands 4]
      |          (decode + hash each asset ONCE — 8 bytes out — and
      |           persist the banded 64-bit hash table; the multimodal
      |           near-dup index)
      |  mm-index-append --in <assets-parquet> --name <table>
      |          [--modality image|audio|video]
      |  mm-index-delete --in <ids-parquet> --name <table> [--id asset_id]
      |  mm-index-compact --name <table>
      |  mm-index-pairs  --in <assets-parquet> --name <table> --out <dir>
      |          [--modality image|audio|video] [--hamming 3]
      |          (serve: near-dup pairs of the new batch against the
      |           persisted hash table; only the batch is decoded)
      |  mm-index-ingest --landing <dir> --name <table> --checkpoint <dir>
      |          [--modality image|audio|video] [--once]
      |          (continuous ingest: per micro-batch idempotent append)
      |  mm-keep --in <assets-parquet> --out <dir> [--modality image|audio|video]
      |          (batch keep-set: verified near-dup pairs -> connected
      |           components -> keep min asset id per cluster)""".stripMargin

  def main(args: Array[String]): Unit = {
    // the ivf-refresh trajectory line is a grep contract ("drift=0.1234");
    // a comma-decimal default locale would break it — pin the root locale
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = session()
    try run(args.toIndexedSeq, spark)
    finally spark.stop()
  }

  /** Session for `spark-submit` (master/deploy conf comes from the
    * submitter); falls back to `local[*]` for direct invocation. */
  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    (if (sys.props.contains("spark.master")) b
     else b.master("local[*]")
       .config("spark.sql.shuffle.partitions",
         Runtime.getRuntime.availableProcessors.toString))
      .getOrCreate()
  }

  /** CLI body, separated from `main` so tests drive the exact arg-parse +
    * execution path against the suite's session (which must outlive the
    * call). */
  def run(args: Seq[String], spark: SparkSession): Unit = args.headOption match {
    case Some("step1") =>
      val (opt, flags) = parse(args.tail)
      Pipeline.writeDaily(
        Pipeline.step1(spark, req(opt, "block"), req(opt, "cpu"),
          req(opt, "llite"), req(opt, "mem")),
        req(opt, "out"), overwrite = flags("overwrite"))

    case Some("step2") =>
      val (opt, _) = parse(args.tail)
      // resolve every required option before touching IO — bad args fail
      // fast instead of after a partial read
      val (metrics, acct, out) = (req(opt, "metrics"), req(opt, "accounting"), req(opt, "out"))
      writeOut(Pipeline.step2(spark, metrics, acct), out)

    case Some("step3") =>
      val (opt, _) = parse(args.tail)
      val (in, out) = (req(opt, "in"), req(opt, "out"))
      writeOut(Pipeline.step3(spark.read.parquet(in)), out)

    case Some("compact") =>
      val (opt, flags) = parse(args.tail)
      val q = Compactor.start(spark, req(opt, "landing"), req(opt, "out"),
        req(opt, "checkpoint"), Schemas.fresco, trigger(flags))
      q.awaitTermination() // AvailableNow self-terminates after the drain

    case Some("curate") =>
      val (opt, _) = parse(args.tail)
      // resolve required options before touching IO (fail fast, like step2)
      val (in, evalIn, out) = (req(opt, "in"), req(opt, "eval"), req(opt, "out"))
      writeOut(Pipeline.curate(
          spark.read.parquet(in), spark.read.parquet(evalIn),
          idCol = opt.getOrElse("id", "doc_id"),
          textCol = opt.getOrElse("text", "text"),
          minQuality = opt.getOrElse("quality", "0.5").toDouble,
          minJaccard = opt.getOrElse("jaccard", "0.8").toDouble,
          shingleK = opt.getOrElse("shingle-k", "8").toInt), out)

    case Some("curate-stream") =>
      // the continuous flavor of `curate`: watch a landing dir of document
      // parquet, curate each micro-batch (watermarked exact dedup + Bloom
      // decontamination + quality + redaction + split), append exactly-once
      // via the checkpointed parquet sink. Near-dup removal stays with the
      // batch `curate` pass over the landed output (see StreamingCurate).
      val (opt, flags) = parse(args.tail)
      val (landing, evalIn, out, ckpt) =
        (req(opt, "landing"), req(opt, "eval"), req(opt, "out"), req(opt, "checkpoint"))
      val (idCol, textCol, tsCol) = (opt.getOrElse("id", "doc_id"),
        opt.getOrElse("text", "text"), opt.getOrElse("ts", "ts"))
      val shingleK = opt.getOrElse("shingle-k", "8").toInt
      val bloom = graft.streaming.StreamingCurate.evalShingleBloom(
        spark.read.parquet(evalIn), idCol, textCol, k = shingleK)
      // file streaming sources need an explicit schema: snapshot it from
      // the landing dir's existing files (seed the dir before starting)
      val schema = spark.read.parquet(landing).schema
      val q = graft.streaming.StreamingCurate.curateStream(
          spark.readStream.schema(schema).parquet(landing),
          idCol, textCol, tsCol, bloom,
          watermarkDelay = opt.getOrElse("watermark", "10 minutes"),
          minQuality = opt.getOrElse("quality", "0.5").toDouble)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(trigger(flags)).start()
      q.awaitTermination() // AvailableNow self-terminates after the drain

    case Some("semgate-init") =>
      val (opt, _) = parse(args.tail)
      val (in, path) = (req(opt, "in"), req(opt, "path"))
      graft.streaming.SemDedupIngest.init(spark, path,
        graft.operators.Similarity.kmeansFit(spark.read.parquet(in),
          opt.getOrElse("id", "vec_id"),
          opt.getOrElse("embedding", "embedding"),
          k = opt.getOrElse("k", "64").toInt,
          iters = opt.getOrElse("iters", "5").toInt))

    case Some("curate-stream-semantic") =>
      // the FULL streaming curation capstone: per micro-batch, the per-row
      // quality gates plus the SEMANTIC dedup gate against the persisted
      // kept set at --state (semgate-init first), admitted docs landing
      // batch-keyed — exactly-once on both legs, replays no-op
      // (StreamingCurate.idempotentCurateSemanticSink)
      val (opt, flags) = parse(args.tail)
      val (landing, evalIn, out, state, ckpt) =
        (req(opt, "landing"), req(opt, "eval"), req(opt, "out"),
          req(opt, "state"), req(opt, "checkpoint"))
      val (idCol, textCol) =
        (opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"))
      val bloom = graft.streaming.StreamingCurate.evalShingleBloom(
        spark.read.parquet(evalIn), idCol, textCol,
        k = opt.getOrElse("shingle-k", "8").toInt)
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema).parquet(landing)
        .writeStream
        .foreachBatch(graft.streaming.StreamingCurate
          .idempotentCurateSemanticSink(out, state, idCol, textCol,
            opt.getOrElse("embedding", "embedding"), bloom,
            minCosine = opt.getOrElse("cosine", "0.95").toDouble,
            minQuality = opt.getOrElse("quality", "0.5").toDouble))
        .option("checkpointLocation", ckpt)
        .trigger(trigger(flags)).start()
      q.awaitTermination()

    // the incremental-ingest loop as CLI: build the banded dedup index
    // once over the landed corpus, then per ingest cycle `index-filter`
    // the new batch (write the kept docs) and `index-append` them — every
    // serve stays one-sided, the index is never rebuilt per batch, and
    // the epoch-commit protocol makes a crashed step safely re-runnable.
    case Some("index-build") =>
      val (opt, _) = parse(args.tail)
      val (in, name) = (req(opt, "in"), req(opt, "name"))
      val index = graft.operators.Materialize.eagerCheckpoint(
        graft.operators.Dedup.buildDedupIndex(
          spark.read.parquet(in),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          shingleK = opt.getOrElse("shingle-k", "3").toInt,
          numHashes = opt.getOrElse("hashes", "128").toInt))
      graft.operators.Dedup.writeBandedIndex(index, name,
        buckets = opt.getOrElse("buckets", "256").toInt,
        bands = opt.getOrElse("bands", "32").toInt)

    case Some("index-append") =>
      val (opt, _) = parse(args.tail)
      val (in, name) = (req(opt, "in"), req(opt, "name"))
      graft.operators.Dedup.appendToBandedIndex(spark.read.parquet(in), name,
        opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"))

    case Some("index-compact") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Dedup.compactBandedIndex(spark, req(opt, "name"))

    // the takedown, dedup side: ids (no text needed) tombstoned out of
    // matching immediately; the next index-compact makes it physical
    case Some("index-delete") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Dedup.deleteFromBandedIndex(
        spark.read.parquet(req(opt, "in")), req(opt, "name"),
        opt.getOrElse("id", "doc_id"))

    // the span-frequency index lifecycle: build once over the landed
    // corpus, score/gate each ingest batch against it, grow it by the
    // additive merge — counts sum, so growth needs no epoch machinery,
    // just read-merge-overwrite (write aside + swap by the caller if the
    // index must stay servable during the merge)
    // token-budget mixture sampling: the final pass before training data
    // ships — per-group budgets as group=tokens pairs
    case Some("mix") =>
      val (opt, _) = parse(args.tail)
      val budgets = req(opt, "budgets").split(',').map { kv =>
        kv.split('=') match {
          case Array(g, b) => g -> b.toLong
          case _ => throw new IllegalArgumentException(
            s"--budgets expects group=tokens[,group=tokens...], got '$kv'")
        }
      }.toMap
      writeOut(graft.operators.TextAnalysis.sampleByTokenBudget(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          opt.getOrElse("group", "source"), budgets), req(opt, "out"))

    case Some("lm-train") =>
      // train a bigram reference LM and persist it (meta-last commit);
      // --prune-min drops low-count bigrams so the served model
      // broadcasts (the CCNet deployment shape: train on a reference
      // corpus once, gate every ingest batch against it)
      val (opt, _) = parse(args.tail)
      val lm0 = graft.operators.LanguageModel.train(
        spark.read.parquet(req(opt, "in")),
        opt.getOrElse("text", "text"),
        alpha = opt.getOrElse("alpha", "0.5").toDouble)
      val lm = opt.get("prune-min").map(_.toLong)
        .fold(lm0)(graft.operators.LanguageModel.prune(lm0, _))
      graft.operators.LanguageModel.write(lm, req(opt, "path"))

    case Some("lm-score") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.LanguageModel.crossEntropy(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          graft.operators.LanguageModel.read(spark, req(opt, "path"))), req(opt, "out"))

    case Some("lm-filter") =>
      val (opt, flags) = parse(args.tail)
      writeOut(graft.operators.LanguageModel.filterByCrossEntropy(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          graft.operators.LanguageModel.read(spark, req(opt, "path")),
          maxXent = req(opt, "max-xent").toDouble,
          keepUnscored = !flags("drop-unscored")), req(opt, "out"))

    case Some("bpe-train") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Bpe.writeMerges(spark,
        graft.operators.Bpe.train(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("text", "text"),
          numMerges = opt.getOrElse("merges", "1000").toInt,
          minPairCount = opt.getOrElse("min-pair", "2").toLong),
        req(opt, "path"))

    case Some("bpe-encode") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.Bpe.encode(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          graft.operators.Bpe.readMerges(spark, req(opt, "path"))), req(opt, "out"))

    case Some("bm25-build") =>
      val (opt, _) = parse(args.tail)
      graft.operators.TextIndex.write(
        graft.operators.TextIndex.build(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text")),
        req(opt, "path"),
        termPartitions = opt.getOrElse("term-partitions", "32").toInt)

    case Some("bm25-merge") =>
      // additive growth: index an id-disjoint batch and fold it into the
      // persisted index (merge ≡ rebuild over the union, spec-pinned).
      // Rename-ASIDE swap (the compactDaily/readFilterWriteback shape):
      // the old index moves to _old before the staged one lands, so a
      // crash at ANY point leaves a complete servable copy on disk —
      // either live, or at _old/_staging with the recovery named in the
      // error path (a delete-then-rename swap would have a window where
      // the only complete index sits silently at _staging)
      val (opt, _) = parse(args.tail)
      val path = req(opt, "path")
      val merged = graft.operators.TextIndex.merge(
        graft.operators.TextIndex.read(spark, path),
        graft.operators.TextIndex.build(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text")))
      val staged = path + "_staging"
      graft.operators.TextIndex.write(merged, staged,
        termPartitions = opt.getOrElse("term-partitions", "32").toInt)
      graft.operators.TextIndex.replaceIndex(spark, path, staged)

    case Some("bm25-append") =>
      // the per-ingest-cycle growth step: land the batch as one committed
      // epoch (meta-last; nothing existing is read or touched) — cheaper
      // than bm25-merge's whole-index rewrite, at the cost of per-epoch
      // files until bm25-compact folds them
      val (opt, _) = parse(args.tail)
      graft.operators.TextIndex.appendEpoch(
        spark.read.parquet(req(opt, "in")), req(opt, "path"),
        opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
        epoch = req(opt, "epoch"),
        termPartitions = opt.getOrElse("term-partitions", "32").toInt)

    case Some("bm25-compact") =>
      val (opt, _) = parse(args.tail)
      graft.operators.TextIndex.compact(spark, req(opt, "path"),
        termPartitions = opt.getOrElse("term-partitions", "32").toInt)

    case Some("bm25-topk-build") =>
      // derive the impact-blocked top-k serving layout from a committed
      // epoch index — the compaction-cadence rebuild (block-max layouts
      // are static-index artifacts; incremental growth stays with the
      // epoch layout this one is derived from)
      val (opt, _) = parse(args.tail)
      graft.operators.TextIndex.writeTopK(
        graft.operators.TextIndex.read(spark, req(opt, "path")),
        req(opt, "out"),
        termPartitions = opt.getOrElse("term-partitions", "32").toInt,
        k1 = opt.getOrElse("k1", "1.2").toDouble,
        b = opt.getOrElse("b", "0.75").toDouble)

    case Some("bm25-topk") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.TextIndex.bm25TopK(
          graft.operators.TextIndex.readTopK(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"), req(opt, "query"),
          k = opt.getOrElse("k", "10").toInt,
          k1 = opt.getOrElse("k1", "1.2").toDouble,
          b = opt.getOrElse("b", "0.75").toDouble), req(opt, "out"))

    case Some("bm25-search") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.TextIndex.bm25(
          graft.operators.TextIndex.read(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"), req(opt, "query"),
          k1 = opt.getOrElse("k1", "1.2").toDouble,
          b = opt.getOrElse("b", "0.75").toDouble)
        .orderBy(org.apache.spark.sql.functions.col("score").desc,
          org.apache.spark.sql.functions.col(opt.getOrElse("id", "doc_id")))
        .limit(opt.getOrElse("topk", "20").toInt), req(opt, "out"))

    case Some("bm25-phrase") =>
      // exact-phrase retrieval from the positional postings: every doc
      // containing the phrase verbatim, ranked by phrase-as-one-term BM25
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.TextIndex.bm25Phrase(
          graft.operators.TextIndex.read(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"), req(opt, "phrase"),
          k1 = opt.getOrElse("k1", "1.2").toDouble,
          b = opt.getOrElse("b", "0.75").toDouble)
        .orderBy(org.apache.spark.sql.functions.col("score").desc,
          org.apache.spark.sql.functions.col(opt.getOrElse("id", "doc_id")))
        .limit(opt.getOrElse("topk", "20").toInt), req(opt, "out"))

    case Some("bm25-window") =>
      // near-verbatim decontamination: all query terms within --window
      // tokens of the first term, any order
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.TextIndex.bm25Window(
          graft.operators.TextIndex.read(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"), req(opt, "query"),
          window = opt.getOrElse("window", "5").toInt,
          k1 = opt.getOrElse("k1", "1.2").toDouble,
          b = opt.getOrElse("b", "0.75").toDouble)
        .orderBy(org.apache.spark.sql.functions.col("score").desc,
          org.apache.spark.sql.functions.col(opt.getOrElse("id", "doc_id")))
        .limit(opt.getOrElse("topk", "20").toInt), req(opt, "out"))

    case Some("decontaminate-phrase") =>
      // the eval-leakage gate: drop every training doc containing ANY of
      // the eval phrases verbatim, verified against the positional index
      // in one postings scan (the n-gram-overlap sibling is `curate`'s
      // Dedup.decontaminate; the near-verbatim dial is bm25-window)
      val (opt, flags) = parse(args.tail)
      writeOut(graft.operators.TextIndex.decontaminatePhrases(
          spark.read.parquet(req(opt, "in")),
          graft.operators.TextIndex.read(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"),
          spark.read.parquet(req(opt, "phrases")),
          opt.getOrElse("phrase-id", "phrase_id"),
          opt.getOrElse("phrase-text", "phrase"),
          pushdownTerms = !flags("no-pushdown")), req(opt, "out"))

    case Some("bm25-phrase-batch") =>
      // N eval phrases verified verbatim in one pass — the
      // decontamination-forensics loop's bulk form. --no-pushdown routes
      // a huge phrase table through the distributed-materialization path
      // (the MaxPushdownUnits driver-collect guard names this flag)
      val (opt, flags) = parse(args.tail)
      writeOut(graft.operators.TextIndex.bm25PhraseBatch(
          graft.operators.TextIndex.read(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"),
          spark.read.parquet(req(opt, "phrases")),
          opt.getOrElse("phrase-id", "phrase_id"),
          opt.getOrElse("phrase-text", "phrase"),
          k1 = opt.getOrElse("k1", "1.2").toDouble,
          b = opt.getOrElse("b", "0.75").toDouble,
          pushdownTerms = !flags("no-pushdown")), req(opt, "out"))

    case Some("bm25-batch") =>
      // the decontamination shape: a parquet TABLE of queries scored in
      // one pass over the index (full scored sets — batch callers apply
      // their own per-query cuts downstream); --no-pushdown as above
      val (opt, flags) = parse(args.tail)
      writeOut(graft.operators.TextIndex.bm25Batch(
          graft.operators.TextIndex.read(spark, req(opt, "path")),
          opt.getOrElse("id", "doc_id"),
          spark.read.parquet(req(opt, "queries")),
          opt.getOrElse("query-id", "query_id"),
          opt.getOrElse("query-text", "query"),
          k1 = opt.getOrElse("k1", "1.2").toDouble,
          b = opt.getOrElse("b", "0.75").toDouble,
          pushdownTerms = !flags("no-pushdown")), req(opt, "out"))

    case Some("span-index-build") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.Dedup.buildSpanIndex(
          spark.read.parquet(req(opt, "in")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          n = opt.getOrElse("span-n", "8").toInt), req(opt, "path"))

    case Some("span-index-merge") =>
      val (opt, _) = parse(args.tail)
      val (path, in, out) = (req(opt, "path"), req(opt, "in"), req(opt, "out"))
      writeOut(graft.operators.Dedup.mergeSpanIndexes(
          spark.read.parquet(path),
          graft.operators.Dedup.buildSpanIndex(
            spark.read.parquet(in),
            opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
            // width read from the EXISTING index so the merged batch is
            // shingled consistently; mergeSpanIndexes re-checks
            n = spark.read.parquet(path).select("span_n").head().getInt(0))), out)

    case Some("span-index-filter") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.Dedup.filterAgainstSpanIndex(
          spark.read.parquet(req(opt, "in")),
          spark.read.parquet(req(opt, "path")),
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          maxIndexedFrac = opt.getOrElse("max-frac", "0.5").toDouble), req(opt, "out"))

    // the learned-ANN lifecycle as CLI, one body per step for the three
    // kinds (`ivf-` int8, `pq-` residual PQ, `opq-` rotated residual PQ).
    // Only the build picks the kind; every other verb reads the quantizer
    // — and so the kind — from the path, so the verbs of one path can
    // never disagree about centroids. Each verb reads exactly its own
    // flags.
    case Some(verb @ ("ivf-build" | "pq-build" | "opq-build")) =>
      val (opt, _) = parse(args.tail)
      val (in, path) = (req(opt, "in"), req(opt, "path"))
      val corpus = spark.read.parquet(in)
      val (idCol, embCol) = (opt.getOrElse("id", "vec_id"),
        opt.getOrElse("embedding", "embedding"))
      // OPQ trains the rotation FIRST (Ge et al. 2013), then the coarse
      // and residual quantizers in the rotated space
      Similarity.writeLearnedIndex(corpus, idCol, embCol, path,
        Similarity.fitIvfQuantizer(ivfKind(verb), corpus, idCol, embCol,
          k = opt.getOrElse("k", "32").toInt,
          m = kindFlag(opt, verb, "m", 8, IvfKind.Pq, IvfKind.Opq),
          ksub = kindFlag(opt, verb, "ksub", 16, IvfKind.Pq, IvfKind.Opq),
          iters = opt.getOrElse("iters", "5").toInt,
          opqIters = kindFlag(opt, verb, "opqiters", 2, IvfKind.Opq)))

    case Some(verb @ ("ivf-query" | "pq-query" | "opq-query")) =>
      val (opt, _) = parse(args.tail)
      val (in, corpusIn, path, out) =
        (req(opt, "in"), req(opt, "corpus"), req(opt, "path"), req(opt, "out"))
      writeOut(Similarity.serveLearnedIndex(path,
          spark.read.parquet(corpusIn), spark.read.parquet(in),
          opt.getOrElse("id", "vec_id"), opt.getOrElse("embedding", "embedding"),
          k = opt.getOrElse("topk", "10").toInt,
          nprobe = opt.getOrElse("nprobe", "2").toInt,
          // ivf-query has no --factor
          candidateFactor = if (verb == "ivf-query") 4
            else opt.getOrElse("factor", "4").toInt), out)

    // the drift-gated refresh: cheap below tolerance (a fit + a bounded
    // sample probe, no write); --fitsample bounds the drift-probe's fit
    case Some(verb @ ("ivf-refresh" | "pq-refresh" | "opq-refresh")) =>
      val (opt, _) = parse(args.tail)
      val (in, path) = (req(opt, "in"), req(opt, "path"))
      // defaults 0 = keep the index's own cell count and PQ geometry (an
      // accidental mismatch would read as full drift and force a rebuild
      // per cycle)
      val r = Similarity.refreshLearnedIndex(path, spark.read.parquet(in),
        opt.getOrElse("id", "vec_id"), opt.getOrElse("embedding", "embedding"),
        k = opt.getOrElse("k", "0").toInt,
        m = kindFlag(opt, verb, "m", 0, IvfKind.Pq, IvfKind.Opq),
        ksub = kindFlag(opt, verb, "ksub", 0, IvfKind.Pq, IvfKind.Opq),
        iters = opt.getOrElse("iters", "5").toInt,
        opqIters = kindFlag(opt, verb, "opqiters", 2, IvfKind.Opq),
        driftTolerance = opt.getOrElse("tolerance", "0.1").toDouble,
        fitSampleRows = opt.getOrElse("fitsample", "0").toInt)
      // the one-line trajectory record a scheduler greps for
      println(f"$verb: drift=${r.drift}%.4f rebuilt=${r.rebuilt}")

    // the per-ingest-cycle step between refreshes: encode the new vectors
    // with the index's own riding quantizer and append them under a fresh
    // committed epoch — new data becomes servable immediately
    case Some("ivf-append" | "pq-append" | "opq-append") =>
      val (opt, _) = parse(args.tail)
      Similarity.appendToLearnedIndex(spark.read.parquet(req(opt, "in")),
        req(opt, "path"), opt.getOrElse("id", "vec_id"),
        opt.getOrElse("embedding", "embedding"))

    case Some("ivf-compact" | "pq-compact") =>
      val (opt, _) = parse(args.tail)
      Similarity.compactLearnedIndex(spark, req(opt, "path"),
        opt.getOrElse("id", "vec_id"))

    // the takedown: ids (no vectors needed) tombstoned out of serving
    // immediately; the next compact makes the removal physical
    case Some("ivf-delete" | "pq-delete") =>
      val (opt, _) = parse(args.tail)
      Similarity.deleteFromLearnedIndex(spark.read.parquet(req(opt, "in")),
        req(opt, "path"), opt.getOrElse("id", "vec_id"))

    // continuous ANN-index maintenance: watch a landing dir of embedding
    // parquet, append each micro-batch to the served index exactly-once
    // (batch-id-keyed epochs — restarts and replays are no-ops). `--once`
    // drains the backlog and exits; run the refresh / compact verbs on
    // the batch cadence around a paused stream (single-writer).
    case Some("ivf-ingest" | "opq-ingest") =>
      val (opt, flags) = parse(args.tail)
      val (landing, path, ckpt) =
        (req(opt, "landing"), req(opt, "path"), req(opt, "checkpoint"))
      // file streaming sources need an explicit schema: snapshot it from
      // the landing dir's existing files (seed the dir before starting)
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema).parquet(landing)
        .writeStream
        .foreachBatch(graft.streaming.IvfIngest.sink(path,
          opt.getOrElse("id", "vec_id"), opt.getOrElse("embedding", "embedding")))
        .option("checkpointLocation", ckpt)
        .trigger(trigger(flags)).start()
      q.awaitTermination() // AvailableNow self-terminates after the drain

    case Some("index-filter") =>
      val (opt, _) = parse(args.tail)
      val (in, name, out) = (req(opt, "in"), req(opt, "name"), req(opt, "out"))
      writeOut(graft.operators.Dedup.filterAgainstBandedIndex(
          spark.read.parquet(in), name,
          opt.getOrElse("id", "doc_id"), opt.getOrElse("text", "text"),
          minJaccard = opt.getOrElse("jaccard", "0.8").toDouble), out)

    case Some("quality-train") =>
      val (opt, _) = parse(args.tail)
      val (in, path) = (req(opt, "in"), req(opt, "path"))
      graft.operators.TextClassifier.save(
        graft.operators.TextClassifier.train(
          spark.read.parquet(in),
          opt.getOrElse("text", "text"), opt.getOrElse("label", "label"),
          dim = opt.getOrElse("dim", "65536").toInt,
          iters = opt.getOrElse("iters", "12").toInt,
          lr = opt.getOrElse("lr", "0.5").toDouble,
          l2 = opt.getOrElse("l2", "1e-6").toDouble,
          sampleFraction = opt.getOrElse("sample", "1.0").toDouble),
        path, spark)

    case Some("quality-score") =>
      val (opt, _) = parse(args.tail)
      val (in, path, out) = (req(opt, "in"), req(opt, "path"), req(opt, "out"))
      val scored = graft.operators.TextClassifier.score(
        spark.read.parquet(in), opt.getOrElse("id", "doc_id"),
        opt.getOrElse("text", "text"),
        graft.operators.TextClassifier.load(spark, path))
      writeOut(opt.get("threshold").map(_.toDouble)
        .fold(scored)(t =>
          scored.filter(org.apache.spark.sql.functions.col("p") >= t)), out)

    // multimodal hash-index lifecycle: persist 64-bit content hashes
    // (image dHash / audio fingerprint) in the banded serving layout,
    // grow per ingest batch, tombstone takedowns, compact, serve
    // near-dup pairs of a new batch — assets are decoded ONCE at ingest,
    // never re-decoded at serve time
    case Some("mm-index-build") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Dedup.writeHashIndex(
        mmHashes(spark.read.parquet(req(opt, "in")), opt),
        req(opt, "name"),
        buckets = opt.getOrElse("buckets", "256").toInt,
        bands = opt.getOrElse("bands",
          graft.operators.Dedup.MmBands.toString).toInt)

    case Some("mm-index-append") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Dedup.appendToHashIndex(
        mmHashes(spark.read.parquet(req(opt, "in")), opt), req(opt, "name"))

    case Some("mm-index-delete") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Dedup.deleteFromHashIndex(
        spark.read.parquet(req(opt, "in")), req(opt, "name"),
        opt.getOrElse("id", "asset_id"))

    case Some("mm-index-compact") =>
      val (opt, _) = parse(args.tail)
      graft.operators.Dedup.compactHashIndex(spark, req(opt, "name"))

    case Some("mm-index-pairs") =>
      val (opt, _) = parse(args.tail)
      writeOut(graft.operators.Dedup.pairsAgainstHashIndex(
          mmHashes(spark.read.parquet(req(opt, "in")), opt),
          req(opt, "name"),
          maxHamming = opt.getOrElse("hamming",
            graft.operators.Dedup.MmMaxHamming.toString).toInt), req(opt, "out"))

    case Some("mm-index-ingest") =>
      val (opt, flags) = parse(args.tail)
      val (landing, name, ckpt) =
        (req(opt, "landing"), req(opt, "name"), req(opt, "checkpoint"))
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema).parquet(landing)
        .writeStream
        .foreachBatch(graft.streaming.HashIndexIngest.sink(name,
          mmModality(opt)))
        .option("checkpointLocation", ckpt)
        .trigger(trigger(flags)).start()
      q.awaitTermination() // AvailableNow self-terminates after the drain

    case Some("mm-keep") =>
      val (opt, _) = parse(args.tail)
      val assets = spark.read.parquet(req(opt, "in"))
      val kept = opt.getOrElse("modality", "image") match {
        case "image" => graft.operators.Dedup.imageNearDupKeep(assets)
        case "audio" => graft.operators.Dedup.audioNearDupKeep(assets)
        case "video" => graft.operators.Dedup.videoNearDupKeep(assets)
        case other => throw new IllegalArgumentException(
          s"unknown --modality $other (image|audio|video)\n$Usage")
      }
      writeOut(kept, req(opt, "out"))

    case other =>
      throw new IllegalArgumentException(
        s"unknown command ${other.getOrElse("<none>")}\n$Usage")
  }

  /** `--modality image|audio|video` → the matching narrow-pass hasher. */
  private def mmHashes(assets: org.apache.spark.sql.DataFrame,
                       opt: Map[String, String]): org.apache.spark.sql.DataFrame =
    mmModality(opt) match {
      case graft.streaming.HashIndexIngest.ImageAssets =>
        graft.operators.Dedup.imageHashes(assets)
      case graft.streaming.HashIndexIngest.AudioAssets =>
        graft.operators.Dedup.audioHashes(assets)
      case graft.streaming.HashIndexIngest.VideoAssets =>
        graft.operators.Dedup.videoHashes(assets)
    }

  private def mmModality(opt: Map[String, String]): graft.streaming.HashIndexIngest.Modality =
    opt.getOrElse("modality", "image") match {
      case "image" => graft.streaming.HashIndexIngest.ImageAssets
      case "audio" => graft.streaming.HashIndexIngest.AudioAssets
      case "video" => graft.streaming.HashIndexIngest.VideoAssets
      case other => throw new IllegalArgumentException(
        s"unknown --modality $other (image|audio|video)\n$Usage")
    }

  /** A verb's result as zstd parquet at `path`, replacing what is there. */
  private def writeOut(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** `--once` drains the backlog and stops (AvailableNow); otherwise a
    * micro-batch every 5 seconds until killed. */
  /** The learned-IVF kind an `ivf-`/`pq-`/`opq-` verb names. */
  private def ivfKind(verb: String): IvfKind = verb.takeWhile(_ != '-') match {
    case "ivf" => IvfKind.Int8
    case "pq" => IvfKind.Pq
    case "opq" => IvfKind.Opq
  }

  /** `--key` for a learned verb of one of `kinds`, else `default`: each
    * verb reads exactly its own flags (the PQ geometry is the pq-/opq-
    * verbs', the rotation's iterations the opq- verbs'). */
  private def kindFlag(opt: Map[String, String], verb: String, key: String,
                       default: Int, kinds: IvfKind*): Int =
    if (kinds.contains(ivfKind(verb))) opt.getOrElse(key, default.toString).toInt
    else default

  private def trigger(flags: String => Boolean): Trigger =
    if (flags("once")) Trigger.AvailableNow()
    else Trigger.ProcessingTime("5 seconds")

  /** `--key value` options and bare `--flag` switches. */
  private def parse(args: Seq[String]): (Map[String, String], String => Boolean) = {
    val bareFlags = Set("overwrite", "once", "drop-unscored", "no-pushdown")
    val (opts, flags) = args.foldLeft((Map.empty[String, String], Set.empty[String], Option.empty[String])) {
      case ((_, _, Some(key)), v) if v.startsWith("--") =>
        // another option where a value was expected: fail loudly instead of
        // binding "--flag" as the value (which would drop the flag AND
        // corrupt the path option)
        throw new IllegalArgumentException(s"missing value for --$key\n$Usage")
      case ((m, f, Some(key)), v) => (m + (key -> v), f, None)
      case ((m, f, None), a) if a.startsWith("--") =>
        val k = a.drop(2)
        if (bareFlags(k)) (m, f + k, None) else (m, f, Some(k))
      case (_, a) =>
        throw new IllegalArgumentException(s"unexpected argument $a\n$Usage")
    } match {
      case (_, _, Some(dangling)) =>
        throw new IllegalArgumentException(s"missing value for --$dangling\n$Usage")
      case (m, f, None) => (m, f)
    }
    (opts, flags.contains)
  }

  private def req(opts: Map[String, String], key: String): String =
    opts.getOrElse(key,
      throw new IllegalArgumentException(s"missing required --$key\n$Usage"))
}
