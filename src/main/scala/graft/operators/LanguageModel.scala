package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring — the perplexity/quality gate of a
  * training-data pipeline (the CCNet shape: score every crawl document
  * under a reference LM, keep the low-cross-entropy tail; Wenzek et al.
  * 2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data"). A bigram model with add-α smoothing is the deliberately
  * closed-form member of that family: counts are exact distributed
  * aggregations, probabilities are pure arithmetic over them, so the
  * whole path is DuckDB-oracle-checkable (`q_lm_xent`) — unlike a KenLM
  * binary, which would be a black box riding an env-bound native lib.
  *
  * Model semantics: P(w2|w1) = (c(w1,w2) + α) / (c(w1·) + α·V), where
  * c(w1·) counts w1 AS A CONTEXT (= Σ_w2 c(w1,w2), derived from the
  * bigram table — not the unigram token count, which over-counts words
  * that only ever end documents) and V is the corpus vocabulary size.
  * Unseen contexts score the uniform floor α/(α·V) = 1/V; unseen
  * bigrams under a seen context score the smoothed floor — both finite,
  * so scoring a FOREIGN corpus (or against a pruned model) never
  * divides by zero or logs zero. A document's score is the mean
  * negative log-probability of its (n−1) bigrams — cross-entropy in
  * nats ([[crossEntropy]]'s `xent`); perplexity is `exp(xent)`.
  * Documents with fewer than 2 tokens have no bigrams and score NULL
  * (reported, never silently dropped — the caller decides their fate,
  * cf. [[filterByCrossEntropy]]'s `keepUnscored`).
  *
  * 100 TB posture — TRAIN is two hash aggregations: the bigram count
  * shuffles one row per MAP-PARTITION-DISTINCT bigram (heavy bigrams
  * collapse map-side, same two-level argument as
  * [[TextAnalysis.topTokens]]), the context table derives from the
  * bigram table (vocabulary-scale input, never a corpus rescan), and V
  * is one scalar from a distinct-count job (map-side partial, a bounded
  * driver probe per repo policy). SCORE is one corpus scan: explode to
  * bigrams, two joins against the model, one per-doc aggregate. The
  * model a production gate serves is PRUNED ([[prune]] — KenLM ships
  * pruned models for the same reason): minCount≥2 alone typically cuts
  * the table by the singleton mass (~half of all distinct bigrams under
  * Zipf), after which it broadcasts like the Bloom decontamination
  * filter and the score scan shuffles NOTHING but the per-doc aggregate
  * partials. For an unpruned corpus-scale model set
  * `broadcastModel = false`: the explode side shuffles on (w1,w2) /
  * (w1) into sort-merge joins — the flat-serving economics, measured
  * for the span family in bench_scale_span_index.json, apply verbatim.
  *
  * Reference provenance: the reference has no LM gate (its quality
  * filters are the closed-form ratios in step-1/metrics.py); this
  * operator is part of the beyond-parity LLM-curation surface, same
  * tier as [[Dedup.spanStats]] and [[TextAnalysis.sampleByTokenBudget]].
  */
object LanguageModel {

  /** Executable bound on the score-side `broadcastModel = true`
    * default. The vocabulary-scale tables (unigrams, contexts,
    * continuation counts) broadcast safely at any corpus size, but
    * the TOP-ORDER gram table grows with DISTINCT n-grams — at order
    * ≥ 3 that is ≈ corpus positions, so a default broadcast of it at
    * 100× corpus scale is a driver/executor OOM with no warning. Every
    * `crossEntropy*` therefore SIZES the largest model table before
    * honoring the broadcast request (one bounded `count()` over an
    * already-materialized aggregate, or a parquet-metadata count on a
    * served model — never a corpus scan) and auto-falls back to the
    * shuffle-join serving form above this bound, naming the flag on
    * stderr. The same executable-bound discipline as
    * [[TextIndex.MaxPushdownUnits]] and `Dedup.sketchGeometryFor`:
    * the default must not silently grow with the data. Callers who
    * know their executors pass a higher `maxBroadcastRows` (or
    * `broadcastModel = false` to skip the probe entirely). */
  val MaxBroadcastModelRows: Long = 30L * 1000 * 1000

  /** Resolve the effective broadcast decision for a score scan:
    * `broadcastModel` requested AND the largest model table fits the
    * bound. `largestRows` is the MEMOIZED count carried by the model
    * ([[LargestTableRows.largestRows]]) — seeded at train/persist/load
    * time, so a served scoring path pays ZERO extra jobs here and
    * repeated scoring against one model instance never re-probes. */
  private def resolveBroadcast(largestRows: => Long, broadcastModel: Boolean,
                               maxBroadcastRows: Long, what: String): Boolean =
    broadcastModel && {
      require(maxBroadcastRows >= 0,
        s"maxBroadcastRows must be >= 0, got $maxBroadcastRows")
      val n = largestRows
      val fits = n <= maxBroadcastRows
      if (!fits) System.err.println(
        s"[graft.lm] $what has $n rows > maxBroadcastRows=$maxBroadcastRows; " +
          "broadcastModel=true would broadcast a corpus-growing table — " +
          "falling back to the shuffle-join serving form. Pass " +
          "broadcastModel=false to silence this probe, or raise " +
          "maxBroadcastRows if the executors can hold the table.")
      fits
    }

  /** Mixed into every LM model class: the row count of the model's
    * LARGEST table (the top-order gram table — the only one that grows
    * with distinct n-grams rather than vocabulary), memoized PER
    * INSTANCE so the [[MaxBroadcastModelRows]] guard costs at most one
    * bounded job per model, never one per scoring call. Trainers SEED
    * it while training already runs jobs (free where the count already
    * exists, e.g. [[trainKneserNey]]'s `nBigramTypes`); the persisted
    * layouts carry it in their 1-row meta table so the `read*` loaders
    * seed it with ZERO extra jobs; a caller-constructed model pays one
    * bounded `count()` on FIRST scoring only (and recomputes its whole
    * plan then if unmaterialized — materialize or seed explicitly for
    * hot scoring loops). `prune*`'s `copy` drops the memo on purpose:
    * the pruned table's count is a different number. */
  sealed trait LargestTableRows {
    /** The broadcast-guard subject: the model's largest count table. */
    protected def largestTable: DataFrame
    private val largestMemo = new java.util.concurrent.atomic.AtomicLong(-1L)
    private[graft] def seedLargestRows(n: Long): this.type = {
      require(n >= 0, s"largest-table row count must be >= 0, got $n")
      largestMemo.set(n); this
    }
    /** Memoized largest-table row count (thread-safe; a benign race
      * recounts the same deterministic number). */
    def largestRows: Long = {
      val c = largestMemo.get()
      if (c >= 0L) c
      else { val n = largestTable.count(); largestMemo.set(n); n }
    }
  }

  /** A trained bigram LM: `bigrams` = (w1, w2, n12), `contexts` =
    * (w1, n1 = Σ n12), `vocabSize` = |distinct corpus tokens|, and the
    * smoothing mass α baked at train time (scoring with a different α
    * than the model was validated with is a config smell; rebake
    * explicitly via `copy`). */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame,
                            vocabSize: Long, alpha: Double)
      extends LargestTableRows {
    require(vocabSize > 0, s"bigram LM needs a non-empty vocabulary, got $vocabSize")
    require(alpha > 0.0, s"smoothing alpha must be > 0, got $alpha")
    override protected def largestTable: DataFrame = bigrams
  }

  /** Adjacent-token bigrams of a token array as (w1, w2) structs —
    * empty below 2 tokens (a bare sequence(0, n−2) would raise on
    * negative bounds). Shares [[TextAnalysis.tokens]], so the LM, the
    * shingle families, and the vocab queries agree on tokenization.
    *
    * Shape matters: `zip_with` over two slices evaluates `toks` a
    * CONSTANT number of times per row. The once-obvious
    * `transform(sequence(0, n−2), i => element_at(toks, i+1))`
    * re-evaluates the whole tokenizer expression (split + filter over
    * the document) PER ELEMENT — O(n²) string work per document,
    * measured ~15× slower at bench scale before this rewrite. */
  private[graft] def bigramStructs(toks: Column): Column =
    ngramStructs(toks, 2)

  /** Adjacent-token trigrams as (w1, w2, w3) structs — empty below 3
    * tokens. Same constant-evaluation shape as [[bigramStructs]]. */
  private[graft] def trigramStructs(toks: Column): Column =
    ngramStructs(toks, 3)

  /** Adjacent-token n-grams as (w1..wn) structs — empty below n tokens
    * (a bare sequence over negative bounds would raise). The bigram
    * shape generalized by folding one `zip_with` per extra position:
    * `toks` is still evaluated a CONSTANT number of times per row (n
    * slices), never per element — the O(n²)-tokenizer trap documented
    * on [[bigramStructs]] applies at every order. */
  private[graft] def ngramStructs(toks: Column, n: Int): Column = {
    require(n >= 2, s"ngramStructs needs order >= 2, got $n")
    val win = size(toks) - (n - 1)
    val base = zip_with(
      slice(toks, lit(1), win), slice(toks, lit(2), win),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val full = (3 to n).foldLeft(base) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), win), (prev, c) =>
        struct((1 until i).map(j => prev.getField(s"w$j").as(s"w$j")) :+
          c.as(s"w$i"): _*))
    }
    val schema = (1 to n).map(i => s"w$i:string").mkString(",")
    when(size(toks) < n, array().cast(s"array<struct<$schema>>"))
      .otherwise(full)
  }

  /** One row per n-gram position of `docs(textCol)`: the token array is
    * projected ONCE (`__toks`) in a staging projection and the
    * [[ngramStructs]] slices read the projected attribute — without the
    * staging step the tokenizer EXPRESSION (regex split + filter over
    * the whole document) is referenced n+2 times per row (n slices + 2
    * size guards) and Generate's codegen evaluates each reference,
    * tokenizing every document n+2 times; CollapseProject keeps the
    * staging projection because `__toks` is non-cheap and multiply
    * referenced (the [[Multimodal.toAssets]] `__dims` discipline).
    * `keep` columns (e.g. the doc id for scoring scans) ride along. */
  private[graft] def ngramRows(docs: DataFrame, textCol: String, n: Int,
                        alias: String, keep: Column*): DataFrame =
    docs.select(keep :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
      .select(keep :+ explode(ngramStructs(col("__toks"), n)).as(alias): _*)

  /** [[ngramRows]] with `explode_outer`: a document with FEWER than n
    * tokens (or null text) keeps one row with a NULL struct instead of
    * vanishing. This is the r20 score-scan shape — aggregating per doc
    * over the outer explode yields a row for EVERY document directly,
    * so the score scan no longer needs the `docs.select(id)` re-scan +
    * left join the train-era form paid (one corpus scan and one
    * Exchange pair less per score; guide §2.4). Gram rows always carry
    * non-null w1 (tokens are non-null by construction), so aggregates
    * distinguish the padding row by `w1 IS NULL`. TRAIN scans must keep
    * the inner explode: an outer explode would hash a spurious
    * all-NULL gram into the count tables. */
  private def ngramRowsOuter(docs: DataFrame, textCol: String, n: Int,
                             alias: String, keep: Column*): DataFrame =
    docs.select(keep :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
      .select(keep :+ explode_outer(ngramStructs(col("__toks"), n)).as(alias): _*)

  // guide §2.6 job-overlap plumbing shared with the bm25TopK serve
  private def async[T](name: String)(body: => T) = Materialize.async(name)(body)
  private def await[T](t: java.util.concurrent.FutureTask[T]): T =
    Materialize.await(t)

  /** The vocabulary distinct-count corpus scan, submitted on its own
    * driver thread: V depends on nothing the gram cascade builds, so
    * its tasks back-fill executors while the gram table materializes —
    * the train's two corpus scans overlap instead of running back to
    * back (guide §2.6; same result, it is one deterministic scalar). */
  private def vocabSizeAsync(docs: DataFrame, textCol: String)
      : java.util.concurrent.FutureTask[Long] =
    async("graft-lm-vocab") {
      docs.select(explode(TextAnalysis.tokens(col(textCol))).as("t"))
        .agg(count_distinct(col("t"))).head().getLong(0)
    }

  /** Train a bigram LM over `docs(textCol)`. The bigram table is
    * MATERIALIZED ([[Materialize.eagerCheckpoint]] — lineage-truncated,
    * reliable-checkpoint-aware like every iterating pipeline here), so
    * deriving contexts, persisting via [[write]], or broadcasting both
    * tables into a score scan reads the aggregate, never re-runs the
    * corpus explode — without this, `contexts` (a plan OVER `bigrams`)
    * would re-scan the corpus at every materialization. V is one
    * further distinct-count scalar over the corpus (it needs tokens,
    * not bigrams: doc-final and single-token-doc words never open a
    * bigram), so training costs two corpus scans total — overlapped
    * ([[vocabSizeAsync]]), with the broadcast-guard count riding the
    * checkpoint job ([[Materialize.eagerCheckpointWithCount]]) instead
    * of a separate bounded job. */
  def train(docs: DataFrame, textCol: String, alpha: Double = 0.5): BigramLm = {
    val vocabF = vocabSizeAsync(docs, textCol)
    val (bigrams, nBigrams) = Materialize.eagerCheckpointWithCount(
      ngramRows(docs, textCol, 2, "bg")
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12")))
    val contexts = bigrams.groupBy("w1").agg(sum("n12").as("n1"))
    // seed the broadcast-guard count at train time (it rode the
    // checkpoint job) so scoring — and every RE-scoring — pays zero
    // probe jobs
    BigramLm(bigrams, contexts, await(vocabF), alpha)
      .seedLargestRows(nBigrams)
  }

  /** KenLM-style count pruning: drop bigrams below `minCount`. Contexts
    * and V are kept — pruned bigrams fall to the UNSEEN floor
    * (α)/(n1+αV), so pruned scores are a pointwise UPPER bound on exact
    * cross-entropy (dropping probability mass can only make a doc look
    * less likely), never an undercount of badness — the gate direction
    * that matters for a keep/drop filter, mirroring the span sketch's
    * never-undercount contract. */
  def prune(lm: BigramLm, minCount: Long): BigramLm = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    lm.copy(bigrams = lm.bigrams.filter(col("n12") >= minCount))
  }

  /** An INTERPOLATED bigram/unigram model (Jelinek-Mercer smoothing):
    * P(w2|w1) = λ·P₂(w2|w1) + (1−λ)·P₁(w2), with P₂ the smoothed
    * bigram probability of the wrapped [[BigramLm]] and P₁(w) =
    * (c(w) + α)/(T + α·V) the smoothed unigram. Materially closer to
    * the CCNet-style deployed gate than add-α alone — an unseen bigram
    * under a seen context no longer scores the uniform-ish floor but
    * backs off to how common the WORD is — while staying closed-form
    * and oracle-checkable (`q_lm_xent_interp`). `unigrams` = (w, nw)
    * occurrence counts, `totalTokens` = T = Σ nw; V and α ride on the
    * wrapped base model (same vocabulary, same smoothing mass). */
  final case class InterpolatedLm(base: BigramLm, unigrams: DataFrame,
                                  totalTokens: Long, lambda: Double) {
    require(totalTokens > 0,
      s"interpolated LM needs a non-empty corpus, got T=$totalTokens")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"interpolation weight must be in [0,1], got $lambda")
  }

  /** Train an [[InterpolatedLm]] — the same two corpus scans as
    * [[train]] (bigram explode + token explode); V and T both derive
    * from the materialized unigram table (vocabulary-scale scalars), so
    * the interpolation costs no extra corpus pass over plain bigram
    * training. */
  def trainInterpolated(docs: DataFrame, textCol: String,
                        alpha: Double = 0.5,
                        lambda: Double = 0.7): InterpolatedLm = {
    val toks = TextAnalysis.tokens(col(textCol))
    // the unigram branch (corpus scan + stats scalar) shares nothing
    // with the bigram branch — overlap the two corpus scans (§2.6)
    val uniF = async("graft-lm-unigrams") {
      val unigrams = Materialize.eagerCheckpoint(docs
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw")))
      (unigrams, unigrams.agg(count(lit(1)), coalesce(sum("nw"), lit(0L))).head())
    }
    val (bigrams, nBigrams) = Materialize.eagerCheckpointWithCount(
      ngramRows(docs, textCol, 2, "bg")
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12")))
    val contexts = bigrams.groupBy("w1").agg(sum("n12").as("n1"))
    val (unigrams, stats) = await(uniF)
    InterpolatedLm(
      BigramLm(bigrams, contexts, stats.getLong(0), alpha)
        .seedLargestRows(nBigrams),
      unigrams, stats.getLong(1), lambda)
  }

  /** [[prune]] for the interpolated form: bigram pruning only — the
    * unigram table is vocabulary-scale already (it IS the vocabulary),
    * so there is nothing to cut there, and keeping it intact preserves
    * the upper-bound direction: a pruned bigram's P₂ falls to the
    * unseen floor, the mixture can only shrink, so pruned interpolated
    * xent still pointwise dominates the exact score. */
  def pruneInterpolated(lm: InterpolatedLm, minCount: Long): InterpolatedLm =
    lm.copy(base = prune(lm.base, minCount))

  /** Per-document cross-entropy under an [[InterpolatedLm]]: the
    * [[crossEntropy]] scan plus ONE more broadcast join (w2 against the
    * vocabulary-scale unigram table) — same shuffle profile, the
    * per-doc aggregate. Output contract matches [[crossEntropy]]. */
  def crossEntropyInterpolated(docs: DataFrame, idCol: String, textCol: String,
                               lm: InterpolatedLm,
                               broadcastModel: Boolean = true,
                               maxBroadcastRows: Long = MaxBroadcastModelRows): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (resolveBroadcast(lm.base.largestRows, broadcastModel, maxBroadcastRows,
        "interpolated-LM bigram table")) broadcast(_) else identity
    val base = lm.base
    // outer-explode score shape — see [[crossEntropy]]/[[ngramRowsOuter]]
    val exploded = ngramRowsOuter(docs, textCol, 2, "bg", col(idCol))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val p2 = (coalesce(col("n12"), lit(0L)) + base.alpha) /
      (coalesce(col("n1"), lit(0L)) + base.alpha * base.vocabSize)
    val p1 = (coalesce(col("nw"), lit(0L)) + base.alpha) /
      (lit(lm.totalTokens.toDouble) + base.alpha * base.vocabSize)
    val logp = log(lit(lm.lambda) * p2 + lit(1 - lm.lambda) * p1)
    exploded
      .join(hinted(base.bigrams), Seq("w1", "w2"), "left")
      .join(hinted(base.contexts), Seq("w1"), "left")
      .join(hinted(lm.unigrams.withColumnRenamed("w", "w2")), Seq("w2"), "left")
      .groupBy(idCol)
      .agg(count(col("w1")).as("n_bigrams"),
        (-avg(when(col("w1").isNotNull, logp))).as("xent"))
      .select(col(idCol), col("n_bigrams"), col("xent"))
  }

  /** Persist an interpolated model: the wrapped base via [[write]]
    * (which clears any existing layout first — so a stale `interp_meta`
    * can never outlive its tables) plus `unigrams/` and an
    * `interp_meta/` 1-row table (total_tokens, lambda) written LAST —
    * the same commit-marker discipline. */
  def writeInterpolated(lm: InterpolatedLm, path: String): Unit = {
    write(lm.base, path)
    lm.unigrams.write.mode("overwrite").parquet(s"$path/unigrams")
    val spark = lm.unigrams.sparkSession
    spark.createDataFrame(Seq((lm.totalTokens, lm.lambda)))
      .toDF("total_tokens", "lambda")
      .write.mode("overwrite").parquet(s"$path/interp_meta")
  }

  /** Load a persisted interpolated model (fails loudly on a plain
    * [[write]] layout — no `interp_meta` commit marker). */
  def readInterpolated(spark: SparkSession, path: String): InterpolatedLm = {
    val meta = spark.read.parquet(s"$path/interp_meta").head()
    InterpolatedLm(read(spark, path),
      spark.read.parquet(s"$path/unigrams"),
      meta.getAs[Long]("total_tokens"), meta.getAs[Double]("lambda"))
  }

  /** An interpolated KNESER-NEY bigram model (Kneser & Ney 1995;
    * Chen & Goodman 1999's formulation) — the fidelity step past
    * Jelinek-Mercer that deployed LM gates actually run (KenLM's
    * default smoothing family): instead of backing off to how often a
    * word OCCURS, back off to how many distinct contexts it FOLLOWS
    * ("San Francisco" makes "Francisco" frequent but nearly
    * single-context, so KN correctly refuses to predict it after
    * arbitrary words — the failure mode raw-unigram backoff has).
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0) / c(w1·)
    *            + (D · N1+(w1·) / c(w1·)) · Pcont(w2)
    *   Pcont(w2) = (N1+(·w2) + β) / (N1+(··) + β·V)
    *
    * with D the absolute discount, N1+(w1·) the context's fan-out
    * (distinct continuations — exactly the mass the discount freed, so
    * the distribution stays normalized), N1+(·w2) the continuation
    * count, N1+(··) the distinct-bigram-type total, and an add-β floor
    * on the continuation distribution (the closed-form stand-in for
    * KN's own OOV epsilon: a w2 never seen as a continuation gets a
    * finite floor instead of log 0, the same role α plays in the add-α
    * family). An UNSEEN context (c(w1·) = 0) backs off wholly to
    * `Pcont` — the standard stupid-backoff-free handling that keeps
    * every probability finite, so foreign corpora score without
    * division by zero. Everything is two exact distributed
    * aggregations over the bigram table plus scalars — closed-form,
    * DuckDB-replayable (`q_lm_xent_kn`), unlike the KenLM binary.
    *
    * Tables: `bigrams` = (w1, w2, n12); `contexts` = (w1, n1 = Σ n12,
    * fanout = N1+(w1·)); `contTypes` = (w2, nct = N1+(·w2));
    * `nBigramTypes` = N1+(··); V rides as `vocabSize`. */
  final case class KneserNeyLm(bigrams: DataFrame, contexts: DataFrame,
                               contTypes: DataFrame, vocabSize: Long,
                               nBigramTypes: Long, discount: Double,
                               beta: Double)
      extends LargestTableRows {
    override protected def largestTable: DataFrame = bigrams
    require(vocabSize > 0, s"KN LM needs a non-empty vocabulary, got $vocabSize")
    require(nBigramTypes > 0,
      s"KN LM needs at least one bigram type, got $nBigramTypes")
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1), got $discount")
    require(beta > 0.0, s"continuation floor beta must be > 0, got $beta")
  }

  /** Train a [[KneserNeyLm]] — the same two corpus scans as [[train]]
    * (bigram explode + vocab distinct); contexts, continuation counts
    * and the type total all derive from the one materialized bigram
    * table (vocabulary-scale inputs, never a corpus rescan). D = 0.75
    * is the classic fixed discount (Chen & Goodman's D = n₁/(n₁+2n₂)
    * estimate lands near it on natural text); β mirrors [[train]]'s
    * default α. */
  def trainKneserNey(docs: DataFrame, textCol: String,
                     discount: Double = 0.75,
                     beta: Double = 0.5): KneserNeyLm = {
    val vocabF = vocabSizeAsync(docs, textCol) // overlapped corpus scan
    val (bigrams, nBigramTypes) = Materialize.eagerCheckpointWithCount(
      ngramRows(docs, textCol, 2, "bg")
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12")))
    val contexts = bigrams.groupBy("w1")
      .agg(sum("n12").as("n1"), count(lit(1)).as("fanout"))
    val contTypes = bigrams.groupBy("w2").agg(count(lit(1)).as("nct"))
    // nBigramTypes IS the bigram-table row count (it rode the
    // checkpoint job): the broadcast-guard seed is free here
    KneserNeyLm(bigrams, contexts, contTypes, await(vocabF), nBigramTypes,
      discount, beta).seedLargestRows(nBigramTypes)
  }

  /** [[prune]] for the KN form: bigram pruning only — contexts,
    * continuation counts and the totals keep describing the FULL
    * corpus, so a pruned bigram's first term falls to zero and only
    * the discounted-backoff leg survives. Dropping a non-negative term
    * can only shrink P, so pruned KN xent pointwise dominates exact —
    * the same never-understate-badness gate direction as [[prune]] /
    * [[pruneInterpolated]]. */
  def pruneKneserNey(lm: KneserNeyLm, minCount: Long): KneserNeyLm = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    lm.copy(bigrams = lm.bigrams.filter(col("n12") >= minCount))
  }

  /** Per-document cross-entropy under a [[KneserNeyLm]] — the
    * [[crossEntropy]] scan shape with one more vocabulary-scale
    * broadcast join (w2 against `contTypes`); same output contract,
    * same single per-doc-aggregate shuffle. Every arithmetic step
    * mirrors the oracle's literal IEEE ops (association and literal
    * placement included), the suite-wide bit-identity discipline. */
  def crossEntropyKneserNey(docs: DataFrame, idCol: String, textCol: String,
                            lm: KneserNeyLm,
                            broadcastModel: Boolean = true,
                            maxBroadcastRows: Long = MaxBroadcastModelRows): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (resolveBroadcast(lm.largestRows, broadcastModel, maxBroadcastRows,
        "KN bigram table")) broadcast(_) else identity
    // outer-explode score shape — see [[crossEntropy]]/[[ngramRowsOuter]]
    val exploded = ngramRowsOuter(docs, textCol, 2, "bg", col(idCol))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pcont = (coalesce(col("nct"), lit(0L)) + lm.beta) /
      (lit(lm.nBigramTypes.toDouble) + lm.beta * lm.vocabSize)
    val pSeen =
      greatest(coalesce(col("n12"), lit(0L)) - lm.discount, lit(0.0)) / col("n1") +
        (lit(lm.discount) * col("fanout") / col("n1")) * pcont
    val logp = log(when(col("n1").isNull, pcont).otherwise(pSeen))
    exploded
      .join(hinted(lm.bigrams), Seq("w1", "w2"), "left")
      .join(hinted(lm.contexts), Seq("w1"), "left")
      .join(hinted(lm.contTypes.withColumnRenamed("w2", "__w2c")),
        col("w2") === col("__w2c"), "left")
      .groupBy(idCol)
      .agg(count(col("w1")).as("n_bigrams"),
        (-avg(when(col("w1").isNotNull, logp))).as("xent"))
      .select(col(idCol), col("n_bigrams"), col("xent"))
  }

  /** Persist a KN model: the three count tables plus a 1-row `kn_meta/`
    * (vocab_size, n_bigram_types, discount, beta) written LAST — the
    * commit-marker discipline of [[write]]; the scoped pre-delete
    * covers every LM-layout subdir, so a KN re-write over a plain or
    * interpolated layout can never leave that layout's commit marker
    * standing over mixed tables. */
  def writeKneserNey(lm: KneserNeyLm, path: String): Unit = {
    val spark = lm.bigrams.sparkSession
    deleteLayoutSubdirs(spark, path)
    lm.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    lm.contexts.write.mode("overwrite").parquet(s"$path/contexts")
    lm.contTypes.write.mode("overwrite").parquet(s"$path/conttypes")
    spark.createDataFrame(
        Seq((lm.vocabSize, lm.nBigramTypes, lm.discount, lm.beta,
          lm.largestRows)))
      .toDF("vocab_size", "n_bigram_types", "discount", "beta", "n_largest")
      .write.mode("overwrite").parquet(s"$path/kn_meta")
  }

  /** Load a persisted KN model (fails loudly on any other layout — no
    * `kn_meta` commit marker there). Broadcast-guard count seeded from
    * the meta row — zero probe jobs at serve. */
  def readKneserNey(spark: SparkSession, path: String): KneserNeyLm = {
    val meta = spark.read.parquet(s"$path/kn_meta").head()
    seedFromMeta(meta, KneserNeyLm(
      spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/contexts"),
      spark.read.parquet(s"$path/conttypes"),
      meta.getAs[Long]("vocab_size"), meta.getAs[Long]("n_bigram_types"),
      meta.getAs[Double]("discount"), meta.getAs[Double]("beta")))
  }

  /** An interpolated Kneser-Ney TRIGRAM model — the ORDER-RECURSIVE
    * structure that makes KN the deployed smoothing family (KenLM is
    * this recursion at order 5): the highest order discounts RAW
    * counts; every lower order discounts CONTINUATION TYPE counts
    * derived from the types one order above (Chen & Goodman 1999's
    * formulation — "how many distinct contexts precede this n-gram",
    * not "how often it occurs"):
    *
    *   P₃(w3|w1,w2) = max(c(w1w2w3) − D, 0)/c(w1w2·)
    *                + (D · N1+(w1w2·)/c(w1w2·)) · P₂(w3|w2)
    *   P₂(w3|w2)   = max(N1+(·w2w3) − D, 0)/N1+(·w2·)
    *                + (D · N1+(w2**)/N1+(·w2·)) · P₁(w3)
    *   P₁(w3)      = (N1+(··w3) + β) / (N1+(···) + β·V)
    *
    * where N1+(·w2w3) = |{w1 : c(w1w2w3) > 0}| (distinct left contexts
    * of the bigram — by construction, the per-(w2,w3) TYPE count of the
    * trigram table), N1+(·w2·) its sum over w3, N1+(w2**) the distinct
    * continuations of w2 in that type table, N1+(··w3) = |{w2 :
    * N1+(·w2w3) > 0}| and N1+(···) the type total — ALL of them
    * aggregations of the one trigram count table, which is the whole
    * reason the recursion stays two-corpus-scan closed-form and
    * DuckDB-replayable (`q_lm_xent_kn3`) at any order. An unseen
    * (w1,w2) context backs off wholly to P₂; an unseen w2 context
    * wholly to P₁ — every probability finite on foreign corpora.
    *
    * Tables: `trigrams` = (w1,w2,w3,n123); `ctx12` = (w1,w2, n12 =
    * Σ n123, f12 = N1+(w1w2·)); `cont23` = (w2,w3, nct = N1+(·w2w3));
    * `ctx2` = (w2, s2 = N1+(·w2·), f2 = N1+(w2**)); `cont3` = (w3,
    * ncu = N1+(··w3)); `nContTypes` = N1+(···). */
  final case class KneserNey3Lm(trigrams: DataFrame, ctx12: DataFrame,
                                cont23: DataFrame, ctx2: DataFrame,
                                cont3: DataFrame, vocabSize: Long,
                                nContTypes: Long, discount: Double,
                                beta: Double)
      extends LargestTableRows {
    override protected def largestTable: DataFrame = trigrams
    require(vocabSize > 0, s"KN3 LM needs a non-empty vocabulary, got $vocabSize")
    require(nContTypes > 0,
      s"KN3 LM needs at least one continuation type, got $nContTypes")
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1), got $discount")
    require(beta > 0.0, s"continuation floor beta must be > 0, got $beta")
  }

  /** Train a [[KneserNey3Lm]]: two corpus scans (trigram explode +
    * vocab distinct), exactly like the lower orders — ctx12 derives
    * from the materialized trigram table and the whole continuation
    * cascade (cont23 → ctx2/cont3/type total) from the materialized
    * per-(w2,w3) type table, so no aggregation ever rescans the
    * corpus. */
  def trainKneserNey3(docs: DataFrame, textCol: String,
                      discount: Double = 0.75,
                      beta: Double = 0.5): KneserNey3Lm = {
    val vocabF = vocabSizeAsync(docs, textCol) // overlapped corpus scan
    val (trigrams, nTrigrams) = Materialize.eagerCheckpointWithCount(
      ngramRows(docs, textCol, 3, "tg")
      .select(col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("n123")))
    val ctx12 = trigrams.groupBy("w1", "w2")
      .agg(sum("n123").as("n12"), count(lit(1)).as("f12"))
    // trigram rows are distinct (w1,w2,w3), so count(*) per (w2,w3) IS
    // the distinct-left-context count N1+(·w2w3); materialized because
    // three tables and a scalar derive from it
    val (cont23, nContTypes) = Materialize.eagerCheckpointWithCount(
      trigrams.groupBy("w2", "w3").agg(count(lit(1)).as("nct")))
    val ctx2 = cont23.groupBy("w2")
      .agg(sum("nct").as("s2"), count(lit(1)).as("f2"))
    val cont3 = cont23.groupBy("w3").agg(count(lit(1)).as("ncu"))
    KneserNey3Lm(trigrams, ctx12, cont23, ctx2, cont3, await(vocabF),
      nContTypes, discount, beta)
      .seedLargestRows(nTrigrams)
  }

  /** [[pruneKneserNey]] at order 3: trigram pruning only — the
    * continuation cascade and the context tables keep describing the
    * full corpus, so a pruned trigram loses its discounted first term
    * and falls to the backoff leg alone; pruned xent pointwise
    * dominates exact, the family-wide gate direction. */
  def pruneKneserNey3(lm: KneserNey3Lm, minCount: Long): KneserNey3Lm = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    lm.copy(trigrams = lm.trigrams.filter(col("n123") >= minCount))
  }

  /** Per-document cross-entropy under a [[KneserNey3Lm]]: one corpus
    * scan exploding to trigram positions, FIVE vocabulary-scale
    * broadcast joins (trigram, (w1,w2) context, (w2,w3) continuation,
    * w2 context, w3 continuation), one per-doc-aggregate shuffle —
    * the [[crossEntropyKneserNey]] shape one order up. Output:
    * `(idCol, n_trigrams, xent)`; docs under 3 tokens score 0/NULL.
    * Every arithmetic step mirrors the oracle's literal IEEE ops. */
  def crossEntropyKneserNey3(docs: DataFrame, idCol: String, textCol: String,
                             lm: KneserNey3Lm,
                             broadcastModel: Boolean = true,
                             maxBroadcastRows: Long = MaxBroadcastModelRows): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (resolveBroadcast(lm.largestRows, broadcastModel, maxBroadcastRows,
        "KN3 trigram table")) broadcast(_) else identity
    // outer-explode score shape — see [[crossEntropy]]/[[ngramRowsOuter]]
    val exploded = ngramRowsOuter(docs, textCol, 3, "tg", col(idCol))
      .select(col(idCol), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val p1 = (coalesce(col("ncu"), lit(0L)) + lm.beta) /
      (lit(lm.nContTypes.toDouble) + lm.beta * lm.vocabSize)
    val p2Seen =
      greatest(coalesce(col("nct"), lit(0L)) - lm.discount, lit(0.0)) / col("s2") +
        (lit(lm.discount) * col("f2") / col("s2")) * p1
    val p2 = when(col("s2").isNull, p1).otherwise(p2Seen)
    val p3Seen =
      greatest(coalesce(col("n123"), lit(0L)) - lm.discount, lit(0.0)) / col("n12") +
        (lit(lm.discount) * col("f12") / col("n12")) * p2
    val logp = log(when(col("n12").isNull, p2).otherwise(p3Seen))
    exploded
      .join(hinted(lm.trigrams), Seq("w1", "w2", "w3"), "left")
      .join(hinted(lm.ctx12), Seq("w1", "w2"), "left")
      .join(hinted(lm.cont23), Seq("w2", "w3"), "left")
      .join(hinted(lm.ctx2), Seq("w2"), "left")
      .join(hinted(lm.cont3), Seq("w3"), "left")
      .groupBy(idCol)
      .agg(count(col("w1")).as("n_trigrams"),
        (-avg(when(col("w1").isNotNull, logp))).as("xent"))
      .select(col(idCol), col("n_trigrams"), col("xent"))
  }

  /** Persist a KN3 model: five count tables plus a 1-row `kn3_meta/`
    * written LAST — the commit-marker discipline of [[write]], under
    * the same scoped layout pre-delete. */
  def writeKneserNey3(lm: KneserNey3Lm, path: String): Unit = {
    val spark = lm.trigrams.sparkSession
    deleteLayoutSubdirs(spark, path)
    lm.trigrams.write.mode("overwrite").parquet(s"$path/trigrams")
    lm.ctx12.write.mode("overwrite").parquet(s"$path/ctx12")
    lm.cont23.write.mode("overwrite").parquet(s"$path/cont23")
    lm.ctx2.write.mode("overwrite").parquet(s"$path/ctx2")
    lm.cont3.write.mode("overwrite").parquet(s"$path/cont3")
    spark.createDataFrame(
        Seq((lm.vocabSize, lm.nContTypes, lm.discount, lm.beta,
          lm.largestRows)))
      .toDF("vocab_size", "n_cont_types", "discount", "beta", "n_largest")
      .write.mode("overwrite").parquet(s"$path/kn3_meta")
  }

  /** Load a persisted KN3 model (fails loudly on any other layout — no
    * `kn3_meta` commit marker there). Broadcast-guard count seeded from
    * the meta row — zero probe jobs at serve. */
  def readKneserNey3(spark: SparkSession, path: String): KneserNey3Lm = {
    val meta = spark.read.parquet(s"$path/kn3_meta").head()
    seedFromMeta(meta, KneserNey3Lm(
      spark.read.parquet(s"$path/trigrams"),
      spark.read.parquet(s"$path/ctx12"),
      spark.read.parquet(s"$path/cont23"),
      spark.read.parquet(s"$path/ctx2"),
      spark.read.parquet(s"$path/cont3"),
      meta.getAs[Long]("vocab_size"), meta.getAs[Long]("n_cont_types"),
      meta.getAs[Double]("discount"), meta.getAs[Double]("beta")))
  }

  /** An order-N interpolated Kneser-Ney model — [[KneserNey3Lm]]'s
    * recursion generalized to ANY order ≥ 3 (order 5 is the CCNet /
    * KenLM deployment shape). Same estimation discipline at every
    * level: the TOP order discounts raw counts; each lower order k
    * discounts the continuation TYPE counts derived from the type set
    * one order above; the base is the floored continuation unigram.
    *
    * Tables (position-aligned column names, wi = the i-th word of the
    * top-order window, so every serve join is a plain USING join):
    *  - `grams`  = (w1..wN, cnt) — raw N-gram counts
    *  - `ctxTop` = (w1..w_{N-1}, tot = Σ cnt, types = N1+(u·))
    *  - `conts(k-1)` = cont_k, keyed by the LAST k positions
    *    (w_{N-k+1}..wN), value `nctk` = N1+(· suffix) — derived from
    *    the TYPE SET of cont_{k+1} (cont_{N-1} from `grams`), the Chen
    *    & Goodman 1999 "count the distinct left contexts" cascade
    *  - `ctxs(k-1)` = ctx_k, keyed by (w_{N-k}..w_{N-1}), values
    *    `sk` = Σ nct_{k+1} (the P_{k+1} normalizer) and `fk` = its
    *    distinct-continuation type count
    * `nContTypes` = N1+(··) (the cont_2 row count) and V close the
    * unigram floor. Every table is a distributed aggregation of the
    * one materialized N-gram table — closed-form and DuckDB-replayable
    * at any order (`q_lm_xent_kn5`), which is exactly why the engine
    * stops at counts and never needs KenLM's binary trie. */
  final case class KneserNeyNLm(order: Int, grams: DataFrame,
                                ctxTop: DataFrame,
                                conts: IndexedSeq[DataFrame],
                                ctxs: IndexedSeq[DataFrame],
                                vocabSize: Long, nContTypes: Long,
                                discount: Double, beta: Double)
      extends LargestTableRows {
    override protected def largestTable: DataFrame = grams
    require(order >= 3,
      s"KneserNeyNLm needs order >= 3 (order 2 is trainKneserNey), got $order")
    require(conts.length == order - 1,
      s"expected ${order - 1} continuation tables, got ${conts.length}")
    require(ctxs.length == order - 2,
      s"expected ${order - 2} context tables, got ${ctxs.length}")
    require(vocabSize > 0, s"KN-N LM needs a non-empty vocabulary, got $vocabSize")
    require(nContTypes > 0,
      s"KN-N LM needs at least one continuation type, got $nContTypes")
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1), got $discount")
    require(beta > 0.0, s"continuation floor beta must be > 0, got $beta")
  }

  /** Train a [[KneserNeyNLm]] at `order`: two corpus scans (N-gram
    * explode + vocab distinct) — identical economics to every lower
    * order, because the whole continuation cascade derives from the
    * one materialized N-gram table, each level an aggregation of the
    * (vocabulary-scale, eagerly checkpointed) level above, never a
    * corpus rescan. At order 3 this is [[trainKneserNey3]] table for
    * table (spec-pinned bit-identical scores). */
  def trainKneserNeyN(docs: DataFrame, textCol: String, order: Int,
                      discount: Double = 0.75,
                      beta: Double = 0.5): KneserNeyNLm = {
    require(order >= 3,
      s"trainKneserNeyN needs order >= 3 (order 2 is trainKneserNey), got $order")
    val ws = (1 to order).map(i => s"w$i")
    // the train's second corpus scan (V) overlaps the cascade (§2.6),
    // and the two scalar counts the train needs (|grams| for the
    // broadcast guard, |cont_2| = N1+(··)) ride their checkpoint jobs
    // as observe() metrics instead of separate bounded jobs — the
    // order-5 train drops from 7 serial jobs to 5, two of them
    // overlapped with the vocab scan
    val vocabF = vocabSizeAsync(docs, textCol)
    val (grams, nGrams) = Materialize.eagerCheckpointWithCount(
      ngramRows(docs, textCol, order, "g")
      .select(ws.map(w => col(s"g.$w").as(w)): _*)
      .groupBy(ws.map(col): _*).agg(count(lit(1)).as("cnt")))
    val ctxTop = grams.groupBy(ws.init.map(col): _*)
      .agg(sum("cnt").as("tot"), count(lit(1)).as("types"))
    // continuation cascade: grams' rows are distinct N-grams, so
    // count(*) per suffix IS the distinct-left-context count; each
    // lower level groups the TYPE SET one above by its own suffix
    val conts = new Array[DataFrame](order - 1)
    var nContTypes = -1L
    def ckCont(idx: Int, df: DataFrame): Unit =
      if (idx == 1) { // cont_2's row count IS N1+(··): ride its job
        val (ck, n) = Materialize.eagerCheckpointWithCount(df)
        conts(idx) = ck; nContTypes = n
      } else conts(idx) = Materialize.eagerCheckpoint(df)
    ckCont(order - 2, grams.groupBy(ws.tail.map(col): _*)
      .agg(count(lit(1)).as(s"nct${order - 1}")))
    val ctxs = new Array[DataFrame](order - 2)
    for (k <- (order - 2) to 1 by -1) {
      val upperKey = ws.drop(order - k - 1) // cont_{k+1}'s key, length k+1
      ctxs(k - 1) = conts(k).groupBy(upperKey.init.map(col): _*)
        .agg(sum(s"nct${k + 1}").as(s"s$k"), count(lit(1)).as(s"f$k"))
      ckCont(k - 1, conts(k).groupBy(upperKey.tail.map(col): _*)
        .agg(count(lit(1)).as(s"nct$k")))
    }
    KneserNeyNLm(order, grams, ctxTop, conts.toIndexedSeq, ctxs.toIndexedSeq,
      await(vocabF), nContTypes, discount, beta)
      .seedLargestRows(nGrams)
  }

  /** [[pruneKneserNey3]] at any order: top-order pruning only — the
    * continuation cascade and context tables keep describing the full
    * corpus, so a pruned N-gram loses its discounted first term and
    * falls to the backoff cascade; pruned xent pointwise dominates
    * exact, the family-wide gate direction. */
  def pruneKneserNeyN(lm: KneserNeyNLm, minCount: Long): KneserNeyNLm = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    lm.copy(grams = lm.grams.filter(col("cnt") >= minCount))
  }

  /** Per-document cross-entropy under a [[KneserNeyNLm]]: one corpus
    * scan exploding to N-gram positions, 2N−1 vocabulary-scale
    * broadcast joins (the [[crossEntropyKneserNey3]] shape at any
    * order — five joins at N = 3, nine at N = 5), one
    * per-doc-aggregate shuffle. Output: `(idCol, n_ngrams, xent)`;
    * docs under N tokens score 0/NULL. The probability expression is
    * built bottom-up with exactly the lower orders' IEEE association,
    * so the order-3 instance is bit-identical to
    * [[crossEntropyKneserNey3]] and every order is oracle-replayable. */
  def crossEntropyKneserNeyN(docs: DataFrame, idCol: String, textCol: String,
                             lm: KneserNeyNLm,
                             broadcastModel: Boolean = true,
                             maxBroadcastRows: Long = MaxBroadcastModelRows): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (resolveBroadcast(lm.largestRows, broadcastModel, maxBroadcastRows,
        s"KN-${lm.order} gram table")) broadcast(_) else identity
    val ws = (1 to lm.order).map(i => s"w$i")
    // outer-explode score shape — see [[crossEntropy]]/[[ngramRowsOuter]]
    val exploded = ngramRowsOuter(docs, textCol, lm.order, "g", col(idCol))
      .select(col(idCol) +: ws.map(w => col(s"g.$w").as(w)): _*)
    var p: Column = (coalesce(col("nct1"), lit(0L)) + lm.beta) /
      (lit(lm.nContTypes.toDouble) + lm.beta * lm.vocabSize)
    for (k <- 2 until lm.order) {
      val prev = p
      val pSeen = greatest(coalesce(col(s"nct$k"), lit(0L)) - lm.discount,
        lit(0.0)) / col(s"s${k - 1}") +
        (lit(lm.discount) * col(s"f${k - 1}") / col(s"s${k - 1}")) * prev
      p = when(col(s"s${k - 1}").isNull, prev).otherwise(pSeen)
    }
    val pTopSeen =
      greatest(coalesce(col("cnt"), lit(0L)) - lm.discount, lit(0.0)) /
        col("tot") + (lit(lm.discount) * col("types") / col("tot")) * p
    val logp = log(when(col("tot").isNull, p).otherwise(pTopSeen))
    var joined = exploded
      .join(hinted(lm.grams), ws, "left")
      .join(hinted(lm.ctxTop), ws.init, "left")
    for (k <- (lm.order - 1) to 2 by -1) {
      joined = joined
        .join(hinted(lm.conts(k - 1)), ws.drop(lm.order - k), "left")
        .join(hinted(lm.ctxs(k - 2)), ws.drop(lm.order - k).init, "left")
    }
    joined = joined.join(hinted(lm.conts(0)), Seq(ws.last), "left")
    joined.groupBy(idCol)
      .agg(count(col("w1")).as("n_ngrams"),
        (-avg(when(col("w1").isNotNull, logp))).as("xent"))
      .select(col(idCol), col("n_ngrams"), col("xent"))
  }

  /** Persist a KN-N model: `ngrams/`, `ctx_top/`, the numbered
    * `cont_k/` / `ctx_k/` cascade, then a 1-row `knn_meta/` (carrying
    * the ORDER, so [[readKneserNeyN]] knows how many tables to load)
    * written LAST — the commit-marker discipline of [[write]], under
    * the same scoped layout pre-delete. */
  def writeKneserNeyN(lm: KneserNeyNLm, path: String): Unit = {
    val spark = lm.grams.sparkSession
    deleteLayoutSubdirs(spark, path)
    lm.grams.write.mode("overwrite").parquet(s"$path/ngrams")
    lm.ctxTop.write.mode("overwrite").parquet(s"$path/ctx_top")
    (1 until lm.order).foreach { k =>
      lm.conts(k - 1).write.mode("overwrite").parquet(s"$path/cont_$k")
    }
    (1 to lm.order - 2).foreach { k =>
      lm.ctxs(k - 1).write.mode("overwrite").parquet(s"$path/ctx_$k")
    }
    spark.createDataFrame(
        Seq((lm.order, lm.vocabSize, lm.nContTypes, lm.discount, lm.beta,
          lm.largestRows)))
      .toDF("order", "vocab_size", "n_cont_types", "discount", "beta",
        "n_largest")
      .write.mode("overwrite").parquet(s"$path/knn_meta")
  }

  /** Load a persisted KN-N model (fails loudly on any other layout — no
    * `knn_meta` commit marker there). Broadcast-guard count seeded from
    * the meta row — zero probe jobs at serve. */
  def readKneserNeyN(spark: SparkSession, path: String): KneserNeyNLm = {
    val meta = spark.read.parquet(s"$path/knn_meta").head()
    val order = meta.getAs[Int]("order")
    seedFromMeta(meta, KneserNeyNLm(order,
      spark.read.parquet(s"$path/ngrams"),
      spark.read.parquet(s"$path/ctx_top"),
      (1 until order).map(k => spark.read.parquet(s"$path/cont_$k")),
      (1 to order - 2).map(k => spark.read.parquet(s"$path/ctx_$k")),
      meta.getAs[Long]("vocab_size"), meta.getAs[Long]("n_cont_types"),
      meta.getAs[Double]("discount"), meta.getAs[Double]("beta")))
  }

  /** A MODIFIED Kneser-Ney model (Chen & Goodman 1999, the smoothing
    * KenLM actually ships as its default): [[KneserNeyNLm]]'s
    * recursion with the single fixed discount D replaced, at EVERY
    * level, by three count-dependent discounts D₁/D₂/D₃₊ estimated
    * from that level's count-of-counts:
    *
    *   Y  = n₁ / (n₁ + 2·n₂)
    *   D₁ = 1 − 2Y·n₂/n₁,  D₂ = 2 − 3Y·n₃/n₂,  D₃₊ = 3 − 4Y·n₄/n₃
    *
    * (nᵢ = how many grams at that level have count exactly i — raw
    * counts at the top order, continuation TYPE counts below). The
    * backoff weight frees exactly the discounted mass,
    * γ(ctx) = (D₁·N₁(ctx·) + D₂·N₂(ctx·) + D₃₊·N₃₊(ctx·)) / c(ctx·),
    * so the distribution stays normalized as long as 0 ≤ D₁ ≤ 1,
    * 0 ≤ D₂ ≤ 2, 0 ≤ D₃₊ ≤ 3 — the estimator guarantees the upper
    * bounds by construction and [[estimateDiscounts]] CLAMPS the lower
    * (adversarial histograms can cross zero); a level whose histogram
    * cannot feed the estimator at all falls back to the fixed
    * [[FallbackDiscount]] for that level (SRILM's behavior — real on
    * dense corpora, where a low continuation level may have NO
    * count-1 types), and with every level on the fallback the model
    * is bit-identical to the fixed-discount [[KneserNeyNLm]]
    * (spec-pinned degeneracy).
    *
    * Tables are [[KneserNeyNLm]]'s with the context tables' single
    * type count split into the three buckets the weights need:
    * `ctxTop` = (w1..w_{N-1}, tot, t1, t2, t3); `ctxs(k-1)` = ctx_k =
    * (key, s_k, f1_k, f2_k, f3_k). `discounts(k-2)` = level k's
    * (D₁, D₂, D₃₊) for k in 2..order (top order last) — DRIVER
    * scalars estimated at train time from bounded count-of-counts
    * probes, persisted with the model, so serving never re-estimates.
    * Still two corpus scans to train, still closed-form and
    * DuckDB-replayable (`q_lm_xent_mkn` generates the full
    * count-of-counts + discount arithmetic as SQL CTEs). */
  final case class ModifiedKneserNeyNLm(order: Int, grams: DataFrame,
                                        ctxTop: DataFrame,
                                        conts: IndexedSeq[DataFrame],
                                        ctxs: IndexedSeq[DataFrame],
                                        vocabSize: Long, nContTypes: Long,
                                        discounts: IndexedSeq[(Double, Double, Double)],
                                        beta: Double)
      extends LargestTableRows {
    override protected def largestTable: DataFrame = grams
    require(order >= 3,
      s"ModifiedKneserNeyNLm needs order >= 3, got $order")
    require(conts.length == order - 1,
      s"expected ${order - 1} continuation tables, got ${conts.length}")
    require(ctxs.length == order - 2,
      s"expected ${order - 2} context tables, got ${ctxs.length}")
    require(discounts.length == order - 1,
      s"expected ${order - 1} discount triples (levels 2..$order), got ${discounts.length}")
    require(vocabSize > 0, s"MKN LM needs a non-empty vocabulary, got $vocabSize")
    require(nContTypes > 0,
      s"MKN LM needs at least one continuation type, got $nContTypes")
    discounts.zipWithIndex.foreach { case ((d1, d2, d3), i) =>
      require(d1 >= 0.0 && d1 <= 1.0 && d2 >= 0.0 && d2 <= 2.0 &&
        d3 >= 0.0 && d3 <= 3.0,
        s"level ${i + 2} discounts out of the normalization-safe range: " +
          s"D1=$d1 (need [0,1]), D2=$d2 ([0,2]), D3=$d3 ([0,3])")
    }
    require(beta > 0.0, s"continuation floor beta must be > 0, got $beta")
  }

  /** The per-level fallback discount when a level's count histogram is
    * too thin for the Chen-Goodman estimator — the classic fixed D
    * (and [[trainKneserNeyN]]'s default). 0.75 = 3/4 is exactly
    * representable, so an all-fallback modified model is BIT-identical
    * to the fixed-discount [[KneserNeyNLm]] (0.75·f₁ + 0.75·f₂ +
    * 0.75·f₃ ≡ 0.75·f exactly in binary) — spec-pinned. */
  val FallbackDiscount: Double = 0.75

  /** Chen & Goodman discount estimates for one level from its
    * count-of-counts — a single bounded aggregation over an
    * already-materialized count table (n₁..n₄ are four conditional
    * sums in one pass), then pure driver arithmetic. A level whose
    * histogram cannot feed the estimator (some of n₁..n₃ = 0 — REAL on
    * dense corpora: at a low continuation level every suffix can have
    * many distinct contexts, leaving no count-1 types at all) falls
    * back to the fixed [[FallbackDiscount]] at THAT level, SRILM's
    * behavior, noted on stderr; usable estimates are CLAMPED into the
    * normalization-safe ranges ([0,1]/[0,2]/[0,3] — the upper bounds
    * hold by construction, the lower can be crossed by adversarial
    * histograms). The gate includes n₄ = 0 (ADVICE r15): without
    * count-4 grams the D₃₊ estimate clamps to exactly 3.0, zeroing the
    * discounted first term of every count-3 gram at that level — a
    * silent quality cliff SRILM also treats as estimator failure, so
    * the whole level falls back rather than ship a degenerate D₃₊.
    * Both rules are pure arithmetic on the four counts, so the
    * generated DuckDB oracle replays them exactly. */
  private def estimateDiscounts(counts: DataFrame, cntCol: String,
                                level: String): (Double, Double, Double) = {
    val r = counts.agg(
      sum(when(col(cntCol) === 1, 1L).otherwise(0L)),
      sum(when(col(cntCol) === 2, 1L).otherwise(0L)),
      sum(when(col(cntCol) === 3, 1L).otherwise(0L)),
      sum(when(col(cntCol) === 4, 1L).otherwise(0L))).head()
    val (n1, n2, n3, n4) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    if (n1 == 0 || n2 == 0 || n3 == 0 || n4 == 0) {
      System.err.println(
        s"[graft.lm] $level count-of-counts too thin for Chen-Goodman " +
          s"(n1=$n1 n2=$n2 n3=$n3 n4=$n4) — using the fixed " +
          s"$FallbackDiscount discounts at this level")
      (FallbackDiscount, FallbackDiscount, FallbackDiscount)
    } else {
      // the exact IEEE association the generated DuckDB oracle replays
      val y = n1 / (n1 + 2.0 * n2)
      val d1 = math.min(math.max(1.0 - (2.0 * y * n2) / n1, 0.0), 1.0)
      val d2 = math.min(math.max(2.0 - (3.0 * y * n3) / n2, 0.0), 2.0)
      val d3 = math.min(math.max(3.0 - (4.0 * y * n4) / n3, 0.0), 3.0)
      (d1, d2, d3)
    }
  }

  /** Train a [[ModifiedKneserNeyNLm]] at `order`: the
    * [[trainKneserNeyN]] economics verbatim — two corpus scans, every
    * cascade level an aggregation of the materialized level above —
    * plus one bounded count-of-counts probe per level (order − 1
    * short jobs over the already-checkpointed count tables) for the
    * discount estimates. */
  def trainModifiedKneserNeyN(docs: DataFrame, textCol: String, order: Int,
                              beta: Double = 0.5): ModifiedKneserNeyNLm = {
    require(order >= 3,
      s"trainModifiedKneserNeyN needs order >= 3, got $order")
    val ws = (1 to order).map(i => s"w$i")
    // same overlap/observe discipline as [[trainKneserNeyN]] (§2.6 +
    // counts riding checkpoint jobs), plus: the order − 1 bounded
    // count-of-counts probes are INDEPENDENT aggregations over
    // already-checkpointed tables, so they run concurrently instead of
    // as a serial tail of driver round-trips
    val vocabF = vocabSizeAsync(docs, textCol)
    val (grams, nGrams) = Materialize.eagerCheckpointWithCount(
      ngramRows(docs, textCol, order, "g")
      .select(ws.map(w => col(s"g.$w").as(w)): _*)
      .groupBy(ws.map(col): _*).agg(count(lit(1)).as("cnt")))
    val ctxTop = grams.groupBy(ws.init.map(col): _*)
      .agg(sum("cnt").as("tot"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("t1"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("t2"),
        sum(when(col("cnt") >= 3, 1L).otherwise(0L)).as("t3"))
    val conts = new Array[DataFrame](order - 1)
    var nContTypes = -1L
    def ckCont(idx: Int, df: DataFrame): Unit =
      if (idx == 1) { // cont_2's row count IS N1+(··): ride its job
        val (ck, n) = Materialize.eagerCheckpointWithCount(df)
        conts(idx) = ck; nContTypes = n
      } else conts(idx) = Materialize.eagerCheckpoint(df)
    ckCont(order - 2, grams.groupBy(ws.tail.map(col): _*)
      .agg(count(lit(1)).as(s"nct${order - 1}")))
    val ctxs = new Array[DataFrame](order - 2)
    for (k <- (order - 2) to 1 by -1) {
      val upperKey = ws.drop(order - k - 1) // cont_{k+1}'s key, length k+1
      ctxs(k - 1) = conts(k).groupBy(upperKey.init.map(col): _*)
        .agg(sum(s"nct${k + 1}").as(s"s$k"),
          sum(when(col(s"nct${k + 1}") === 1, 1L).otherwise(0L)).as(s"f1_$k"),
          sum(when(col(s"nct${k + 1}") === 2, 1L).otherwise(0L)).as(s"f2_$k"),
          sum(when(col(s"nct${k + 1}") >= 3, 1L).otherwise(0L)).as(s"f3_$k"))
      ckCont(k - 1, conts(k).groupBy(upperKey.tail.map(col): _*)
        .agg(count(lit(1)).as(s"nct$k")))
    }
    val probes = (2 until order).map(k => async(s"graft-mkn-probe-$k") {
      estimateDiscounts(conts(k - 1), s"nct$k",
        s"level $k (continuation types)")
    }) :+ async("graft-mkn-probe-top") {
      estimateDiscounts(grams, "cnt", s"level $order (raw counts)")
    }
    val discounts = probes.map(await(_)).toIndexedSeq
    ModifiedKneserNeyNLm(order, grams, ctxTop, conts.toIndexedSeq,
      ctxs.toIndexedSeq, await(vocabF), nContTypes, discounts, beta)
      .seedLargestRows(nGrams)
  }

  /** [[pruneKneserNeyN]] for the modified form: top-order pruning
    * only — the cascade, the context buckets AND the persisted
    * train-time discounts keep describing the full corpus, so a
    * pruned gram loses its discounted first term and falls to the
    * backoff cascade; pruned xent pointwise dominates exact, the
    * family-wide gate direction. */
  def pruneModifiedKneserNeyN(lm: ModifiedKneserNeyNLm,
                              minCount: Long): ModifiedKneserNeyNLm = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    lm.copy(grams = lm.grams.filter(col("cnt") >= minCount))
  }

  /** Per-document cross-entropy under a [[ModifiedKneserNeyNLm]] —
    * [[crossEntropyKneserNeyN]]'s exact scan and join shape (one
    * corpus explode, 2N−1 vocabulary-scale broadcast joins, one
    * per-doc-aggregate shuffle); only the probability expression
    * differs: the discount is SELECTED per joined count (D₁/D₂/D₃₊ by
    * whether the count is 1, 2, or ≥ 3) and the backoff weight sums
    * the three bucket masses. Same broadcast-size guard, same output
    * contract `(idCol, n_ngrams, xent)`. */
  def crossEntropyModifiedKneserNeyN(docs: DataFrame, idCol: String,
                                     textCol: String,
                                     lm: ModifiedKneserNeyNLm,
                                     broadcastModel: Boolean = true,
                                     maxBroadcastRows: Long = MaxBroadcastModelRows): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (resolveBroadcast(lm.largestRows, broadcastModel, maxBroadcastRows,
        s"modified-KN-${lm.order} gram table")) broadcast(_) else identity
    val ws = (1 to lm.order).map(i => s"w$i")
    // outer-explode score shape — see [[crossEntropy]]/[[ngramRowsOuter]]
    val exploded = ngramRowsOuter(docs, textCol, lm.order, "g", col(idCol))
      .select(col(idCol) +: ws.map(w => col(s"g.$w").as(w)): _*)
    var p: Column = (coalesce(col("nct1"), lit(0L)) + lm.beta) /
      (lit(lm.nContTypes.toDouble) + lm.beta * lm.vocabSize)
    for (k <- 2 until lm.order) {
      val (d1, d2, d3) = lm.discounts(k - 2)
      val prev = p
      val dsel = when(col(s"nct$k") >= 3, lit(d3))
        .when(col(s"nct$k") === 2, lit(d2)).otherwise(lit(d1))
      val pSeen = greatest(coalesce(col(s"nct$k"), lit(0L)) - dsel,
        lit(0.0)) / col(s"s${k - 1}") +
        ((lit(d1) * col(s"f1_${k - 1}") + lit(d2) * col(s"f2_${k - 1}") +
          lit(d3) * col(s"f3_${k - 1}")) / col(s"s${k - 1}")) * prev
      p = when(col(s"s${k - 1}").isNull, prev).otherwise(pSeen)
    }
    val (td1, td2, td3) = lm.discounts(lm.order - 2)
    val dtop = when(col("cnt") >= 3, lit(td3))
      .when(col("cnt") === 2, lit(td2)).otherwise(lit(td1))
    val pTopSeen =
      greatest(coalesce(col("cnt"), lit(0L)) - dtop, lit(0.0)) / col("tot") +
        ((lit(td1) * col("t1") + lit(td2) * col("t2") +
          lit(td3) * col("t3")) / col("tot")) * p
    val logp = log(when(col("tot").isNull, p).otherwise(pTopSeen))
    var joined = exploded
      .join(hinted(lm.grams), ws, "left")
      .join(hinted(lm.ctxTop), ws.init, "left")
    for (k <- (lm.order - 1) to 2 by -1) {
      joined = joined
        .join(hinted(lm.conts(k - 1)), ws.drop(lm.order - k), "left")
        .join(hinted(lm.ctxs(k - 2)), ws.drop(lm.order - k).init, "left")
    }
    joined = joined.join(hinted(lm.conts(0)), Seq(ws.last), "left")
    joined.groupBy(idCol)
      .agg(count(col("w1")).as("n_ngrams"),
        (-avg(when(col("w1").isNotNull, logp))).as("xent"))
      .select(col(idCol), col("n_ngrams"), col("xent"))
  }

  /** Persist a modified-KN model: [[writeKneserNeyN]]'s table layout
    * plus a `mkn_discounts/` table (level, d1, d2, d3 — the persisted
    * train-time estimates, so serving never re-derives them) and a
    * 1-row `mkn_meta/` commit marker written LAST, under the same
    * scoped layout pre-delete. */
  def writeModifiedKneserNeyN(lm: ModifiedKneserNeyNLm, path: String): Unit = {
    val spark = lm.grams.sparkSession
    deleteLayoutSubdirs(spark, path)
    lm.grams.write.mode("overwrite").parquet(s"$path/ngrams")
    lm.ctxTop.write.mode("overwrite").parquet(s"$path/ctx_top")
    (1 until lm.order).foreach { k =>
      lm.conts(k - 1).write.mode("overwrite").parquet(s"$path/cont_$k")
    }
    (1 to lm.order - 2).foreach { k =>
      lm.ctxs(k - 1).write.mode("overwrite").parquet(s"$path/ctx_$k")
    }
    spark.createDataFrame(
        lm.discounts.zipWithIndex.map { case ((d1, d2, d3), i) =>
          (i + 2, d1, d2, d3)
        })
      .toDF("level", "d1", "d2", "d3")
      .write.mode("overwrite").parquet(s"$path/mkn_discounts")
    spark.createDataFrame(
        Seq((lm.order, lm.vocabSize, lm.nContTypes, lm.beta,
          lm.largestRows)))
      .toDF("order", "vocab_size", "n_cont_types", "beta", "n_largest")
      .write.mode("overwrite").parquet(s"$path/mkn_meta")
  }

  /** Load a persisted modified-KN model (fails loudly on any other
    * layout — no `mkn_meta` commit marker there). Broadcast-guard count
    * seeded from the meta row — zero probe jobs at serve. */
  def readModifiedKneserNeyN(spark: SparkSession,
                             path: String): ModifiedKneserNeyNLm = {
    val meta = spark.read.parquet(s"$path/mkn_meta").head()
    val order = meta.getAs[Int]("order")
    val discounts = spark.read.parquet(s"$path/mkn_discounts")
      .collect().sortBy(_.getAs[Int]("level"))
      .map(r => (r.getAs[Double]("d1"), r.getAs[Double]("d2"),
        r.getAs[Double]("d3"))).toIndexedSeq
    seedFromMeta(meta, ModifiedKneserNeyNLm(order,
      spark.read.parquet(s"$path/ngrams"),
      spark.read.parquet(s"$path/ctx_top"),
      (1 until order).map(k => spark.read.parquet(s"$path/cont_$k")),
      (1 to order - 2).map(k => spark.read.parquet(s"$path/ctx_$k")),
      meta.getAs[Long]("vocab_size"), meta.getAs[Long]("n_cont_types"),
      discounts, meta.getAs[Double]("beta")))
  }

  /** Per-document cross-entropy under `lm`: output is
    * `(idCol, n_bigrams, xent)` for EVERY input document —
    * `n_bigrams = 0` and NULL `xent` for docs with < 2 tokens. `xent`
    * is in nats; the gate compares in log space on purpose (exp only
    * amplifies ulp noise; perplexity is `exp(xent)` when a human wants
    * it). */
  def crossEntropy(docs: DataFrame, idCol: String, textCol: String,
                   lm: BigramLm, broadcastModel: Boolean = true,
                   maxBroadcastRows: Long = MaxBroadcastModelRows): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (resolveBroadcast(lm.largestRows, broadcastModel, maxBroadcastRows,
        "bigram model table")) broadcast(_) else identity
    // OUTER explode (r20): every doc keeps a row (NULL struct below 2
    // tokens), so the per-doc aggregate alone covers the full corpus —
    // no docs re-scan + left join. Padding rows have NULL w1 (real
    // grams never do), are missed by every model join, counted out by
    // count(w1), and ignored by avg's null-skip — output identical to
    // the join form row for row.
    val exploded = ngramRowsOuter(docs, textCol, 2, "bg", col(idCol))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val logp = log(
      (coalesce(col("n12"), lit(0L)) + lm.alpha) /
        (coalesce(col("n1"), lit(0L)) + lm.alpha * lm.vocabSize))
    exploded
      .join(hinted(lm.bigrams), Seq("w1", "w2"), "left")
      .join(hinted(lm.contexts), Seq("w1"), "left")
      .groupBy(idCol)
      .agg(count(col("w1")).as("n_bigrams"),
        (-avg(when(col("w1").isNotNull, logp))).as("xent"))
      .select(col(idCol), col("n_bigrams"), col("xent"))
  }

  /** The gate itself: keep documents whose cross-entropy under `lm` is
    * ≤ `maxXent` (CCNet keeps the low-perplexity "head"). Unscorable
    * docs (< 2 tokens) are kept or dropped by `keepUnscored` —
    * explicit, because a NULL comparison would silently drop them.
    * Returns the original columns plus `xent`. */
  def filterByCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
                           lm: BigramLm, maxXent: Double,
                           keepUnscored: Boolean = true,
                           broadcastModel: Boolean = true): DataFrame = {
    val scored = crossEntropy(docs, idCol, textCol, lm, broadcastModel)
      .select(col(idCol), col("xent"))
    docs.join(scored, Seq(idCol))
      .filter(col("xent") <= maxXent ||
        (if (keepUnscored) col("xent").isNull else lit(false)))
  }

  /** Persist a model: `bigrams/`, `contexts/`, and a 1-row `meta/`
    * carrying (vocab_size, alpha) — written LAST, the same
    * commit-marker role as the index families' `_meta`: a crashed write
    * leaves no meta and [[read]] fails loudly instead of serving a
    * partial model. Any EXISTING LM LAYOUT at `path` is removed first
    * ([[TextIndex.write]]'s rebuild semantics): without this, a crashed
    * RE-write would leave the old commit marker standing over a mix of
    * new and old tables — a "committed" Frankenstein model [[read]]
    * would happily serve. The pre-delete is scoped to the KNOWN layout
    * subdirs (bigrams/contexts/meta plus the interpolated form's
    * unigrams/interp_meta, so a plain re-write over an interpolated
    * layout can never leave a stale `interp_meta` standing over fresh
    * tables) — a recursive delete of the whole path would destroy
    * unrelated data a caller happened to co-locate under it, turning a
    * config slip into data loss. For an always-servable rebuild of a
    * LIVE model, write to a side dir and rename. */
  /** The scoped rebuild pre-delete shared by every LM writer: exactly
    * the known layout subdirs of ALL the model forms (plain /
    * interpolated / Kneser-Ney), so re-writing one form over another
    * clears the other's commit marker too, while unrelated co-located
    * data survives. */
  private def deleteLayoutSubdirs(spark: SparkSession, path: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    Seq("bigrams", "contexts", "meta", "unigrams", "interp_meta",
        "conttypes", "kn_meta",
        "trigrams", "ctx12", "cont23", "ctx2", "cont3", "kn3_meta",
        "ngrams", "ctx_top", "knn_meta",
        "mkn_discounts", "mkn_meta").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(hc).delete(p, true)
    }
    // the KN-N cascade dirs are numbered by order (cont_1..cont_{N-1},
    // ctx_1..ctx_{N-2}), so the scoped delete matches the NAME PATTERN
    // rather than guessing an order — still never touches co-located
    // non-layout data
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hc)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.getPath.getName.matches("(cont|ctx)_\\d+"))
        fs.delete(st.getPath, true)
    }
  }

  def write(lm: BigramLm, path: String): Unit = {
    val spark = lm.bigrams.sparkSession
    deleteLayoutSubdirs(spark, path)
    lm.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    lm.contexts.write.mode("overwrite").parquet(s"$path/contexts")
    spark.createDataFrame(Seq((lm.vocabSize, lm.alpha, lm.largestRows)))
      .toDF("vocab_size", "alpha", "n_largest")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted model. The meta probe is one row (bounded driver
    * read); the count tables stay lazy parquet scans, so a serve that
    * broadcasts them reads them exactly once. The broadcast-guard count
    * rides the meta row ([[LargestTableRows]]) — serving a loaded model
    * runs zero probe jobs (pre-`n_largest` layouts fall back to one
    * bounded parquet count on first scoring). */
  def read(spark: SparkSession, path: String): BigramLm = {
    val meta = spark.read.parquet(s"$path/meta").head()
    seedFromMeta(meta, BigramLm(
      spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/contexts"),
      meta.getAs[Long]("vocab_size"),
      meta.getAs[Double]("alpha")))
  }

  /** Seed [[LargestTableRows]] from a persisted meta row when the
    * layout carries `n_largest`; older layouts (pre-r16) lack the
    * column and keep the lazy-count fallback. */
  private def seedFromMeta[M <: LargestTableRows](
      meta: org.apache.spark.sql.Row, lm: M): M = {
    if (meta.schema.fieldNames.contains("n_largest"))
      lm.seedLargestRows(meta.getAs[Long]("n_largest"))
    lm
  }
}
