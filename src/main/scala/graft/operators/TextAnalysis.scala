package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language identification, and document fingerprinting — all
  * narrow per-row transforms (no shuffle), codegen'd built-ins only.
  */
object TextAnalysis {

  /** Whitespace tokens — THE tokenizer definition shared by
    * [[Dedup.wordShingles]] and bit-matched by [[graft.functions.Tokens]],
    * the byte-level tokenizer of the native text kernels.
    * Blank/whitespace-only text yields an empty array (a bare `split`
    * would yield `[""]`, crediting phantom tokens and making all blank
    * docs mutual duplicates). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** The DRIVER-SIDE twin of [[tokens]] — for the places a query string
    * is tokenized on the driver (the literal `isin` predicates of
    * [[TextIndex.bm25]] and friends). One definition, property-pinned
    * equal to the Column form (TextIndexSpec), so a future change to
    * [[tokens]] (lowercasing, filtering) can never silently
    * desynchronize query terms from index terms. Deliberately NO
    * `String.trim`: Java trim strips every char ≤ U+0020 while Spark's
    * `trim` strips only spaces, so a leading control character (kept
    * inside the first term by BOTH split definitions) would
    * desynchronize the two sides; split + drop-empties alone is exactly
    * the Column semantics (split's leading/trailing empty fragments are
    * the only artifacts trimming ever prevented, and the filter removes
    * them). */
  def tokenizeDriver(text: String): Seq[String] =
    text.split("\\s+").filter(_.nonEmpty).toSeq

  /** GPT-2-style PRE-tokens: maximal alphanumeric runs plus each
    * non-alphanumeric character as its own token, whitespace dropped —
    * the boundary-splitting tokenizer a subword (BPE) vocabulary wants,
    * where "word," decomposes to "word" + "," instead of hiding the
    * comma inside one unit. Lookaround split: a break before AND after
    * every non-alphanumeric character, so punctuation never glues to a
    * word or to other punctuation. ALL whitespace drops — the filter is
    * a `\s`-regex test, not `trim` (Spark trim strips only spaces, which
    * would have let a tab or CR survive as a learnable "word" and
    * silently contradict this contract on code/JSON corpora). Shared by
    * [[withTokenCounts]]'s `n_bpeish` and [[Bpe]]'s `pretokenize`
    * option; equivalently (and lookaround-free, for the DuckDB oracle)
    * `regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9]')` minus
    * `^\s*$` tokens. */
  def preTokens(text: Column): Column =
    filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => !(t rlike "^\\s*$"))

  /** Token count (whitespace) plus a BPE-ish subword-regex count: words,
    * numbers, and single punctuation marks counted separately. */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", size(tokens(col(textCol))))
      .withColumn("n_bpeish", size(preTokens(col(textCol))))

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * their counts, ties broken by token order so the cut is
    * deterministic. Scale shape: explode → map-side partial count → ONE
    * shuffle on the token key → global top-k fused to
    * `TakeOrderedAndProject` (no full sort ever materializes; the sorted
    * set held anywhere is k rows, not the vocabulary). The [[tokens]]
    * definition is shared, so vocab, shingles, and simhash all agree on
    * what a token is.
    *
    * On "two-level pre-aggregation for heavy hitters": the partial hash
    * aggregate IS the two-level scheme — each map task emits one row per
    * ITS-OWN distinct tokens (heavy hitters collapse map-side), so the
    * shuffle carries Σ per-partition-distinct rows, not token
    * occurrences. Measured at bench scale: q_vocab shuffle write ≈ 0 MB
    * (bench_full.json) — an `approx_count_distinct`-guarded extra level
    * would add a pass to save a shuffle that is already negligible; it
    * becomes worth revisiting only if a corpus's PER-PARTITION distinct
    * vocabulary itself outgrows task memory. */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Quality-score features: length, punctuation ratio, stopword ratio,
    * mean word length — and a [0,1] composite. Deterministic closed-form
    * (no model), so it is oracle-checkable in plain SQL:
    *  - `n_tokens` = `size(tokens(text))`;
    *  - `punct_ratio` = ASCII `\p{Punct}` characters / `length(text)`;
    *  - `stopword_ratio` = stopword tokens / `n_tokens`;
    *  - `mean_word_len` = summed token length / `n_tokens` — exact over
    *    the tokens themselves; the (len − (nTok−1))/nTok shortcut
    *    over-credits words when tokens are separated by RUNS of whitespace.
    *
    * All four counts come from ONE pass of the native
    * [[graft.functions.QualityCounts]] kernel, bit-identical to the
    * built-in forms (`size(filter(tokens, isin))`, `aggregate(tokens, …)`,
    * `length − length(regexp_replace)`); the columns divide them with the
    * same types and double operations, in the same order. Null text gives
    * null features.
    *
    * The kernel runs once per row: its struct is unpacked by a `Generate`
    * (`inline(array(counts))`), which a filter on the features cannot be
    * pushed below. Plain field references would let a filter on
    * `quality_score` be pushed below the projection and evaluate the
    * kernel a second time. */
  def withQuality(df: DataFrame, textCol: String,
                  stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val t = col(textCol)
    val counts = graft.functions.QualityCounts.qualityCounts(t, stopwords)
    // the struct's fields, in order, under names no input column uses
    val names = Seq("__q_tokens", "__q_stopwords", "__q_token_chars", "__q_punct")
    val Seq(nTok, nStop, tokenChars, punct) = names.map(col)
    df.select(col("*"), inline(array(counts)).as(names))
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio", punct.cast("double") / greatest(length(t), lit(1)))
      .withColumn("stopword_ratio", nStop.cast("double") / greatest(nTok, lit(1)))
      .withColumn("mean_word_len", tokenChars.cast("double") / greatest(nTok, lit(1)))
      .drop(names: _*)
      .withColumn("quality_score",
        least(greatest(
          lit(0.4) * least(col("n_tokens").cast("double") / 64.0, lit(1.0)) +
            lit(0.4) * least(col("stopword_ratio") * 4.0, lit(1.0)) +
            lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))),
          lit(0.0)), lit(1.0)))
  }

  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "that", "this")

  /** Tiny n-gram/stopword language-ID heuristic: score each candidate
    * language by its marker-token hit rate; highest score wins (ties by
    * language code order). `und` when nothing matches. */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
      "en" -> DefaultStopwords,
      "es" -> Seq("el", "la", "los", "de", "que", "y", "un", "una"),
      "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
      "zh" -> Seq("的", "是", "不", "了", "在"))
    val toks = tokens(col(textCol))
    val n = greatest(size(toks), lit(1))
    val scored = df.withColumns(markers.map { case (code, ws) =>
      s"score_$code" ->
        (size(filter(toks, w => w.isin(ws.map(lit): _*))).cast("double") / n)
    }.toMap)
    // NOTE this fold references the running best twice per step, so the
    // expression tree doubles per marker — O(2^m). Deliberately kept:
    // m is the FIXED marker-language set (not data-dependent) and the
    // leaves are bare column refs, so the tree is ~2^6 tiny nodes. If the
    // marker set ever grows past a dozen, switch to the O(m)
    // array_max-over-(score, -idx, code)-structs form used by
    // Similarity.assignExpr (which hit multi-MB task binaries from this
    // same shape at k=8 with big leaf expressions).
    val best = markers.map(_._1).foldLeft((lit("und"), lit(0.0))) {
      case ((bestLang, bestScore), code) =>
        val s = col(s"score_$code")
        (when(s > bestScore, lit(code)).otherwise(bestLang),
          when(s > bestScore, s).otherwise(bestScore))
    }
    scored.withColumn("pred_lang", best._1)
      .withColumn("lang_score", best._2)
      .drop(markers.map { case (c, _) => s"score_$c" }: _*)
  }

  /** Repetition statistics (Gopher-style repetition quality signals —
    * Rae et al. 2021, "Scaling Language Models", §A1.1.2): fraction of
    * duplicate lines and duplicate whitespace-token 2-grams per document.
    * High values flag boilerplate/spam that dedup misses because no OTHER
    * document shares it. Narrow per-row transform, no shuffle. */
  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => length(trim(l)) > 0)
    val toks = tokens(col(textCol))
    // zip_with over two slices, NOT transform(sequence, i => slice(toks,
    // i, 2)): HOF lambda bodies re-evaluate captured expressions per
    // element, so the old shape re-ran the tokenizer once per bigram —
    // O(n²) string work per document (the LanguageModel.bigramStructs
    // bug class, found by its scale harness)
    val bigrams = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
    def dupFrac(xs: Column): Column =
      when(size(xs) === 0, lit(0.0)) // nothing present ⇒ nothing duplicated
        .otherwise(lit(1.0) - size(array_distinct(xs)).cast("double") / size(xs))
    df.withColumn("n_lines", size(lines))
      .withColumn("dup_line_frac", dupFrac(lines))
      .withColumn("dup_bigram_frac", dupFrac(bigrams))
  }

  /** Context-window chunking: split each document's whitespace tokens into
    * overlapping chunks of `chunkSize` tokens starting every `stride`
    * tokens — the sequence-packing front end of a training pipeline.
    * Chunk starts are 0, stride, 2·stride, …, with the LAST start the
    * first one whose chunk reaches the end (no degenerate tail chunks):
    * nChunks = 1 + ceil(max(n − chunkSize, 0) / stride). Blank documents
    * yield no rows. Output: `(idCol, chunk_idx, chunk_text, chunk_tokens)`. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride ($stride) <= chunkSize ($chunkSize)")
    val toks = tokens(col(textCol))
    val n = size(toks)
    // exact for any realistic n: doubles are exact integers below 2^53
    val nChunks = (ceil(greatest(n - chunkSize, lit(0)).cast("double")
      / stride) + 1).cast("int")
    // let-binding via a 1-element outer transform: the outer HOF
    // evaluates `toks` ONCE and the inner lambda slices the BOUND array
    // `ts` — slicing the captured tokenizer expression directly would
    // re-run split+filter per chunk, O(n²/stride) per document (the
    // bigramStructs bug class; zip_with can't express strided slices,
    // this idiom can)
    val chunks = transform(array(toks), ts =>
      transform(sequence(lit(0), nChunks - 1),
        i => slice(ts, i * stride + 1, lit(chunkSize))))
    df.select(col(idCol),
        posexplode(when(n === 0, array().cast("array<array<string>>"))
          .otherwise(element_at(chunks, 1))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).as("chunk_tokens"))
  }

  /** Per-group vocabulary — the grouped twin of [[topTokens]]: the `k`
    * most frequent tokens per value of `groupCol` (ties by token), via a
    * salted TWO-STAGE top-k. Scale shape: map-side partial count → one
    * shuffle on `(group, token)` → stage 1 ranks within `(group, salt)`
    * where the salt is a deterministic hash of the token, keeping `k` per
    * cell — so no task ever sorts more than one SALT CELL of one group's
    * histogram (≈ 1/`salts` of it), not the whole group — → stage 2
    * re-ranks the ≤ `k·salts` survivors per group. A single-stage
    * `partitionBy(group)` window would funnel a skewed group's entire
    * distinct vocabulary (tens of millions of rows for a dominant
    * language) through one task; here that group's histogram is spread
    * across `salts` cells and the only per-group sort is over the bounded
    * survivor set. Exactness: a token in a group's true top `k` ranks ≤ k
    * within its salt cell too (the cell is a subset of the group ordered
    * by the same total order), so stage 1 never discards a winner.
    *
    * Relationship to Spark's own `InferWindowGroupLimit`: the optimizer
    * already inserts a PARTIAL rank-limit before each window's exchange
    * (visible in PlanSpec's pinned plan), which bounds a plain
    * single-window rank by k·(upstream partitions) per group. The salt
    * keeps the bound PARTITIONING-INDEPENDENT — k·salts regardless of
    * how the count shuffle happened to split a hot group — at the cost
    * of one extra (cheap, survivor-only) exchange; measured +0.12 s on
    * q_vocab_by_lang at bench scale.
    * Output: `(groupCol, token, n, rank)`. */
  def topTokensByGroup(df: DataFrame, textCol: String, groupCol: String,
                       k: Int, salts: Int = 64): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val counts = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(groupCol, "token").agg(count(lit(1)).as("n"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("n").desc, col("token"))
    saltedTopKSurvivors(counts, groupCol, k, salts)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
  }

  /** Stage 1 of [[topTokensByGroup]]'s two-stage top-k, exposed for the
    * spec that pins the bound: per `(group, salt-of-token)` cell, the top
    * `k` of the `(group, token, n)` counts — at most `k·salts` rows per
    * group survive into the final per-group rank. */
  private[graft] def saltedTopKSurvivors(counts: DataFrame, groupCol: String,
                                         k: Int, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be positive, got $salts")
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), pmod(xxhash64(col("token")), lit(salts)))
      .orderBy(col("n").desc, col("token"))
    counts.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k).drop("__r1")
  }

  /** Sequence packing (training-batch assembly): assign each document to a
    * fixed token-capacity bin — greedy sequential fill in a deterministic
    * hash order, with spillover: a doc straddling a capacity boundary
    * stays whole in the bin its cumulative offset starts in, so a bin can
    * overflow by at most one document (capacity is a soft target, the
    * standard packing approximation). Scale shape: docs are dealt to
    * `shards` by an md5-derived key and packed WITHIN each shard — the
    * cumulative-sum window partitions by shard, so there is one keyed
    * shuffle and never a global sort or single-partition window. Bin ids
    * are globally unique (`shard · 2⁴⁰ + index-within-shard`). Output
    * adds `n_tokens` and `bin`. */
  def packBins(df: DataFrame, idCol: String, textCol: String,
               capacity: Int, shards: Int = 1024): DataFrame = {
    require(capacity >= 1, s"capacity must be positive, got $capacity")
    require(shards >= 1 && shards <= (1 << 20),
      s"shards must be in [1, 2^20], got $shards")
    val h = md5(col(idCol).cast("string").cast("binary"))
    // 8 hex nibbles = 32 bits of shard key: far above the 2^20 shard cap,
    // so the pmod bias for non-power-of-two shard counts is ≤ 2^-12 (a
    // narrower key — e.g. 2 nibbles — would silently collapse shards
    // beyond its range, and an exactly-2^20-bit key would carry up to 2:1
    // skew at large non-power-of-two counts)
    val shard = pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(shards))
    val n = size(tokens(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(h, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cumBefore = coalesce(sum(n).over(w), lit(0L))
    df.withColumn("n_tokens", n)
      .withColumn("bin",
        shard * lit(1L << 40) +
          floor(cumBefore / lit(capacity.toDouble)).cast("long"))
  }

  /** Deterministic stratified sampling for corpus MIXING (upweight code,
    * downweight crawl, …): keep each row of stratum `s` with probability
    * `fractions(s)` — strata absent from the map, including NULL, take
    * `default` — decided by the md5 of the row's id, the same stable-hash
    * mechanism as [[hashSplit]]: membership is reproducible across runs,
    * engines, partitionings and cluster sizes (no `rand()`), and the
    * filter is a narrow per-row transform (no shuffle; at 100 TB the
    * sample costs one scan). Fractions realize as cutoffs on the first 4
    * md5 nibbles (granularity 1/65536); 1.0 keeps a stratum wholesale,
    * 0.0 drops it. Change `salt` to re-deal every stratum independently
    * of earlier samples. */
  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double], default: Double = 0.0,
                       salt: String = ""): DataFrame = {
    require((fractions.values.toSeq :+ default).forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0, 1]: $fractions default=$default")
    val pfx = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(salt)).cast("binary")), 1, 4),
      16, 10).cast("long")
    def keepBelow(f: Double): Column = pfx < lit(math.floor(f * 65536).toLong)
    // sorted fold so the when-chain (and thus the plan) is deterministic
    // regardless of Map iteration order
    val keep = fractions.toSeq.sortBy(_._1).foldLeft(keepBelow(default)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, keepBelow(f)).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Temperature-based mixture weights (the multilingual-sampling
    * standard — mC4 / XLM-R: sample stratum `s` with probability
    * ∝ n_s^α, α < 1 upweighting small strata): realize a DOC-count
    * `budget` over the given stratum sizes as per-stratum keep
    * fractions, by water-filling — a stratum whose α-share exceeds its
    * size caps at 1.0 (keep it wholesale) and its unused budget
    * re-tempers across the rest, iterated to fixpoint (≤ |strata|
    * rounds, driver-side, deterministic). Without binding caps this is
    * the closed-form single pass `budget · n^α/Σn^α / n`, which is what
    * the `q_sample_temperature` oracle replays. */
  def temperatureFractions(sizes: Map[String, Long], alpha: Double,
                           budget: Long): Map[String, Double] = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(sizes.values.forall(_ >= 0), s"sizes must be >= 0: $sizes")
    // zero-size strata can never contribute; fix them at 0.0 up front so
    // EVERY exit covers every input stratum (an early closed-form exit
    // that omitted them would NPE a caller indexing the map per stratum)
    val zeros: Map[String, Double] =
      sizes.collect { case (s, 0L) => s -> 0.0 }.toMap
    @annotation.tailrec
    def fill(capped: Map[String, Double], remaining: Long): Map[String, Double] = {
      val free = sizes.view.filterKeys(s => !capped.contains(s) && sizes(s) > 0).toMap
      if (free.isEmpty || remaining <= 0)
        capped ++ free.keys.map(_ -> 0.0)
      else {
        val w = free.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
        val wSum = w.values.sum
        val frac = free.map { case (s, n) =>
          s -> remaining * (w(s) / wSum) / n }
        val over = frac.filter(_._2 >= 1.0).keySet
        if (over.isEmpty) capped ++ frac
        else fill(capped ++ over.map(_ -> 1.0),
          remaining - over.toSeq.map(sizes).sum)
      }
    }
    fill(zeros, budget)
  }

  /** [[sampleStratified]] under [[temperatureFractions]]: one bounded
    * per-stratum count (|strata| rows to the driver — a mixture's
    * stratum cardinality is modest by construction), fractions computed
    * there, then the same shuffle-free md5-cutoff filter. For TOKEN
    * budgets instead of doc counts, feed the same weights into
    * [[sampleByTokenBudget]]'s budget map. */
  def sampleByTemperature(df: DataFrame, idCol: String, strataCol: String,
                          alpha: Double, budget: Long,
                          salt: String = ""): DataFrame = {
    // null strata are excluded from the weight computation: they could
    // never be sampled anyway (the cutoff filter's `col === stratum`
    // never matches null, i.e. they fall to default = 0.0), and a null
    // map key would NPE the fractions sort downstream
    val sizes = df.filter(col(strataCol).isNotNull)
      .groupBy(strataCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sampleStratified(df, idCol, strataCol,
      temperatureFractions(sizes, alpha, budget), default = 0.0, salt)
  }

  /** Token-BUDGET mixture sampling — the data-mixture primitive a
    * training pipeline runs last: per group (source, language, domain),
    * keep documents in a deterministic pseudo-random order until the
    * group's token budget is exhausted. Semantics: within each group,
    * docs are ordered by `(md5(id ++ salt), id)` — the same stable-hash
    * mechanism as [[hashSplit]], so the sample is reproducible across
    * runs, engines and partitionings — and a doc is kept iff the running
    * token total INCLUDING it stays ≤ `budgets(group)`. Groups absent
    * from the map are dropped entirely (an explicit 0 budget also drops
    * all of that group's non-empty docs).
    *
    * 100 TB posture — the naive formulation (`sum OVER (PARTITION BY
    * group ORDER BY key)`) sorts EVERY group inside one task, the
    * classic window bottleneck when one source holds most of the corpus.
    * This implementation is the two-pass equivalent: docs hash into 256
    * key-prefix buckets whose lexicographic order refines the key order,
    * pass 1 aggregates per-(group, bucket) token sums (tiny: |groups|·256
    * rows to the driver — group cardinality is assumed modest, which a
    * mixture map already implies), the driver computes each bucket's
    * START offset, and pass 2 keeps fully-within-budget buckets
    * wholesale (no sort at all) while running the cumulative window only
    * inside the straddling buckets — partitions 256× smaller than the
    * group, so no single task ever sorts a whole source. Equivalence to
    * the naive window is property-tested; the oracle checks the naive
    * formulation directly. */
  def sampleByTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                          groupCol: String, budgets: Map[String, Long],
                          salt: String = ""): DataFrame = {
    require(budgets.values.forall(_ >= 0L), s"budgets must be >= 0: $budgets")
    val spark = docs.sparkSession
    val key = md5(concat(col(idCol).cast("string"), lit(salt)).cast("binary"))
    val withKey = docs
      .withColumn("__key", key)
      .withColumn("__bucket", substring(col("__key"), 1, 2))
      .withColumn("n_tokens", size(tokens(col(textCol))).cast("long"))
      // groups without a budget are dropped here — pass 1 never
      // aggregates them and pass 2 never scans them
      .filter(col(groupCol).isin(budgets.keys.toSeq.map(lit): _*))
    // pass 1: per-(group, bucket) token sums -> driver -> start offsets
    val bucketSums = withKey.groupBy(groupCol, "__bucket")
      .agg(sum("n_tokens").as("__bsum"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val offsets: Map[(String, String), (Long, Long)] = // (start, bucketSum)
      bucketSums.keys.groupBy(_._1).flatMap { case (g, ks) =>
        ks.toSeq.sortBy(_._2).scanLeft((("", ""), (0L, 0L))) {
          case ((_, (start, prevSum)), k) => (k, (start + prevSum, bucketSums(k)))
        }.tail
      }
    val offsetDf = spark.createDataFrame(offsets.toSeq.map {
        case ((g, b), (start, _)) => (g, b, start, budgets(g))
      }).toDF(groupCol, "__bucket", "__start", "__budget")
    val fullyIn = offsets.collect {
      case ((g, b), (start, bsum)) if start + bsum <= budgets(g) => (g, b)
    }.toSet
    val fullyInDf = spark.createDataFrame(fullyIn.toSeq)
      .toDF(groupCol, "__bucket").withColumn("__whole", lit(true))
    val joined = withKey
      .join(broadcast(offsetDf), Seq(groupCol, "__bucket"))
      .join(broadcast(fullyInDf), Seq(groupCol, "__bucket"), "left")
    // pass 2, split by class so the cost claims are structural, not
    // hopeful: fully-in buckets are a broadcast-join FILTER — no shuffle,
    // no sort, their rows never move — while only the straddling buckets
    // (typically ≤ one per group) shuffle into the per-bucket window.
    // Two scans of the source beat one full-corpus shuffle at 100 TB:
    // the shuffle moves every byte over the network, the second scan
    // reads ~1/256 of the groups' rows after the bucket filter.
    val whole = joined.filter(col("__whole").isNotNull)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(groupCol), col("__bucket"))
      .orderBy(col("__key"), col(idCol))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val boundary = joined.filter(col("__whole").isNull)
      .withColumn("__cum", col("__start") + sum("n_tokens").over(w))
      .filter(col("__cum") <= col("__budget"))
      .drop("__cum")
    whole.unionByName(boundary)
      .drop("__key", "__bucket", "__start", "__budget", "__whole")
  }

  /** Deterministic corpus split (train/val/test): assign each row to a
    * named split by the md5 of its id (optionally salted) — stable across
    * runs, engines, partitionings and cluster sizes, unlike `rand()`-based
    * sampling, so split membership is reproducible anywhere and costs no
    * shuffle (narrow per-row transform). Fractions are realized as hex
    * cutoffs on the first 4 md5 nibbles (granularity 1/65536); rows route
    * to the first split whose cutoff exceeds their prefix. */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)] =
                  Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                salt: String = ""): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must be positive and sum to 1: $splits")
    require(splits.forall(_._2 >= 1.0 / 65536),
      s"fractions below the 1/65536 cutoff granularity would yield a silently empty split: $splits")
    val pfx = substring(
      md5(concat(col(idCol).cast("string"), lit(salt)).cast("binary")), 1, 4)
    val bounds = splits.init
      .scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => f"${math.floor(c * 65536).toLong}%04x")
    val chain = splits.init.zip(bounds).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), b)) =>
        Some(acc.fold(when(pfx < b, name))(_.when(pfx < b, name)))
    }
    // a NULL id would null every cutoff comparison and fall through to the
    // LAST split — silent, non-hash-derived membership; fail fast instead
    // (the repo's policy for degenerate inputs, cf. quantizeInt8). Applied
    // on the OUTPUT column so it also guards the single-split chain, where
    // no cutoff comparison would ever evaluate the hash.
    val assigned = chain.fold(lit(splits.last._1): Column)(_.otherwise(splits.last._1))
    df.withColumn("split",
      when(col(idCol).isNull, raise_error(lit(s"hash_split: null $idCol")))
        .otherwise(assigned))
  }

  // PII patterns: RE2-compatible (no lookaround), so the exact same
  // regexes run on Spark (java.util.regex) and RE2-based engines alike.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** The ONE definition of the redaction chain, at expression level so the
    * SQL registration (`redact_pii` in [[graft.GraftExtensions]]) and the
    * Column API below share it verbatim: the `redacted` field of the
    * native [[graft.functions.PiiScan]], which applies email, then IPv4,
    * then phone. Order matters (email first so its digits/dots can't be
    * half-eaten by the narrower patterns; IP before phone — neither can
    * match inside the other's replacement). */
  def redactPiiExpr(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.expressions.GetStructField(
      graft.functions.PiiScan(e), 3, Some("redacted"))

  /** PII redaction: emails, IPv4 addresses, and NANP-style phone numbers
    * replaced with typed placeholder tokens. Narrow per-row transform; a
    * deterministic closed form of the scrubbing pass every training
    * pipeline runs before tokenization. */
  def redactPii(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(redactPiiExpr(Bridge.expression(text)))
  }

  /** Per-type PII match counts alongside the redacted text — the audit
    * trail (how much was scrubbed) a curation run reports. The counts are
    * matches in the ORIGINAL text, and all four columns come from one
    * [[graft.functions.PiiScan]] per row. */
  def withPiiRedaction(df: DataFrame, textCol: String): DataFrame = {
    val scan = graft.functions.PiiScan.piiScan(col(textCol))
    df.withColumns(scala.collection.immutable.ListMap(
      Seq("n_emails", "n_ips", "n_phones", "redacted").map(f => f -> scan.getField(f)): _*))
  }

  /** Document fingerprints: `md5_fp` of whitespace-normalized lowercase
    * text (exact-dup key), and `min_shingle_fp` — the minimum md5 over the
    * document's k-shingles (a 1-hash MinHash / winnowing-style rolling
    * fingerprint usable as a cheap near-dup prefilter). */
  def withFingerprints(df: DataFrame, textCol: String, k: Int = 8): DataFrame = {
    val norm = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    // r20: the min-shingle fingerprint is the native
    // [[graft.functions.MinShingleMd5]] kernel — one compiled pass per
    // row instead of the nested-HOF form (transform + array_min +
    // md5-per-position), whose CodegenFallback lambdas evaluated
    // interpreted per shingle POSITION and materialized an n-element
    // hex array per document just to take its min. Value-identical by
    // construction (same positions, same substr/md5 kernels — spec- and
    // oracle-pinned). `norm` is STAGED in its own projection so the
    // whitespace regex runs once per row, not once per consuming column.
    df.withColumn("__fp_norm", norm)
      .withColumn("md5_fp", md5(col("__fp_norm").cast("binary")))
      .withColumn("min_shingle_fp",
        graft.functions.MinShingleMd5.minShingleMd5(col("__fp_norm"), k))
      .drop("__fp_norm")
  }
}
