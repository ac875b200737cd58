package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text index + BM25 ranking (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework: BM25 and Beyond") — the corpus
  * SEARCH primitive a curation pipeline reaches for when it needs more
  * than membership tests: "which training documents mention this eval
  * phrase", near-decontamination forensics, topical subcorpus pulls.
  * Everything is exact counts + closed-form arithmetic, so the whole
  * path sits under the DuckDB oracle (`q_bm25`).
  *
  * Index = three parts, all derived in ONE corpus scan:
  * `postings(doc, term, tf, dl)` (dl rides the groupBy key — constant
  * per doc, so it costs nothing extra and scoring never joins a
  * doc-length table), `docFreq(term, df)` (vocabulary-scale, derived
  * from postings — never a corpus rescan), and two scalars (N, Σdl —
  * the total doc length is kept as the EXACT integer sum, so epoch
  * growth adds it without weighted-mean rounding; avgdl derives).
  *
  * Scoring a query: the query's distinct terms become a LITERAL `isin`
  * predicate on the postings scan — no join for the candidate set, the
  * predicate pushes down to parquet row-group stats when the postings
  * are [[write]]-persisted sorted by term, so a serve reads only the
  * query terms' slices of the index (measured against an unsorted
  * control in bench_scale_bm25.json). `docFreq` for those terms is a
  * second pushed-down point read joined broadcast. Per-term partials
  * then sum per doc: one aggregate, keyed on the doc — the only shuffle
  * of a serve, proportional to the MATCHING postings, never the corpus.
  *
  * idf is the "+1" smoothed variant `ln(1 + (N − df + 0.5)/(df + 0.5))`
  * — strictly positive, so a term occurring in most documents dampens
  * rather than flips the score. Query terms are DISTINCT (duplicate
  * words in a query don't double-count — the common simplification; a
  * weighted-query variant is one extra column if ever needed). Output
  * is every document sharing ≥ 1 term, with its matched-term count and
  * score; the caller applies its own top-k (`orderBy(score)` + limit →
  * TakeOrderedAndProject) — the operator doesn't bake in a cut, and
  * the oracle compares the full scored set, which is robust to
  * last-ulp score ties that a rank column would amplify.
  *
  * LIFECYCLE — the persisted layout is EPOCH-structured, the additive
  * sibling of the span index: every part lives under `epoch=<key>`
  * partition dirs, an epoch's meta row (n_docs, total_dl) is written
  * LAST as its commit marker, and [[read]] filters every table to the
  * epochs meta records — a crashed append's postings are invisible and
  * a retry of the same epoch key overwrites itself (exactly-once for
  * `foreachBatch` replays, see [[graft.streaming.TextIndexIngest]]).
  * Growth is algebraic for id-DISJOINT corpora (a doc's postings live
  * wholly in one epoch; df, N and Σdl are additive), so
  * [[appendEpoch]] is a plain per-batch land — no read-modify-write —
  * and serve-after-append ≡ a one-shot rebuild (spec-pinned, and
  * `q_bm25_served` puts the grown layout under the same oracle as the
  * in-memory build). [[compact]] folds committed epochs back to one
  * (snapshot → staged write → rename-aside swap, so a complete
  * servable index exists on disk at every instant), which also GCs
  * crashed-epoch orphans. */
object TextIndex {

  /** A built index: see object doc. `nDocs`/`totalDl` count EVERY
    * corpus row (tokenless docs lower avgdl; they can never match, but
    * they are part of the collection the statistics describe). */
  final case class InvertedIndex(postings: DataFrame, docFreq: DataFrame,
                                 nDocs: Long, totalDl: Long) {
    require(nDocs > 0, "inverted index needs a non-empty corpus")
    /** Mean document length — derived from the exact integer sums, so
      * epoch-grown and one-shot indexes agree bit-for-bit. */
    def avgdl: Double = totalDl.toDouble / nDocs
  }

  /** One corpus scan (plus one for the scalars) → the full index. The
    * doc-length `dl` is computed in the same projection as the explode
    * and carried through the groupBy key (constant per doc), so no
    * second scan and no join reassembles it. The postings aggregate is
    * MATERIALIZED ([[Materialize.eagerCheckpoint]]) because everything
    * downstream reads it at least twice — docFreq derives from it,
    * [[bm25]] joins both tables, and a [[writeEpoch]] writes both — so
    * without this each consumer would re-run the corpus explode. The
    * scalar pass stays a scan of `docs` (tokenless docs carry no
    * postings but ARE part of N and Σdl). */
  def build(docs: DataFrame, idCol: String, textCol: String): InvertedIndex = {
    val postings = Materialize.eagerCheckpoint(postingsOf(docs, idCol, textCol))
    val docFreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // N is a plain row count (no tokenization); Σdl = Σ tf over the
    // already-materialized postings — every token lands in exactly one
    // (doc, term) tf, and tokenless/null-text docs contribute 0 on both
    // forms — so the stats pass no longer re-tokenizes the corpus (the
    // old shape's THIRD tokenizer evaluation per document).
    val nDocs = docs.count()
    val totalDl = postings.agg(coalesce(sum("tf"), lit(0L))).head().getLong(0)
    InvertedIndex(postings, docFreq, nDocs, totalDl)
  }

  /** [[build]]'s postings before materialization: one `(idCol, term,
    * dl, tf, positions)` row per distinct term of each document.
    * posexplode carries each token's 0-based offset, so the SAME
    * groupBy that counts tf also collects the POSITION LIST
    * (sort_array: collect_list order is partition-nondeterministic) —
    * positions are per-doc facts, so the epoch algebra (id-disjoint
    * additivity) is untouched, and bag-of-words serves never read the
    * column (Catalyst prunes it out of the scan). */
  private[graft] def postingsOf(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame =
    // The token ARRAY is projected once (`__toks`) and both `dl` and the
    // explode read the projected column, so the regex tokenizer runs
    // once per document. The explode is OUTER, its padding rows dropped
    // by the `term` filter: an inner explode of an attribute makes Spark
    // infer `size(__toks) > 0 AND isnotnull(__toks)` and push it through
    // the alias, which would run the tokenizer twice more per document.
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("dl"),
        posexplode_outer(col("__toks")).as(Seq("pos", "term")))
      .filter(col("term").isNotNull)
      .groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** The "+1"-smoothed always-positive idf — ONE definition for every
    * serve form (single, phrase, batch): a smoothing change applied in
    * one place cannot desynchronize batch from single-query scoring. */
  private def bm25Idf(nDocs: Long, df: Column): Column =
    log(lit(1.0) + (lit(nDocs.toDouble) - df + 0.5) / (df + 0.5))

  /** The tf saturation/length-normalization term, shared likewise
    * (phrase scoring passes its occurrence count as `tf`). */
  private def bm25TfNorm(tf: Column, dl: Column, avgdl: Double,
                         k1: Double, b: Double): Column =
    (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))

  /** The postings scan under a literal term pushdown — shared by every
    * serve form. An empty term set short-circuits to an empty scan
    * rather than an empty `isin` (which Spark rejects). */
  private def prunedPostings(index: InvertedIndex, terms: Seq[String],
                             pushdown: Boolean): DataFrame =
    if (!pushdown) index.postings
    else if (terms.isEmpty) index.postings.where(lit(false))
    else index.postings.filter(col("term").isin(terms.map(lit): _*))

  /** The executable bound on [[localizedUnits]]'s driver collect — the
    * serving contract (eval-suite-scale query tables) made a runtime
    * guard, in the [[graft.operators.Dedup.sketchGeometryFor]] spirit:
    * past it the pushdown path would OOM the driver, so it fails loudly
    * and names the `pushdownTerms = false` escape, which materializes
    * the unit table distributedly instead. A million units is far past
    * any eval suite and still only ~tens of MB of driver heap, so the
    * guard never fires on the contract's intended callers. */
  val MaxPushdownUnits: Int = 1000000

  /** Collect a (small, caller-contract) query/phrase unit frame ONCE
    * and rebuild it as a local relation: one evaluation serves both the
    * literal pushdown and the broadcast joins. Without this, a
    * non-deterministic query source (sample(), a re-read directory)
    * would be evaluated separately for the pushdown and the join — a
    * term present in one evaluation but not the other silently drops
    * its matches instead of failing. The collect is capped at
    * [[MaxPushdownUnits]] (via `limit`, so an oversized table never
    * lands on the driver before the check) — the one evaluation the
    * single-evaluation guarantee rides on is the limited one, and in
    * the passing case `limit(cap + 1)` returns every row. */
  private def localizedUnits(units: DataFrame): (DataFrame, Seq[String]) = {
    val rows = units.limit(MaxPushdownUnits + 1).collect()
    require(rows.length <= MaxPushdownUnits,
      s"bm25 batch serve: the query/phrase unit table exceeds " +
        s"$MaxPushdownUnits rows — the term-pushdown path collects it to " +
        "the driver (the eval-suite-scale serving contract); pass " +
        "pushdownTerms = false (CLI: --no-pushdown) to materialize it " +
        "distributedly instead")
    val local = units.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), units.schema)
    (local, rows.map(_.getAs[String]("term")).distinct.toSeq)
  }

  /** BM25 over the index for one query string (tokenized with the
    * shared [[TextAnalysis.tokens]] definition, distinct terms).
    * Output: `(idCol, n_matched, score)` for every doc sharing ≥ 1
    * term. */
  def bm25(index: InvertedIndex, idCol: String, query: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    val terms = TextAnalysis.tokenizeDriver(query).distinct
    require(terms.nonEmpty, "bm25: empty query")
    val idf = bm25Idf(index.nDocs, col("df"))
    val tfNorm = bm25TfNorm(col("tf"), col("dl"), index.avgdl, k1, b)
    prunedPostings(index, terms, pushdown = true)
      .join(broadcast(index.docFreq.filter(col("term").isin(terms.map(lit): _*))),
        Seq("term"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_matched"), sum(idf * tfNorm).as("score"))
  }

  /** Shared scaffold of the ANCHORED match forms ([[bm25Phrase]],
    * [[bm25Window]]): pushed-down term filter → one shuffle to the
    * per-doc term→positions map (`tpos`) with the all-terms-present
    * filter → the caller's per-anchor occurrence count → the
    * match-as-one-term scoring tail (tf = occurrences, df = |matching
    * docs| from a 1-row aggregate broadcast back, never a
    * single-partition window). ONE copy of the tail, so a scoring
    * change cannot desynchronize phrase from window serving — the same
    * rule as [[bm25Idf]]/[[bm25TfNorm]] for the bag-of-words forms. The
    * match set is read twice (df scalar + scoring) — two passes over
    * the pruned slice, the price of not single-partitioning the
    * corpus-scale match set. */
  private def scoreAnchoredMatches(index: InvertedIndex, idCol: String,
                                   distinctTerms: Seq[String],
                                   occurrences: Column,
                                   k1: Double, b: Double): DataFrame = {
    val perDoc = prunedPostings(index, distinctTerms, pushdown = true)
      .groupBy(col(idCol), col("dl"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("tpos"), count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === distinctTerms.size) // every term present
    val matches = perDoc
      .select(col(idCol), col("dl"), occurrences.cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
    val dfm = matches.agg(count(lit(1)).as("df_m"))
    val idf = bm25Idf(index.nDocs, col("df_m"))
    val tfNorm = bm25TfNorm(col("n_occurrences"), col("dl"), index.avgdl, k1, b)
    matches.crossJoin(broadcast(dfm))
      .select(col(idCol), col("n_occurrences"), (idf * tfNorm).as("score"))
  }

  /** EXACT-PHRASE retrieval over the positional postings — the
    * decontamination-forensics query ("which training documents contain
    * this eval sentence verbatim") bag-of-words BM25 cannot answer.
    * Output: `(idCol, n_occurrences, score)` for every doc containing
    * the phrase at least once, where `n_occurrences` counts verbatim
    * occurrences and `score` is BM25 treating THE PHRASE AS ONE TERM.
    *
    * Plan shape: [[scoreAnchoredMatches]] with adjacency as the
    * PER-ROW higher-order filter over the first term's position list
    * (`p` starts an occurrence iff term_i's list contains `p + i` for
    * all i — duplicate phrase terms just look up the same map entry at
    * two offsets), all codegen'd built-ins. */
  def bm25Phrase(index: InvertedIndex, idCol: String, phrase: String,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    val terms = TextAnalysis.tokenizeDriver(phrase)
    require(terms.nonEmpty, "bm25Phrase: empty phrase")
    val occurrences = size(filter(element_at(col("tpos"), terms.head), p =>
      terms.zipWithIndex.tail
        .map { case (t, i) => array_contains(element_at(col("tpos"), t), p + i) }
        .reduceOption(_ && _).getOrElse(lit(true))))
    scoreAnchoredMatches(index, idCol, terms.distinct, occurrences, k1, b)
  }

  /** WINDOWED co-occurrence retrieval — the middle ground between
    * [[bm25]]'s bag-of-words and [[bm25Phrase]]'s verbatim adjacency:
    * docs where EVERY query term occurs within `window` tokens of an
    * ANCHOR occurrence of the FIRST query term. The near-verbatim
    * decontamination shape: a lightly edited eval sentence (word
    * swapped, insertion) defeats exact-phrase matching but not a small
    * window.
    *
    * Semantics, precisely: `n_occurrences` counts positions `p` of the
    * first query term such that every other term has some occurrence
    * `q` with `|q − p| ≤ window`. The anchor is the FIRST term BY
    * DESIGN — pick the rarest/most distinctive term first; reordering
    * the query can change the matched set for 3+-term queries (the
    * non-anchor terms are order-free AROUND the anchor, on either
    * side). Containment guarantee: a verbatim occurrence of an L-term
    * phrase places its last term at distance L−1 from the anchor, so
    * the window form SUPERSETS [[bm25Phrase]]'s docs exactly when
    * `window ≥ L − 1` (spec-pinned both ways — at window < L−1 a
    * verbatim doc can be missed, which is the reason the phrase form
    * exists). A single-term query degenerates to tf. Output and plan
    * shape: [[scoreAnchoredMatches]]. */
  def bm25Window(index: InvertedIndex, idCol: String, query: String,
                 window: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    require(window >= 1, s"window must be >= 1, got $window")
    val terms = TextAnalysis.tokenizeDriver(query).distinct
    require(terms.nonEmpty, "bm25Window: empty query")
    val occurrences = size(filter(element_at(col("tpos"), terms.head), p =>
      terms.tail
        .map(t => exists(element_at(col("tpos"), t),
          q => abs(q - p) <= window))
        .reduceOption(_ && _).getOrElse(lit(true))))
    scoreAnchoredMatches(index, idCol, terms, occurrences, k1, b)
  }

  /** BATCH exact-phrase matching — a TABLE of phrases `(phraseIdCol,
    * phraseTextCol)` verified against the positional postings in ONE
    * pass: the decontamination-forensics primitive ("which training
    * documents contain ANY of these N eval sentences verbatim") at one
    * postings scan, not N. Output: `(phraseIdCol, idCol, n_occurrences,
    * score)` — [[bm25Phrase]]'s contract per phrase, scored
    * phrase-as-one-term with per-phrase df.
    *
    * Plan shape: each phrase explodes to `(phrase_id, offset, term)`
    * units (duplicate terms keep their per-offset rows), BROADCAST into
    * a hash join against the postings scan — with `pushdownTerms`
    * (default) the union of phrase terms additionally pushes into the
    * scan as the literal `isin`, the [[bm25Batch]] contract. One
    * shuffle groups the surviving (phrase, doc) rows; a doc survives
    * only when EVERY phrase offset matched (`count == phrase_len` —
    * postings are unique per (doc, term), so each offset contributes
    * exactly one row), then adjacency is the per-row `forall` over the
    * collected (offset, positions) structs. Empty-token phrases vanish;
    * a 1-phrase table reproduces [[bm25Phrase]] (spec-pinned, the two
    * independent implementations cross-validating). */
  def bm25PhraseBatch(index: InvertedIndex, idCol: String, phrases: DataFrame,
                      phraseIdCol: String, phraseTextCol: String,
                      k1: Double = 1.2, b: Double = 0.75,
                      pushdownTerms: Boolean = true): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    val toks = TextAnalysis.tokens(col(phraseTextCol))
    val unitsRaw = phrases
      .select(col(phraseIdCol), size(toks).as("__plen"),
        posexplode(TextAnalysis.tokens(col(phraseTextCol))).as(Seq("__off", "term")))
    // ONE evaluation of the phrase table feeds both pushdown and join;
    // the no-pushdown path (huge tables, no driver collect) MATERIALIZES
    // instead — its two join references would otherwise re-evaluate a
    // non-deterministic source, the same hazard localizedUnits closes
    val (units, termSet) =
      if (pushdownTerms) localizedUnits(unitsRaw)
      else (Materialize.eagerCheckpoint(unitsRaw), Seq.empty)
    val perDoc = prunedPostings(index, termSet, pushdownTerms)
      .join(broadcast(units), Seq("term"))
      .groupBy(col(phraseIdCol), col(idCol), col("dl"), col("__plen"))
      .agg(collect_list(struct(col("__off"), col("positions"))).as("__ops"),
        count(lit(1)).as("__nu"))
      .filter(col("__nu") === col("__plen"))
    val firstPositions = element_at(
      filter(col("__ops"), s => s.getField("__off") === 0), 1).getField("positions")
    val occurrences = size(filter(firstPositions, p =>
      forall(col("__ops"), s =>
        array_contains(s.getField("positions"), p + s.getField("__off")))))
    val matches = perDoc
      .select(col(phraseIdCol), col(idCol), col("dl"),
        occurrences.cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
    val dfPhrase = matches.groupBy(phraseIdCol)
      .agg(count(lit(1)).as("df_phrase"))
    val idf = bm25Idf(index.nDocs, col("df_phrase"))
    val tfNorm = bm25TfNorm(col("n_occurrences"), col("dl"), index.avgdl, k1, b)
    matches.join(broadcast(dfPhrase), Seq(phraseIdCol))
      .select(col(phraseIdCol), col(idCol), col("n_occurrences"),
        (idf * tfNorm).as("score"))
  }

  /** Per-document verbatim-phrase contamination profile — the
    * FORENSICS pass the retrieval family exists for, as one operator:
    * "which training documents contain ANY of these N eval sentences
    * verbatim, and how hard are they hit". One [[bm25PhraseBatch]]
    * pass (one postings scan for all N phrases) folded per doc:
    * `(idCol, n_phrases_hit, n_occurrences)` for every CONTAMINATED
    * doc — clean docs don't appear (at corpus scale the hit set is the
    * small side; materialize the complement with [[
    * decontaminatePhrases]]). */
  def phraseContamination(index: InvertedIndex, idCol: String,
                          phrases: DataFrame, phraseIdCol: String,
                          phraseTextCol: String,
                          pushdownTerms: Boolean = true): DataFrame =
    bm25PhraseBatch(index, idCol, phrases, phraseIdCol, phraseTextCol,
        pushdownTerms = pushdownTerms)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_phrases_hit"),
        sum("n_occurrences").as("n_occurrences"))

  /** The DROP form — the decontamination capstone: `docs` minus every
    * document containing ANY of the eval phrases verbatim, verified
    * against the positional index in ONE postings scan. This is the
    * eval-leakage gate composed end to end: phrase table → batch
    * positional verification → broadcast anti-join (the hit set is
    * ids-only and eval-suite-bounded, so the corpus side never
    * shuffles). Near-verbatim leakage (edited sentences) is
    * [[bm25Window]]'s territory; n-gram-overlap leakage is
    * [[graft.operators.Dedup.decontaminate]]'s — this form is the
    * exact-match member of that family. */
  def decontaminatePhrases(docs: DataFrame, index: InvertedIndex,
                           idCol: String, phrases: DataFrame,
                           phraseIdCol: String, phraseTextCol: String,
                           pushdownTerms: Boolean = true): DataFrame =
    docs.join(
      broadcast(bm25PhraseBatch(index, idCol, phrases, phraseIdCol,
          phraseTextCol, pushdownTerms = pushdownTerms)
        .select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** BATCH BM25 — score a whole TABLE of queries `(queryIdCol,
    * queryTextCol)` in ONE pass over the index: decontaminating N eval
    * phrases costs one postings scan, not N ([[bm25]] is the 1-row
    * case, same algebra). Output: `(queryIdCol, idCol, n_matched,
    * score)` — one row per (query, doc sharing ≥ 1 term).
    *
    * Plan shape: queries tokenize with the shared [[TextAnalysis
    * .tokens]] definition and explode to distinct `(query_id, term)`
    * pairs — a frame bounded by the query tables's total vocabulary,
    * BROADCAST into a hash join against the postings scan (the corpus
    * side never shuffles for the candidate set; the one shuffle is the
    * final per-(query, doc) aggregate, proportional to the MATCHING
    * postings × matching queries). When `pushdownTerms` (default), the
    * distinct term set is additionally collected to the driver — bounded
    * by the same query vocabulary, the eval-suite-scale contract this
    * operator exists for — and pushed into the scan as the literal
    * `isin`, so a term-sorted persisted layout prunes row groups exactly
    * as the single-query serve does; disable it for adversarially huge
    * query tables and the serve degrades to the full-scan broadcast
    * join, never to a shuffle of the corpus. */
  def bm25Batch(index: InvertedIndex, idCol: String, queries: DataFrame,
                queryIdCol: String, queryTextCol: String,
                k1: Double = 1.2, b: Double = 0.75,
                pushdownTerms: Boolean = true): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    val qTermsRaw = queries.select(col(queryIdCol),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term"))
    // ONE evaluation of the query table feeds both pushdown and joins;
    // the no-pushdown path materializes for the same single-evaluation
    // guarantee without a driver collect (see bm25PhraseBatch)
    val (qTerms, termSet) =
      if (pushdownTerms) localizedUnits(qTermsRaw)
      else (Materialize.eagerCheckpoint(qTermsRaw), Seq.empty)
    val idf = bm25Idf(index.nDocs, col("df"))
    val tfNorm = bm25TfNorm(col("tf"), col("dl"), index.avgdl, k1, b)
    prunedPostings(index, termSet, pushdownTerms)
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(index.docFreq.join(
        broadcast(qTerms.select("term").distinct()), Seq("term"))), Seq("term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_matched"), sum(idf * tfNorm).as("score"))
  }

  // ---------------------------------------------------------------------
  // TOP-K serving: the block-max layout (Broder 2003 WAND / Ding & Suel
  // 2011 Block-Max WAND, re-expressed for a batch shuffle engine)
  // ---------------------------------------------------------------------

  /** Blocks-per-e-fold of the quantized impact proxy — 8 buckets per
    * factor-e of score decay, plenty of pruning resolution while keeping
    * the per-term block count ≤ [[MaxImpactBlock]]+1. */
  private val BlocksPerEFold = 8.0

  /** Hard cap on the quantized block id. The cap is the SCALE design:
    * blocks are defined by QUANTIZED IMPACT, not by row count, so (a)
    * assignment is per-row arithmetic — no per-term `row_number` window,
    * which for a common term at 100 TB would be a df-sized single-task
    * sequential pass, the classic skew killer — and (b) a query's whole
    * block-metadata slice is ≤ 257·|terms| rows REGARDLESS of corpus
    * size, so the serve-time pruning computation is a driver collect
    * bounded by construction, not by contract. Row-counted blocks have
    * df/B metadata rows per term — millions for a common term at scale,
    * exactly the unbounded-collect class this library forbids. */
  private val MaxImpactBlock = 256

  /** The impact-ordered serving layout [[writeTopK]] persists and
    * [[bm25TopK]] serves: `blocks` = the postings with their quantized
    * impact-block id, term-sorted then block-sorted (a serve's pruned
    * read is a per-term block-id PREFIX — contiguous row groups);
    * `blockMeta` = per (term, blk) the bound ingredients (max_tf,
    * min_dl, n); `fwd` = the same postings DOC-sorted (the forward
    * lookup exact rescoring pushes candidate ids into); `docFreq` and
    * the scalars as in [[InvertedIndex]]. */
  final case class TopKLayout(blocks: DataFrame, blockMeta: DataFrame,
                              fwd: DataFrame, docFreq: DataFrame,
                              nDocs: Long, totalDl: Long,
                              k1Write: Double, bWrite: Double) {
    require(nDocs > 0, "top-k layout needs a non-empty corpus")
    def avgdl: Double = totalDl.toDouble / nDocs
  }

  /** The quantized impact-block id of a posting: `blk = floor(−ln(p /
    * (k1+1)) · 8)` capped at [[MaxImpactBlock]], where `p` is the
    * posting's [[bm25TfNorm]] under the WRITE-time geometry. High
    * impact → block 0. The write-time (k1, b, avgdl) only ORDER the
    * blocks — a serve under different parameters still gets correct
    * results, because its upper bounds are recomputed from each block's
    * stored (max_tf, min_dl), monotone envelopes of tfNorm under ANY
    * admissible (k1, b): tfNorm rises in tf and falls in dl, so
    * tfNorm(max_tf, min_dl) dominates every member. Mis-ordered blocks
    * cost pruning efficiency, never correctness. */
  private def impactBlock(tf: Column, dl: Column, avgdl: Double,
                          k1: Double, b: Double): Column =
    least(lit(MaxImpactBlock),
      floor(-log(bm25TfNorm(tf, dl, avgdl, k1, b) / (k1 + 1))
        * BlocksPerEFold)).cast("int")

  /** Persist `index` in the TOP-K serving layout — the impact-blocked
    * sibling of [[write]], derived the same way a [[compact]] snapshot
    * is: a full rebuild of a committed index into a layout optimized
    * for one access pattern (k-cut retrieval), refreshed on the
    * compaction cadence. Impact-ordered indexes are rebuild-derived in
    * the native engines too (BMW/WAND are static-index techniques);
    * incremental growth stays with the epoch layout this one is
    * derived FROM. Positions are dropped — phrase queries serve from
    * the epoch layout; this one exists to make the k-cut cheap.
    *
    * Commit discipline: `meta` written LAST; [[readTopK]] refuses a
    * path without it. Blocks sort (term, blk) so a pruned serve reads
    * a contiguous per-term prefix; `fwd` sorts by doc id so exact
    * rescoring's candidate-id pushdown skips row groups. */
  def writeTopK(index: InvertedIndex, path: String,
                termPartitions: Int = 32,
                k1: Double = 1.2, b: Double = 0.75,
                rowGroupBytes: Int = 8 << 20): Unit = {
    require(termPartitions >= 1, s"termPartitions must be positive: $termPartitions")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    require(rowGroupBytes >= 4096, s"rowGroupBytes too small: $rowGroupBytes")
    val spark = index.postings.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val idCol = index.postings.columns.head // (id, term, dl, tf, ...) order
    val rows = index.postings.select(col(idCol), col("term"), col("tf"),
      col("dl").cast("long").as("dl"),
      impactBlock(col("tf"), col("dl"), index.avgdl, k1, b).as("blk"))
    // row groups deliberately SMALLER than parquet's 128 MB default:
    // row-group stats are the skip granularity of every pruned serve —
    // a (term, blk) prefix read skips whole groups, and 8 MB keeps
    // sequential-scan throughput while skipping 16× finer. (Splitting
    // into more FILES instead would multiply per-file footer reads —
    // measured to drown the pruning win at small scale, and file-count
    // pressure is real at large scale too.)
    def grouped(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
      w.option("parquet.block.size", rowGroupBytes.toString)
        .option("parquet.page.size",
          math.max(4096, rowGroupBytes / 8).toString)
    grouped(rows
      .repartitionByRange(termPartitions, col("term"), col("blk"))
      .sortWithinPartitions("term", "blk")
      .write.mode("overwrite")).parquet(s"$path/blocks")
    rows.groupBy("term", "blk")
      .agg(max("tf").as("max_tf"), min("dl").as("min_dl"),
        count(lit(1)).as("n"))
      .repartitionByRange(math.max(1, termPartitions / 4), col("term"))
      .sortWithinPartitions("term", "blk")
      .write.mode("overwrite").parquet(s"$path/block_meta")
    grouped(rows.select(col(idCol), col("term"), col("tf"), col("dl"))
      .repartitionByRange(termPartitions, col(idCol))
      .sortWithinPartitions(idCol, "term")
      .write.mode("overwrite")).parquet(s"$path/fwd")
    index.docFreq.write.mode("overwrite").parquet(s"$path/docfreq")
    // the write-time geometry rides in meta: a serve under the SAME
    // (k1, b) may use the tight bucket-edge bound (see bm25TopK)
    spark.createDataFrame(Seq((index.nDocs, index.totalDl, k1, b)))
      .toDF("n_docs", "total_dl", "k1", "b")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeTopK]] layout (fails loudly without its meta commit
    * marker — a crashed write must not serve). */
  def readTopK(spark: SparkSession, path: String): TopKLayout = {
    val meta = spark.read.parquet(s"$path/meta").head()
    TopKLayout(
      spark.read.parquet(s"$path/blocks"),
      spark.read.parquet(s"$path/block_meta"),
      spark.read.parquet(s"$path/fwd"),
      spark.read.parquet(s"$path/docfreq"),
      meta.getAs[Long]("n_docs"), meta.getAs[Long]("total_dl"),
      meta.getAs[Double]("k1"), meta.getAs[Double]("b"))
  }

  /** Bound on [[bm25TopK]]'s candidate-id driver collect (ids only —
    * tens of MB at the cap). Candidates are the kept-block postings'
    * docs, which the threshold keeps proportional to the k-cut, not to
    * df; a query degenerate enough to blow the cap (huge k on a corpus
    * of near-ties) fails loudly naming the full-scoring fallback. */
  val MaxTopKCandidates: Int = 4 << 20

  /** TOP-K BM25 with BLOCK-MAX pruning — the serving form whose cost
    * tracks `k` and the score threshold instead of document frequency:
    * at 100 TB a common query term's posting slice is corpus-scale, and
    * [[bm25]]'s exhaustive scoring pays it in full on every serve;
    * this operator reads only the impact blocks that could still reach
    * the k-th score. The document-at-a-time WAND loop does not map onto
    * a shuffle engine, so the algorithm is re-expressed as bounded
    * batch phases — candidate-generate-then-verify, the same shape as
    * the LSH and IVF serving paths:
    *
    *  1. THRESHOLD: score each term's smallest impact-block prefix
    *     holding ≥ k postings (sized from the stored block counts — a
    *     k-bounded pushed-down read) and take the k-th best per-doc
    *     PARTIAL score θ. Partials lower-bound true scores, so θ
    *     lower-bounds the true k-th best score.
    *  2. PRUNE at three granularities. (a) TERMS, by the MaxScore
    *     essential split (Turtle & Flood 1995): the maximal
    *     ascending-maxUb prefix whose summed bounds stay below θ is
    *     LOOKUP-ONLY — a doc containing only those terms provably
    *     misses the cut, so their posting lists are never scanned;
    *     their contributions ride in candidate bounds as maxUb and
    *     are recovered exactly in the rescore. This is the lever on
    *     the WAND worst case (all terms common at similar idf), where
    *     the term-sum test below keeps every block but θ makes 1–2 of
    *     4 lists non-essential. The split is ADAPTIVE by its own
    *     accounting: it saves exactly the skipped lists' Σdf postings
    *     and costs exactly candidates × |terms| rescore lookups, so
    *     the split pass's candidate collect is capped at break-even
    *     and overflowing it re-runs the phase with every term
    *     essential (exact partials, candidates ~k) — which is also
    *     what keeps a corpus-scale uniform-idf query from failing the
    *     [[MaxTopKCandidates]] bound the full scan never hits.
    *     (b) BLOCKS of the essential terms, by
    *     the WAND term-sum test (driver arithmetic over the ≤ 257·m
    *     collected meta rows): keep (t, blk) iff `ub(t, blk) +
    *     Σ_{t'≠t} maxUb(t') ≥ θ − margin`, `ub` = idf(t) ·
    *     tfNorm(max_tf, min_dl) — a doc whose every essential posting
    *     sits in dropped blocks provably misses the cut, so the
    *     kept-prefix read (`term = t AND blk ≤ cutoff(t)`, pushed
    *     into the (term, blk)-sorted parquet) loses no answer.
    *     (c) DOCS, from the kept-block aggregation: each doc's exact
    *     kept impacts give a partial (lower bound) and, plus the
    *     best-unkept-block slack of its uncovered essential terms and
    *     maxUb of the non-essential ones, an upper BOUND; the k-th
    *     best exact partial then REFINES θ (θ₂), and only docs whose
    *     bound reaches θ₂ survive. The refinement keeps the expensive
    *     phase k-bounded even where the block test cannot prune.
    *  3. RESCORE: the surviving candidate ids (collected,
    *     [[MaxTopKCandidates]]-bounded) push into the doc-sorted `fwd`
    *     table and each candidate is scored EXACTLY over all its query
    *     terms — a pruned-out block's contributions are recovered here,
    *     which is what makes pruning affect IO only, never scores.
    *
    * DETERMINISM CONTRACT: the k-cut compares scores ROUNDED to 6
    * decimals (ties to the lower id). An ulp-level cut would be
    * nondeterministic — per-doc partial sums depend on aggregation
    * order, so two mathematically-tied docs can differ in their last
    * bits run to run — the same reason the bag-of-words oracles compare
    * rounded scores. The pruning margin (2e-6) makes step 2 exact UNDER
    * that contract: a pruned doc's rounded score is strictly below the
    * rounded k-th score, so no rounded-tie at the boundary can point at
    * a pruned doc. Output: `(idCol, n_matched, score)` for the top `k`
    * docs, score exact (round it for cross-engine comparison). */
  def bm25TopK(layout: TopKLayout, idCol: String, query: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKImpl(layout, idCol, query, k, k1, b, diag = false)._1

  /** Per-phase volume diagnostics of one [[bm25TopK]] serve — the scale
    * harness's claim columns: ROW counts per phase are granularity-
    * independent (parquet row-group/footer accounting at toy corpus
    * sizes says nothing about 100 TB IO; the postings a phase touches
    * translate directly). `keptPostings` vs `totalPostings` is the
    * block-level pruning ratio; `nCandidates` vs matched docs is the
    * doc-level θ₂ trim — the quantity that must track k, not df. */
  private[graft] final case class TopKServeDiag(
    p1Postings: Long, keptPostings: Long, totalPostings: Long,
    nCandidates: Long, theta: Double, theta2: Double,
    nEssential: Int, nQueryTerms: Int,
    /** Which phase-2 path actually served: "split" (MaxScore split held),
      * "all_essential" (no non-essential terms — θ never split the
      * lists), or "fallback_all_essential" (split attempted, overflowed
      * its break-even cap, re-ran all-essential). The artifact's
      * decision bit (r15 verdict #3): a kept=total cell reads as an
      * adaptive choice or a collapse only with this recorded. */
    servedBy: String)

  /** [[bm25TopK]] plus its [[TopKServeDiag]] (two extra count jobs —
    * harness use, not the serving path). */
  private[graft] def bm25TopKDiag(layout: TopKLayout, idCol: String,
                                  query: String, k: Int,
                                  k1: Double = 1.2, b: Double = 0.75)
      : (DataFrame, TopKServeDiag) = {
    val (df, d) = bm25TopKImpl(layout, idCol, query, k, k1, b, diag = true)
    (df, d.get)
  }

  private def bm25TopKImpl(layout: TopKLayout, idCol: String, query: String,
                           k: Int, k1: Double, b: Double, diag: Boolean)
      : (DataFrame, Option[TopKServeDiag]) = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: k1=$k1 b=$b")
    require(k >= 1, s"k must be positive, got $k")
    val terms = TextAnalysis.tokenizeDriver(query).distinct
    require(terms.nonEmpty, "bm25TopK: empty query")
    val spark = layout.blocks.sparkSession
    def inTerms(c: Column) = c.isin(terms.map(lit): _*)
    // the serve's two bounded metadata probes (per-term df and the
    // ≤ 257·m block-meta slice) read independent tables — submit the
    // block-meta collect on its own thread so the two driver round
    // trips overlap (guide §2.6; r19 verdict item 7). Collected before
    // any use; values identical to the serial form.
    val metaF = Materialize.async("graft-topk-blockmeta") {
      layout.blockMeta.filter(inTerms(col("term"))).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    }
    // per-term df — m rows; terms absent from the index drop out here
    val dfRows = layout.docFreq.filter(inTerms(col("term"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = terms.filter(dfRows.contains)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        layout.fwd.schema(idCol),
        org.apache.spark.sql.types.StructField("n_matched",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    val emptyDiag =
      if (diag) Some(TopKServeDiag(0L, 0L, 0L, 0L, Double.NaN, Double.NaN,
        0, terms.size, "no_terms"))
      else None
    if (present.isEmpty) return (empty, emptyDiag)
    def idfOf(t: String): Double = {
      val df = dfRows(t).toDouble
      math.log(1.0 + (layout.nDocs.toDouble - df + 0.5) / (df + 0.5))
    }
    def tfNormOf(tf: Long, dl: Long): Double =
      (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / layout.avgdl))
    // the bounded meta slice: ≤ (MaxImpactBlock+1)·|terms| rows by the
    // quantized-block construction (see MaxImpactBlock) — collected
    // concurrently with the df probe above
    val meta = Materialize.await(metaF)
    // per-block upper bound: under the WRITE-time geometry the bucket's
    // own upper edge `(k1+1)·e^(−blk/8)` bounds every member's tfNorm
    // BY CONSTRUCTION — tight regardless of how heterogeneous the
    // block's (tf, dl) mix is. The (max_tf, min_dl) envelope stays as
    // the fallback for serves under a DIFFERENT (k1, b), where the
    // bucket edges mean nothing — valid either way, just looser (a
    // deep block holding both (high tf, high dl) and (low tf, low dl)
    // rows envelopes to a fictitious high-tf/low-dl member).
    val sameGeometry = k1 == layout.k1Write && b == layout.bWrite
    val ub = meta.map { case (t, blk, maxTf, minDl, _) =>
      (t, blk) -> (idfOf(t) * (
        if (sameGeometry)
          (k1 + 1) * math.exp(-blk / BlocksPerEFold)
        else tfNormOf(maxTf, minDl)))
    }.toMap
    val maxUb = ub.groupMapReduce(_._1._1)(_._2)(math.max)
    val sumMaxUb = present.map(maxUb).sum
    val dfFrame = broadcast(spark.createDataFrame(
      dfRows.toSeq.map { case (t, d) => (t, d) }).toDF("term", "df"))
    val idf = bm25Idf(layout.nDocs, col("df"))
    val tfn = bm25TfNorm(col("tf"), col("dl"), layout.avgdl, k1, b)
    // phase 1: θ from each term's smallest impact-block PREFIX holding
    // ≥ k postings (the stored per-block counts size it) — k-bounded
    // reads whose per-doc partials lower-bound true scores, so the
    // k-th best partial lower-bounds the true k-th best score
    val p1Cut = present.map { t =>
      val blks = meta.filter(_._1 == t).sortBy(_._2)
      var cum = 0L; var cut = blks.head._2
      blks.foreach { case (_, blk, _, _, n) =>
        if (cum < k) { cut = blk; cum += n } }
      t -> cut
    }.toMap
    val p1Pred = present.map(t => col("term") === t && col("blk") <= p1Cut(t))
      .reduce(_ || _)
    val p1 = layout.blocks.filter(p1Pred)
      .join(dfFrame, Seq("term"))
      .groupBy(idCol).agg(sum(idf * tfn).as("partial"))
      .orderBy(col("partial").desc).limit(k)
      .collect()
    val theta = if (p1.length < k) Double.NegativeInfinity
                else p1.last.getAs[Double]("partial")
    // phase 2a-0: MAXSCORE essential-terms split (Turtle & Flood 1995,
    // the standard companion to WAND): sort terms by maxUb ascending
    // and peel off the maximal prefix whose summed upper bounds stay
    // BELOW θ — a doc containing ONLY those terms provably misses the
    // cut, so their posting lists never need scanning at all. They
    // become LOOKUP-ONLY: absent from the kept-block scan, their
    // possible contribution rides in every candidate's upper bound as
    // maxUb (never covered, so never subtracted), and their ACTUAL
    // contribution is recovered exactly in the phase-3 forward rescore,
    // which always scores all query terms. This is what prunes the
    // WAND term-sum worst case (all terms common at similar idf): the
    // term-sum block test keeps everything there, but θ ≈ 3–4 terms'
    // worth of impact makes 1–2 of the 4 lists non-essential, so
    // kept_postings < total_postings even on that shape. At least one
    // term is always essential (θ never exceeds Σ maxUb; the guard is
    // belt-and-braces against fp edge cases).
    val thetaP = theta - 2e-6
    val nonEssential = {
      var cum = 0.0
      val ne = scala.collection.mutable.Set.empty[String]
      present.sortBy(maxUb).foreach { t =>
        if (ne.size < present.size - 1 && cum + maxUb(t) < thetaP) {
          cum += maxUb(t); ne += t
        }
      }
      ne.toSet
    }
    // phases 2a–2d, parameterized by the non-essential set: run once
    // WITH the MaxScore split, and — when the split's candidate band
    // would cost more rescore volume than the skipped lists saved —
    // once more with every term essential (exact partials, tight θ₂,
    // candidates ~k: the pre-split shape). `candidateCap` bounds the
    // pass's driver collect; overflowing it returns None (the caller's
    // signal to fall back or fail).
    final case class Phase2Out(essential: Seq[String], keptPred: Column,
                               theta2: Double, candidates: Array[Any])
    def phase2(nonEssential: Set[String], candidateCap: Int): Option[Phase2Out] = {
      val essential = present.filterNot(nonEssential)
      // phase 2a: per-ESSENTIAL-term kept-block prefix under the WAND
      // term-sum test (with the rounded-cut margin); `rest` keeps
      // summing over ALL other terms — non-essential ones could still
      // co-occur, so their maxima stay in the bound. This is the
      // block-level test — weak when every query term is common at
      // similar idf (any doc COULD pair this block with the other
      // terms' maxima), in which case the essential split and the
      // doc-level bound below are what keep the expensive phase
      // k-bounded.
      val cutoff = essential.flatMap { t =>
        val rest = sumMaxUb - maxUb(t)
        val kept = meta.collect {
          case (`t`, blk, _, _, _) if ub((t, blk)) + rest >= thetaP => blk
        }
        if (kept.isEmpty) None else Some(t -> kept.max)
      }.toMap
      val keptPred = cutoff.map { case (t, c) =>
        col("term") === t && col("blk") <= c
      }.reduceOption(_ || _).getOrElse(lit(false))
      // phase 2b: ONE pass over the kept blocks builds per-doc
      // `partial` (the EXACT impacts of the doc's kept postings — a
      // lower bound on its score) and `bound` = partial + the unkept
      // slack: Σ over ESSENTIAL terms the doc did NOT cover of that
      // term's best UNKEPT block ub, plus Σ over NON-ESSENTIAL terms
      // of maxUb (their lists are never scanned, so coverage is
      // unknown and the full envelope stays in the bound — an upper
      // bound either way: a doc has at most one posting per term).
      // Docs below θ on the bound can never make the cut; docs absent
      // from every kept block were proven out by the block test + the
      // essential split.
      val ubUnkept = essential.map { t =>
        val u = meta.collect {
          case (`t`, blk, _, _, _) if blk > cutoff.getOrElse(t, -1) => ub((t, blk))
        }
        t -> (if (u.isEmpty) 0.0 else u.max)
      }.toMap
      val sumUnkept = essential.map(ubUnkept).sum +
        nonEssential.toSeq.map(maxUb).sum
      val slackFrame = broadcast(spark.createDataFrame(
        essential.map(t => (t, ubUnkept(t)))).toDF("term", "__slack"))
      // the aggregation runs per phase (θ₂ refinement, then the
      // candidate emit) rather than once over a checkpoint: the
      // intermediate is doc-scale when θ is still weak, and re-serving
      // it from block storage costs more than re-reading the
      // pushed-down columnar kept slice — every run is a k-bounded
      // driver action
      def cand = layout.blocks.filter(keptPred)
        .join(dfFrame, Seq("term")).join(slackFrame, Seq("term"))
        .groupBy(idCol)
        .agg(sum(idf * tfn).as("__partial"), sum(col("__slack")).as("__cov"))
        .select(col(idCol), col("__partial"),
          (col("__partial") + (lit(sumUnkept) - col("__cov"))).as("__bound"))
        .filter(col("__bound") >= thetaP)
      // phase 2c: REFINE the threshold from the exact partials — when
      // the block test kept everything (the uniform-idf worst case),
      // partials ARE exact scores and θ₂ becomes the true k-th best,
      // collapsing the rescore set to ~k + rounding ties; when blocks
      // were pruned, the k-th partial is still a valid lower bound
      // (same argument as phase 1).
      val p2 = cand.orderBy(col("__partial").desc).limit(k).collect()
      val theta2 =
        if (p2.length < k) theta
        else math.max(theta, p2.last.getAs[Double]("__partial"))
      // phase 2d (only when the split skipped terms): partials now
      // under-state true scores by the whole non-essential
      // contribution, so θ₂ alone would let the candidate set balloon
      // by sumNE — measured 1000× on the uniform-idf shape. Refine
      // with the EXACT scores of the top k docs BY BOUND: one
      // k-bounded fwd rescore recovers the skipped terms' actual
      // contributions for k real docs, and their k-th best exact
      // score θ₃ is a valid cut lower bound (≥ k docs score ≥ it).
      val theta3 =
        if (nonEssential.isEmpty) theta2
        else {
          val topByBound = cand.orderBy(col("__bound").desc).limit(k)
            .collect().map(_.get(0))
          if (topByBound.isEmpty) theta2
          else {
            val exact = layout.fwd
              .filter(col(idCol).isin(topByBound.toSeq.map(lit): _*) &&
                inTerms(col("term")))
              .join(dfFrame, Seq("term"))
              .groupBy(idCol).agg(sum(idf * tfn).as("__s"))
              .orderBy(col("__s").desc).limit(k).collect()
            if (exact.length < k) theta2
            else math.max(theta2, exact.last.getAs[Double]("__s"))
          }
        }
      val candidates = cand.filter(col("__bound") >= theta3 - 2e-6)
        .select(col(idCol))
        .limit(candidateCap + 1).collect().map(_.get(0))
      if (candidates.length > candidateCap) None
      else Some(Phase2Out(essential, keptPred, theta2, candidates))
    }
    // ADAPTIVE split (the volume rule, no magic constants): the split
    // saves exactly the non-essential lists' postings (Σ df, known) and
    // costs exactly the extra rescore volume (candidates × |terms|).
    // Cap the split pass's candidate collect at the break-even point —
    // past it the split is a net loss BY ITS OWN ACCOUNTING — and fall
    // back to the all-essential pass (exact partials, θ₂ = true k-th,
    // candidates ~k) when it overflows. This is also the robustness
    // guard: on a uniform-idf query at corpus scale the split's
    // candidate band grows with df, and without the fallback it would
    // hit MaxTopKCandidates and fail a query the full scan serves fine.
    // Honest-accounting note: when the split overflows, the fallback
    // RE-RUNS phase 2 from scratch (block cutoffs re-collected, three
    // more driver actions over the cand aggregation) — roughly doubling
    // serve latency on exactly the uniform-idf worst-case shape. The
    // break-even cap counts rescore volume saved, not this re-run cost;
    // the bench artifacts carry the served_by bit so a fallback cell's
    // latency reads as the double-pass price, not split cost.
    val savedPostings = nonEssential.toSeq.map(dfRows).map(_.toLong).sum
    val splitCap = math.min(MaxTopKCandidates.toLong,
      math.max(k.toLong, savedPostings / math.max(1, present.size))).toInt
    val splitOut = if (nonEssential.isEmpty) None
                   else phase2(nonEssential, splitCap)
    val servedBy =
      if (nonEssential.isEmpty) "all_essential"
      else if (splitOut.isDefined) "split"
      else "fallback_all_essential"
    val out = splitOut
      .getOrElse {
        val full = phase2(Set.empty, MaxTopKCandidates)
        require(full.isDefined,
          s"bm25TopK: over $MaxTopKCandidates candidate docs survive block " +
            "pruning (huge k, or a corpus of near-tied scores) - serve this " +
            "query via exhaustive bm25 + orderBy(score).limit(k) instead")
        full.get
      }
    val candidates = out.candidates
    // harness counters only — two extra jobs, never on the serving path
    val diagOut =
      if (!diag) None
      else Some(TopKServeDiag(
        layout.blocks.filter(p1Pred).count(),
        layout.blocks.filter(out.keptPred).count(),
        present.map(dfRows).sum,
        candidates.length.toLong, theta, out.theta2,
        out.essential.size, present.size, servedBy))
    if (candidates.isEmpty) return (empty, diagOut)
    // phase 3: exact rescore of the candidates from the doc-sorted
    // forward table — candidate-id pushdown prunes row groups, and the
    // final cut compares 6-decimal-rounded scores (ties to the lower id)
    val scored = layout.fwd
      .filter(col(idCol).isin(candidates.toSeq.map(lit): _*) &&
        inTerms(col("term")))
      .join(dfFrame, Seq("term"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_matched"), sum(idf * tfn).as("score"))
    (scored
      .orderBy((floor(col("score") * 1000000.0 + 0.5) / 1000000.0).desc,
        col(idCol))
      .limit(k), diagOut)
  }

  /** Additive growth — the span-index algebra on the retrieval side:
    * for id-DISJOINT corpora, `merge(build(A), build(B)) ≡ build(A∪B)`.
    * A doc's postings live entirely in one side (union, no re-count),
    * document frequencies, N and Σdl are additive — so the
    * per-ingest-cycle path is plain append-and-merge, no
    * read-modify-write (spec-pinned, like [[Dedup.mergeSpanIndexes]]).
    * Disjointness is the caller's contract, as there: re-indexing an id
    * would double its postings. */
  def merge(a: InvertedIndex, b: InvertedIndex): InvertedIndex =
    InvertedIndex(
      a.postings.unionByName(b.postings),
      a.docFreq.unionByName(b.docFreq)
        .groupBy("term").agg(sum("df").as("df")),
      a.nDocs + b.nDocs, a.totalDl + b.totalDl)

  /** Epoch keys partition the on-disk layout; they must start with a
    * letter so parquet partition inference always types the column as a
    * string (an all-numeric first epoch would infer int and then clash
    * with a later `b<id>` append). */
  private def checkEpoch(epoch: String): Unit =
    require(epoch.matches("[A-Za-z][A-Za-z0-9_-]*"),
      s"epoch key must start with a letter: '$epoch'")

  /** Persist as a FULL REBUILD: any existing layout at `path` —
    * including appended epochs a bare epoch-e0 overwrite would silently
    * keep serving alongside the new build — is removed first, then the
    * index lands as the single epoch `e0`: postings REPARTITIONED AND
    * SORTED BY TERM (each query term's rows land in few contiguous row
    * groups — the pushed-down `isin` skips the rest via min/max stats),
    * docFreq, and the epoch's 1-row meta written LAST (the commit
    * marker: a crashed write leaves no meta and [[read]] never sees the
    * epoch). For incremental growth use [[appendEpoch]]; for an
    * always-servable rebuild of a LIVE index, write to a side dir and
    * [[replaceIndex]]. */
  def write(index: InvertedIndex, path: String, termPartitions: Int = 32): Unit = {
    val spark = index.postings.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    writeEpoch(index, path, "e0", termPartitions)
  }

  private def writeEpoch(index: InvertedIndex, path: String, epoch: String,
                         termPartitions: Int): Unit = {
    checkEpoch(epoch)
    require(termPartitions >= 1, s"termPartitions must be positive: $termPartitions")
    index.postings
      .repartitionByRange(termPartitions, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/postings/epoch=$epoch")
    index.docFreq.write.mode("overwrite").parquet(s"$path/docfreq/epoch=$epoch")
    val spark = index.postings.sparkSession
    spark.createDataFrame(Seq((index.nDocs, index.totalDl)))
      .toDF("n_docs", "total_dl")
      .write.mode("overwrite").parquet(s"$path/meta/epoch=$epoch")
  }

  /** Land an id-disjoint batch as a NEW committed epoch — the
    * per-ingest-cycle growth step: index the batch, write its three
    * parts under `epoch=<key>`, meta last. No existing file is read or
    * touched, so appends cost the batch, never the index. Guards, all
    * BEFORE any batch scan runs: the epoch key validates first; the
    * target must hold a committed base, UNLESS the caller passes
    * `bootstrap = true` AND the path is genuinely FRESH — no committed
    * epochs AND no `_old`/`_staging` crash residue — in which case the
    * batch bootstraps the index as its first epoch (the streaming
    * sink's cold-start: [[graft.streaming.TextIndexIngest]] starts
    * against an empty dir with no prior bm25-build step, and passes the
    * flag). Bootstrap is OPT-IN because a bare append to a missing
    * index is far more often a mistyped `--path` than a deliberate cold
    * start — silently creating a one-batch "index" there would serve
    * confidently-wrong results forever, so the CLI's `bm25-append`
    * stays fail-loud and only the sink (whose checkpoint pins the path)
    * opts in. A path with swap residue is NOT fresh even under the
    * flag: a crashed [[replaceIndex]] leaves the live dir missing while
    * the real index sits at `_old`, and bootstrapping there would
    * fabricate a one-batch "index" out of a recoverable crash — that
    * state still fails loudly with the recovery instructions. A key
    * colliding with a committed epoch is refused unless
    * `allowReplace` — the deliberate replay semantics
    * [[graft.streaming.TextIndexIngest]] opts into with its batch-id
    * keys, where same key ⇒ same rows and the overwrite is idempotent
    * re-delivery, not silent data replacement. */
  def appendEpoch(batch: DataFrame, path: String, idCol: String,
                  textCol: String, epoch: String,
                  termPartitions: Int = 32,
                  allowReplace: Boolean = false,
                  bootstrap: Boolean = false): Unit = {
    checkEpoch(epoch)
    val spark = batch.sparkSession
    val committed = committedEpochs(spark, path)
    if (committed.isEmpty) {
      require(bootstrap,
        s"appendEpoch: no committed index at $path — a bare append to a " +
          "missing index is usually a mistyped path, and bootstrapping a " +
          "one-batch index there would serve wrong results silently; run " +
          "TextIndex.write / bm25-build first, or pass bootstrap = true " +
          "for a deliberate cold start (the streaming sink's contract)")
      val hc = spark.sparkContext.hadoopConfiguration
      def exists(p: String) = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hc).exists(hp)
      }
      val residue = Seq(path + "_old", path + "_staging").filter(exists)
      require(residue.isEmpty,
        s"appendEpoch: no committed index at $path but swap residue exists " +
          s"(${residue.mkString(", ")}) — an earlier replaceIndex crashed; " +
          "recover the side dir back to the live path instead of " +
          "bootstrapping a one-batch index over it")
      // a meta dir with no committed epochs is NOT a fresh path: it is a
      // pre-epoch flat layout (or a crashed build) — bootstrapping epoch
      // dirs into it would mix root files with partition dirs and
      // corrupt the existing index, the exact state read() refuses with
      // a migration message
      require(!exists(s"$path/meta"),
        s"appendEpoch: $path holds an existing layout with no committed " +
          "epochs (a pre-epoch flat index or a crashed build) — rebuild " +
          "via TextIndex.write / bm25-build to migrate instead of " +
          "bootstrapping epoch dirs into it")
    } else if (!positionalChecked.contains(path)) {
      // schema guard against MIXED epochs: an index persisted before the
      // positional-postings schema carries no `positions` column; landing
      // a positional epoch next to it would either null out old epochs'
      // positions (silently dropping their docs from every phrase query)
      // or lose the column at compaction, depending on which schema the
      // reader samples. Refuse and name the migration. ONE committed
      // epoch dir answers the question — epochs share one schema by
      // construction, and probing the whole tree would pay a full
      // partition listing per append (per MICRO-BATCH through the
      // streaming sink). The verdict is CACHED per path per JVM (the
      // spanSketch/lmModel cache pattern): positionality cannot change
      // after the first successful positional append, so re-reading a
      // parquet footer per micro-batch would be a pure driver tax.
      val baseCols = spark.read
        .parquet(s"$path/postings/epoch=${committed.head}").schema.fieldNames
      require(baseCols.contains("positions"),
        s"appendEpoch: the committed index at $path predates positional " +
          "postings (no `positions` column) — rebuild it via " +
          "TextIndex.write / bm25-build before appending positional epochs")
      positionalChecked.put(path, ())
    }
    require(allowReplace || !committed.contains(epoch),
      s"appendEpoch: epoch '$epoch' already committed at $path — a re-land " +
        "would REPLACE its documents; use a fresh key (or allowReplace for " +
        "idempotent same-rows replays)")
    writeEpoch(build(batch, idCol, textCol), path, epoch, termPartitions)
  }

  /** Paths whose committed layout already passed [[appendEpoch]]'s
    * positional-schema probe this JVM — positionality is monotone (every
    * current writer emits it), so one pass settles the question and
    * later appends (per micro-batch, through the streaming sink) skip
    * the footer read. */
  private val positionalChecked =
    collection.concurrent.TrieMap.empty[String, Unit]

  /** The committed epoch keys at `path` (empty when nothing is
    * committed or the meta table does not exist yet) — one bounded
    * driver read, shared by [[appendEpoch]]'s guards and [[read]]. */
  private def committedEpochs(spark: SparkSession, path: String): Seq[String] =
    try spark.read.parquet(s"$path/meta")
      .select(col("epoch").cast("string")).collect().map(_.getString(0)).toSeq
    catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }

  /** Load a persisted index — COMMITTED epochs only: the meta table
    * names them (bounded driver read: one row per epoch), and both
    * data tables filter to that set via the epoch partition column, so
    * a crashed append's orphan files are invisible. The per-epoch
    * docFreq shards re-aggregate lazily; a serve's query-term filter
    * pushes through the aggregate to the scan, so the re-agg touches
    * only the query terms' rows. */
  def read(spark: SparkSession, path: String): InvertedIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    require(meta.columns.contains("epoch") && meta.columns.contains("total_dl"),
      s"$path/meta has no epoch/total_dl columns — a pre-epoch flat layout; " +
        "rebuild the index (bm25-build / TextIndex.write) to migrate")
    val rows = meta.select(col("epoch").cast("string"), col("n_docs"),
      col("total_dl")).collect()
    require(rows.nonEmpty, s"no committed epochs at $path")
    val epochs = rows.map(_.getString(0)).toSeq
    InvertedIndex(
      spark.read.parquet(s"$path/postings")
        .where(col("epoch").isin(epochs.map(lit): _*)).drop("epoch"),
      spark.read.parquet(s"$path/docfreq")
        .where(col("epoch").isin(epochs.map(lit): _*)).drop("epoch")
        .groupBy("term").agg(sum("df").as("df")),
      rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
  }

  /** Fold all committed epochs back to ONE (`e0`) — the maintenance
    * pass after N appends: snapshot the committed state, write it
    * staged, then swap rename-aside, so a complete servable index
    * exists at `path` or at the named side-dirs at every instant; the
    * swap also GCs crashed-epoch orphans (they are not part of the
    * snapshot). Single-writer discipline: pause appends around it,
    * like every compactor in this repo. */
  def compact(spark: SparkSession, path: String,
              termPartitions: Int = 32): Unit = {
    val staged = path + "_staging"
    write(read(spark, path), staged, termPartitions)
    replaceIndex(spark, path, staged)
  }

  /** Rename-aside swap shared by [[compact]] and the CLI merge: the old
    * index moves to `_old` before the staged one lands, so a crash at
    * ANY point leaves a complete copy on disk with the recovery named
    * in the error. */
  def replaceIndex(spark: SparkSession, path: String, staged: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(hc)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    val stage = new org.apache.hadoop.fs.Path(staged)
    // a missing live path with _old present is a CRASHED earlier swap:
    // _old holds the only complete index — deleting it as "residue"
    // would destroy it. Surface the recovery instead of proceeding.
    if (!fs.exists(live) && fs.exists(old))
      throw new java.io.IOException(
        s"index swap: $live is missing and $old exists — an earlier swap " +
          s"crashed mid-rename; rename $old back to $live before retrying")
    fs.delete(old, true) // residue from an earlier COMPLETED swap
    if (!fs.rename(live, old))
      throw new java.io.IOException(
        s"index swap: could not set aside $live (new index complete at $staged)")
    if (!fs.rename(stage, live))
      throw new java.io.IOException(
        s"index swap failed — previous index at $old, new at $staged; " +
          s"rename one back to $live to recover")
    fs.delete(old, true)
  }
}
