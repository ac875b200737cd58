package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan shape assertions for the scale-critical operators — the
  * properties that make these plans survive a 100× scale-up, pinned so a
  * refactor cannot silently regress them. */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Full traversal including materialized AQE stages — `collect` stops at
    * `QueryStageExec` boundaries, hiding their exchanges. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p.children ++ (p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _ => Nil
    })
    p +: kids.flatMap(flatten)
  }

  private def countShuffles(p: SparkPlan): Int =
    flatten(p).count {
      case _: ShuffleExchangeLike => true
      case _ => false
    }

  private def countBroadcasts(p: SparkPlan): Int =
    flatten(p).count {
      case _: BroadcastExchangeLike => true
      case _ => false
    }

  private val sf = "/root/testdata/sf0.001"

  test("q_sessionize: exactly ONE shuffle (windows + final agg reuse the key partitioning)") {
    val p = executed(SparkEntry.queries("q_sessionize")(spark, sf))
    assert(countShuffles(p) == 1, s"expected 1 shuffle, plan:\n$p")
  }

  test("q_fresco_pipeline: accounting is broadcast — the metric stream never shuffles for the join") {
    val p = executed(SparkEntry.queries("q_fresco_pipeline")(spark, sf))
    assert(countBroadcasts(p) >= 1, s"expected a broadcast join, plan:\n$p")
    // shuffles: accounting derivation agg + two-phase pivot + host_list
    // window — NOT one per metric-stream join side
    assert(countShuffles(p) <= 4, s"expected ≤4 shuffles, plan:\n$p")
  }

  test("q_interval_join: big side joins map-side against broadcast orders") {
    val p = executed(SparkEntry.queries("q_interval_join")(spark, sf))
    assert(countBroadcasts(p) == 1, s"expected exactly 1 broadcast, plan:\n$p")
    assert(countShuffles(p) <= 1, s"only the final groupBy may shuffle, plan:\n$p")
  }

  /** Per-join distinct referenced key-column names on the left side. */
  private def joinKeyNames(df: DataFrame): Seq[Seq[String]] =
    flatten(executed(df)).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name)).distinct.toSeq
    }

  test("q_dedup_clusters: pairs come from LSH banding — no quadratic shingle self-join") {
    // the quadratic oracle-baseline join keys on the shingle column ALONE;
    // the LSH path joins on (band, band_hash) for candidates and
    // (id, shingle) for verification — assert no single-key shingle join
    // in the pair frame feeding CC (the cluster query checkpoints it, so
    // the final plan hides it — SparkEntry exposes the frame for this)
    def hasShingleSelfJoin(df: DataFrame): Boolean =
      joinKeyNames(df).exists(keys => keys == Seq("shingle"))
    assert(!hasShingleSelfJoin(SparkEntry.dedupClusterPairs(spark, sf)),
      "quadratic shingle self-join present in the cluster pair input")
    // detector sanity: the quadratic baseline DOES trip it
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(hasShingleSelfJoin(operators.Dedup.jaccardPairs(
      operators.Dedup.hashedWordShingles(docs, "doc_id", "text"), 0.8)
      .filter(col("jaccard") >= 0.8)))
  }

  /** Every lambda higher-order function (`transform`, `filter`,
    * `aggregate`, …) anywhere in an executed plan: their lambdas evaluate
    * interpreted per element, which is why the curate hot path runs native
    * kernels instead. */
  private def higherOrderFunctions(p: SparkPlan) =
    flatten(p).flatMap(_.expressions.flatMap(_.collect {
      case h: org.apache.spark.sql.catalyst.expressions.HigherOrderFunction => h
    }))

  test("Pipeline.curate: no lambda higher-order function in the executed " +
    "plan — shingles, band hashes and quality counts stay native") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val p = executed(Pipeline.curate(docs, evalDocs))
    val hofs = higherOrderFunctions(p)
    assert(hofs.isEmpty, s"interpreted HOFs in curate: ${hofs.map(_.prettyName)}\nplan:\n$p")
    // curate's dedup checkpoints its shingle frame, so the plan above only
    // scans the checkpoint: check the shingling plan on its own
    val sh = executed(operators.Dedup.hashedWordShingles(docs, "doc_id", "text"))
    assert(higherOrderFunctions(sh).isEmpty, s"interpreted HOFs in shingling:\n$sh")
    // detector sanity: the Column tokenizer is a filter lambda
    assert(higherOrderFunctions(executed(
      docs.select(operators.TextAnalysis.tokens(col("text"))))).nonEmpty)
  }

  /** The regex passes the native [[graft.functions.PiiScan]] replaced. */
  private def regexPasses(p: SparkPlan) =
    flatten(p).flatMap(_.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.RegExpExtractAll => e
      case e: org.apache.spark.sql.catalyst.expressions.RegExpReplace => e
    }))

  test("Pipeline.curate: no RegExpExtractAll and no RegExpReplace in the " +
    "executed plan — the PII counts and redaction are one native scan") {
    import org.apache.spark.sql.functions.{col, lit, pmod, regexp_extract_all, regexp_replace}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val p = executed(Pipeline.curate(docs, evalDocs))
    val found = regexPasses(p)
    assert(found.isEmpty, s"regex passes in curate: ${found.map(_.prettyName)}\nplan:\n$p")
    // detector sanity: the built-in forms trip it
    assert(regexPasses(executed(docs.select(
      regexp_extract_all(col("text"), lit(operators.TextAnalysis.EmailRe), lit(0)),
      regexp_replace(col("text"), operators.TextAnalysis.PhoneRe, "<PHONE>")))).size == 2)
  }

  test("minhashDuplicates verifies on per-document shingle sets: no join " +
    "keyed on a shingle, no broadcast of shingle rows") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def onShingle(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.references.exists(_.name == "shingle")
    def shingleJoins(p: SparkPlan) = flatten(p).collect {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(onShingle) => j
    }
    def shingleBroadcasts(p: SparkPlan) = flatten(p).collect {
      case b: BroadcastExchangeLike if b.child.output.exists(_.name == "shingle") => b
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sh = operators.Dedup.hashedWordShingles(docs, "doc_id", "text")
    val got = operators.Dedup.minhashDuplicates(sh, 0.5)
    val p = executed(got)
    assert(shingleJoins(p).isEmpty, s"join keyed on a shingle:\n$p")
    assert(shingleBroadcasts(p).isEmpty, s"broadcast of shingle rows:\n$p")
    // detector sanity: the shingle-join form it replaced trips both, on
    // the same candidates (so AQE did not prune the verify joins away)
    val old = PropertySpec.minhashDuplicatesJoin(sh, 0.5)
    val q = executed(old)
    val n = old.count()
    assert(n > 0 && n == got.count())
    assert(shingleJoins(q).nonEmpty, s"detector missed the shingle join:\n$q")
    assert(shingleBroadcasts(q).nonEmpty, s"detector missed the shingle broadcast:\n$q")
  }

  test("q_topk: sort+limit fuse into TakeOrderedAndProject — no global sort") {
    val p = executed(SparkEntry.queries("q_topk")(spark, sf))
    assert(flatten(p).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject, plan:\n$p")
    assert(!flatten(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"global sort present, plan:\n$p")
  }

  test("per-row text ops are shuffle-free: chunking, repetition, quantize, split, redact") {
    for (q <- Seq("q_text_chunks", "q_text_repetition", "q_embed_quantize",
        "q_hash_split", "q_pii_redact", "q_sample_stratified")) {
      val p = executed(SparkEntry.queries(q)(spark, sf))
      assert(countShuffles(p) == 0, s"$q should be narrow, plan:\n$p")
    }
  }

  test("q_vocab: one token shuffle, top-k fused — no global sort of the vocabulary") {
    val p = executed(SparkEntry.queries("q_vocab")(spark, sf))
    assert(flatten(p).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject, plan:\n$p")
    assert(!flatten(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"global sort present, plan:\n$p")
    assert(countShuffles(p) == 1, s"expected exactly the token-count shuffle, plan:\n$p")
  }

  test("q_vocab_by_lang: stage-1 window partitions by (group, salt) — the " +
    "skew-safe two-stage shape is in the physical plan, not just the spec") {
    val p = executed(SparkEntry.queries("q_vocab_by_lang")(spark, sf))
    val windows = flatten(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected the two-stage rank, plan:\n$p")
    // the FIRST window evaluated (innermost) must carry the salt in its
    // partition spec (the salt expression is projected to a _w0 alias in
    // the physical plan, so pin the SHAPE: two partition expressions vs
    // the final rank's one): no task ever sorts a whole group's histogram
    val stage1 = windows.last // flatten is top-down; innermost comes last
    assert(stage1.partitionSpec.size == 2,
      s"stage-1 must partition by (group, salt-of-token), got: " +
        s"${stage1.partitionSpec.mkString(", ")}\nplan:\n$p")
    // the final per-group rank partitions by the group alone
    assert(windows.head.partitionSpec.size == 1,
      s"stage-2 must partition by the group, plan:\n$p")
  }

  test("q_embed_clusters: banded candidate equi-join — no cartesian/nested-loop anywhere") {
    val phys = executed(SparkEntry.queries("q_embed_clusters")(spark, sf)).toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"embedding clusters must stay on the banded equi-join path:\n$phys")
  }

  test("q_dedup_spans: span-hash equi-join with partial-aggregated counts — " +
    "no cartesian, no per-doc state in the count shuffle") {
    val p = executed(SparkEntry.queries("q_dedup_spans")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"span profile must stay on the span-hash equi-join path:\n$phys")
    // the docs-per-span count must partial-aggregate before its shuffle
    // (a plain count, never a countDistinct carrying per-doc state): a
    // partial_count must appear BELOW some exchange in the plan tree
    val hasPartialCount = flatten(p).exists {
      case agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        agg.aggregateExpressions.exists(a =>
          a.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial &&
            a.aggregateFunction.prettyName == "count")
      case _ => false
    }
    assert(hasPartialCount, s"expected a map-side partial count:\n$phys")
  }

  test("q_dedup_span_trim: surgery stays on equi-joins — no cartesian, no " +
    "nested loop, dup-start lists ride rows (no driver collect in the plan)") {
    val phys = executed(SparkEntry.queries("q_dedup_span_trim")(spark, sf)).toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"span surgery must stay on the gram-hash equi-join path:\n$phys")
  }

  test("q_sample_budget: the window partitions by (group, bucket) — never " +
    "by the group alone — and only the boundary rows ever shuffle") {
    val p = executed(SparkEntry.queries("q_sample_budget")(spark, sf))
    val phys = p.toString
    // the two-pass design's structural claim: the cumulative window's
    // partition spec includes the 256-way key-prefix bucket, so no task
    // sorts a whole group; the wholesale-keep side rides broadcast joins
    assert("windowspecdefinition\\(lang[^)]*__bucket".r
      .findFirstIn(phys).isDefined,
      s"window must partition by (lang, __bucket):\n$phys")
    assert(countShuffles(p) <= 1,
      s"only the boundary buckets may shuffle (got >1):\n$phys")
  }

  test("q_lm_xent: both model tables broadcast — the score scan never shuffles for the model") {
    val p = executed(SparkEntry.queries("q_lm_xent")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"LM scoring must stay on (w1,w2)/(w1) equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 2,
      s"expected the bigram AND context tables to broadcast into the score scan:\n$phys")
  }

  test("q_semdedup: pair scan keyed by the cluster id — no cartesian anywhere") {
    val phys = executed(SparkEntry.queries("q_semdedup")(spark, sf)).toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"SemDeDup's whole point is the cluster-bounded equi-join:\n$phys")
  }

  test("q_bpe_pairs: weighted pair counts partial-aggregate map-side; top-k fused") {
    val p = executed(SparkEntry.queries("q_bpe_pairs")(spark, sf))
    val phys = p.toString
    // the shuffle must carry per-partition-distinct pairs, not pair
    // occurrences: a partial sum below an exchange
    val hasPartialSum = flatten(p).exists {
      case agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        agg.aggregateExpressions.exists(a =>
          a.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial &&
            a.aggregateFunction.prettyName == "sum")
      case _ => false
    }
    assert(hasPartialSum, s"expected a map-side partial sum:\n$phys")
    assert(phys.contains("TakeOrderedAndProject"),
      s"the top-50 cut must fuse — no global sort of the pair table:\n$phys")
  }

  test("q_lm_xent_interp: all three model tables broadcast into one score scan") {
    val p = executed(SparkEntry.queries("q_lm_xent_interp")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"interpolated scoring must stay on (w1,w2)/(w1)/(w2) equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 3,
      s"expected bigram, context AND unigram tables to broadcast:\n$phys")
  }

  test("q_bm25_phrase: phrase terms push into the postings scan; the only " +
    "nested-loop is the deliberate 1-row df broadcast") {
    val df = SparkEntry.queries("q_bm25_phrase")(spark, sf)
    val p = executed(df)
    val phys = p.toString
    assert(phys.contains("PushedFilters") && phys.contains("In(term"),
      s"the phrase's distinct terms must reach the postings scan:\n$phys")
    assert(!phys.contains("CartesianProduct"), s"no cartesian:\n$phys")
    // the df-phrase scalar rides a BroadcastNestedLoopJoin by design —
    // its build side is ONE row (the count aggregate), never data-scale;
    // there must be exactly that one
    val bnlj = flatten(p).count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
    assert(bnlj == 1, s"expected exactly the one 1-row broadcast join, got $bnlj:\n$phys")
  }

  test("q_bm25_batch: query terms broadcast AND push down — the postings " +
    "side never shuffles for the candidate set") {
    val p = executed(SparkEntry.queries("q_bm25_batch")(spark, sf))
    val phys = p.toString
    assert(phys.contains("PushedFilters") && phys.contains("In(term"),
      s"pushdownTerms must reach the postings scan as a literal filter:\n$phys")
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"batch serve must stay on term equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 2,
      s"expected the (query_id, term) pairs and docFreq to broadcast:\n$phys")
  }

  test("q_bm25_phrase_batch: phrase units broadcast + push down; per-phrase " +
    "df joins hash on the phrase key — no nested loop anywhere") {
    val p = executed(SparkEntry.queries("q_bm25_phrase_batch")(spark, sf))
    val phys = p.toString
    assert(phys.contains("PushedFilters") && phys.contains("In(term"),
      s"the union of phrase terms must reach the postings scan:\n$phys")
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"batch phrase serve joins on term and phrase_id only:\n$phys")
    assert(countBroadcasts(p) >= 2,
      s"expected phrase units AND per-phrase df to broadcast:\n$phys")
  }

  test("q_semdedup_cdist: the non-id priority still plans the cluster-keyed " +
    "equi-join — no cartesian from the dominance tuple") {
    val phys = executed(SparkEntry.queries("q_semdedup_cdist")(spark, sf)).toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"the (dist, id) priority is a join FILTER, never a join relaxation:\n$phys")
  }

  test("q_interval_join_auto: the optimizer rule fired — bucket Generate present, no nested loop") {
    val df = SparkEntry.queries("q_interval_join_auto")(spark, sf)
    val gens = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generatorOutput.exists(_.name == "__graft_bucket") => g
    }
    assert(gens.size == 1, s"rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
    val phys = executed(df).toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
  }

  test("q_interval_join_incl: the <= (BETWEEN) shape also plans the bucketed equi-join") {
    val df = SparkEntry.queries("q_interval_join_incl")(spark, sf)
    val gens = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generatorOutput.exists(_.name == "__graft_bucket") => g
    }
    assert(gens.size == 1, s"rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
    val phys = executed(df).toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
  }

  test("q_decontaminate: eval shingles broadcast — the training corpus never shuffles for the check") {
    val p = executed(SparkEntry.queries("q_decontaminate")(spark, sf))
    assert(countBroadcasts(p) >= 1, s"expected broadcast eval side, plan:\n$p")
    // shuffles: the eval-side distinct + the final per-doc count — the
    // training shingle stream itself must not shuffle for the join
    assert(countShuffles(p) <= 2, s"expected ≤2 shuffles, plan:\n$p")
  }

  test("lifecycle serving plans keep the scale shape: grown and deleted " +
    "indexes serve bucketed/pruned, tombstones ride a broadcast anti-join") {
    // dedup side: the ingest-grown tables serve from bucketed scans
    // exactly like the one-shot build (the append path changes files,
    // never the plan family)
    val pIng = executed(SparkEntry.queries("q_dedup_index_ingest")(spark, sf))
    assert(pIng.toString.contains("Bucketed: true"),
      s"ingest-grown serve must stay bucketed:\n$pIng")
    // ...and a deletion adds a broadcast LeftAnti against the tombstones,
    // never a shuffle of the bucketed tables
    val pDel = executed(SparkEntry.queries("q_dedup_index_delete")(spark, sf))
    val pDelStr = pDel.toString
    assert(pDelStr.contains("Bucketed: true"),
      s"deleted-index serve must stay bucketed:\n$pDel")
    assert(pDelStr.contains("LeftAnti"),
      s"tombstones must apply as an anti-join:\n$pDel")
    // ANN side: the grown index serves partition-pruned with the
    // committed-epoch predicate pushed into the scan
    def annPlan(q: String): String = {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val pAnnI = annPlan("q_ann_ingest")
    assert("PartitionFilters: \\[[^\\]]*coarse".r.findFirstIn(pAnnI).isDefined,
      s"grown ANN serve must prune by cell:\n$pAnnI")
    assert("PushedFilters: \\[[^\\]]*build_id".r.findFirstIn(pAnnI).isDefined,
      s"grown ANN serve must push the epoch filter:\n$pAnnI")
    val pAnnD = annPlan("q_ann_delete")
    assert("PartitionFilters: \\[[^\\]]*coarse".r.findFirstIn(pAnnD).isDefined &&
      pAnnD.contains("LeftAnti"),
      s"deleted ANN serve must stay pruned with a tombstone anti-join:\n$pAnnD")
    // residual-PQ side: the learned code layout serves with the probed
    // cells pruned into the file listing and the committed-epoch
    // predicate pushed into the scan, exactly like the int8 layout
    val pPq = annPlan("q_ann_pq_res_pruned")
    assert("PartitionFilters: \\[[^\\]]*coarse".r.findFirstIn(pPq).isDefined,
      s"PQ layout serve must prune by cell:\n$pPq")
    assert("PushedFilters: \\[[^\\]]*build_id".r.findFirstIn(pPq).isDefined,
      s"PQ layout serve must push the epoch filter:\n$pPq")
    // OPQ side: the learned rotated composition serves with the SAME
    // scale shape — rotated-space probed cells pruned into the file
    // listing, epoch predicate pushed into the scan
    val pOpq = annPlan("q_ann_opq_res")
    assert("PartitionFilters: \\[[^\\]]*coarse".r.findFirstIn(pOpq).isDefined,
      s"OPQ layout serve must prune by rotated-space cell:\n$pOpq")
    assert("PushedFilters: \\[[^\\]]*build_id".r.findFirstIn(pOpq).isDefined,
      s"OPQ layout serve must push the epoch filter:\n$pOpq")
  }

  test("q_bm25_topk: candidate ids AND query terms push into the fwd scan; " +
    "the k-cut fuses — rescore cost tracks the candidate set, not df") {
    val p = executed(SparkEntry.queries("q_bm25_topk")(spark, sf))
    val phys = p.toString
    // phase 3's whole claim: only the surviving candidates' row groups
    // are read — the id In-list AND the term In-list must reach the
    // doc-sorted fwd scan. The plan STRING truncates PushedFilters at
    // ~100 chars (the candidate list swallows the term entry), so
    // assert on the scan's dataFilters field, not the rendering.
    val fwdScans = flatten(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("q-bm25-topk") => s
    }
    assert(fwdScans.nonEmpty, s"expected a fwd-layout scan:\n$phys")
    val filterCols = fwdScans.flatMap(_.dataFilters)
      .flatMap(_.references.map(_.name)).toSet
    assert(filterCols.contains("doc_id"),
      s"candidate ids must push into the fwd scan, got $filterCols:\n$phys")
    assert(filterCols.contains("term"),
      s"query terms must push into the fwd scan, got $filterCols:\n$phys")
    assert(phys.contains("TakeOrderedAndProject"),
      s"the k-cut must fuse — no global sort of candidate scores:\n$phys")
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"),
      s"rescore stays on the term equi-join:\n$phys")
    assert(countBroadcasts(p) >= 1,
      s"expected the per-term df frame to broadcast:\n$phys")
  }

  test("q_decontaminate_phrase: phrase hits apply as a broadcast anti-join — " +
    "the corpus never shuffles for the drop") {
    val p = executed(SparkEntry.queries("q_decontaminate_phrase")(spark, sf))
    val phys = p.toString
    assert(phys.contains("LeftAnti"),
      s"contaminated ids must drop via an anti-join:\n$phys")
    assert(!phys.contains("CartesianProduct"), s"no cartesian:\n$phys")
    assert(countBroadcasts(p) >= 1,
      s"expected the hit-id set to broadcast against the corpus:\n$phys")
    // the corpus side reads and filters map-side; shuffles belong to the
    // phrase-verification side (postings agg), never the corpus scan
    val corpusShuffles = flatten(p).count {
      case s: ShuffleExchangeLike =>
        s.toString.contains("documents.parquet")
      case _ => false
    }
    assert(corpusShuffles == 0,
      s"the documents scan must not shuffle for the drop:\n$phys")
  }

  test("q_lm_xent_kn: all three KN model tables broadcast into one score scan") {
    val p = executed(SparkEntry.queries("q_lm_xent_kn")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"KN scoring must stay on (w1,w2)/(w1)/(w2) equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 3,
      s"expected bigram, context AND continuation tables to broadcast:\n$phys")
  }

  test("q_lm_xent_kn3: all five KN3 model tables broadcast into one score scan") {
    val p = executed(SparkEntry.queries("q_lm_xent_kn3")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"KN3 scoring must stay on the n-gram-key equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 5,
      s"expected trigram, ctx12, cont23, ctx2 AND cont3 tables to broadcast:\n$phys")
  }

  test("q_lm_xent_kn5: all nine order-5 KN model tables broadcast into one " +
    "score scan") {
    val p = executed(SparkEntry.queries("q_lm_xent_kn5")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"KN5 scoring must stay on the n-gram-key equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 9,
      s"expected the 5-gram table, top context, and the full cont/ctx " +
        s"cascade (2N-1 = 9 tables) to broadcast:\n$phys")
  }

  test("q_lm_xent_mkn: the modified-KN score scan keeps the KN-3 shape — " +
    "all five model tables broadcast, no cartesian") {
    val p = executed(SparkEntry.queries("q_lm_xent_mkn")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"modified-KN scoring must stay on the n-gram-key equi-joins:\n$phys")
    assert(countBroadcasts(p) >= 5,
      s"expected gram, top-context, and the bucketed cont/ctx cascade " +
        s"to broadcast (the count-dependent discounts ride as literals, " +
        s"never a join side):\n$phys")
  }

  test("q_curate_semantic: the semantic gate joins on the coarse cell over " +
    "curation survivors — no cartesian anywhere in the composition") {
    val p = executed(SparkEntry.queries("q_curate_semantic")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"the capstone must stay on equi-joins (decontaminate shingle join, " +
        s"survivor semi-join, within-cell pair join on coarse):\n$phys")
  }

  test("q_ann_pq: the ADC shortlist joins on the coarse cell and rescores by " +
    "id — codebooks ride as a literal, never a join side") {
    val p = executed(SparkEntry.queries("q_ann_pq")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"PQ serving is cell-bounded equi-joins end to end:\n$phys")
    // the codebook matrix is a typedlit inside the ADC expression — the
    // plan must contain NO scan of a codebooks table (2 leaves: corpus
    // codes + corpus/query vectors, both the embeddings source)
    val scans = p.collectLeaves().map(_.toString)
    assert(scans.forall(!_.contains("pq_codebooks")),
      s"codebooks must ride as a literal, not a scanned side:\n$phys")
  }

  test("q_ann_pq: the per-query ADC table materializes below the cell join " +
    "— per-pair work is m lookups, never m·dsub arithmetic") {
    import graft.functions.{AdcTable, AdcTableLookup}
    val p = executed(SparkEntry.queries("q_ann_pq")(spark, sf))
    def hasExpr(n: SparkPlan, pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      n.expressions.exists(_.exists(pred))
    val tableNodes = flatten(p).filter(hasExpr(_, _.isInstanceOf[AdcTable]))
    assert(tableNodes.nonEmpty, s"expected an adc_table projection:\n$p")
    tableNodes.foreach { n =>
      // below every join: the node's own subtree must contain no join —
      // a post-join adc_table would recompute the m·ksub·dsub table per
      // candidate PAIR, the exact cost the table split exists to remove
      assert(!flatten(n).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        s"adc_table computed above a join (per-pair, not per-query):\n$p")
      // and never fused with the per-pair lookup into one projection
      assert(!hasExpr(n, _.isInstanceOf[AdcTableLookup]),
        s"adc_table and adc_lookup share a node — the table is not " +
          s"materialized per query row:\n$p")
    }
    assert(flatten(p).exists(hasExpr(_, _.isInstanceOf[AdcTableLookup])),
      s"expected the per-pair adc_lookup in the shortlist stage:\n$p")
  }

  test("q_ann_pq_res: residual serving keeps the table-below-join shape — " +
    "the per-(query, probed-cell) residual table is never per-pair work") {
    import graft.functions.{AdcTable, AdcTableLookup}
    val p = executed(SparkEntry.queries("q_ann_pq_res")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"residual-PQ serving is cell-bounded equi-joins end to end:\n$phys")
    def hasExpr(n: SparkPlan, pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      n.expressions.exists(_.exists(pred))
    val tableNodes = flatten(p).filter(hasExpr(_, _.isInstanceOf[AdcTable]))
    assert(tableNodes.nonEmpty, s"expected an adc_table projection:\n$p")
    tableNodes.foreach { n =>
      assert(!flatten(n).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        s"residual adc_table computed above a join (per-pair, not " +
          s"per-(query, cell)):\n$p")
      assert(!hasExpr(n, _.isInstanceOf[AdcTableLookup]),
        s"adc_table and adc_lookup share a node:\n$p")
    }
  }

  test("q_ann_opq: rotation + ADC table both below the cell join — the " +
    "rotated-space serve keeps the per-query (not per-pair) shape, and " +
    "the rotation matrix rides as a literal") {
    import graft.functions.{AdcTable, AdcTableLookup, DotProduct}
    val p = executed(SparkEntry.queries("q_ann_opq")(spark, sf))
    val phys = p.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"OPQ serving is cell-bounded equi-joins end to end:\n$phys")
    // neither the rotation matrix nor the codebooks are a scanned side
    val scans = p.collectLeaves().map(_.toString)
    assert(scans.forall(s => !s.contains("opq_rot") && !s.contains("pq_codebooks")),
      s"OPQ matrices must ride as literals, not scanned sides:\n$phys")
    def hasExpr(n: SparkPlan, pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      n.expressions.exists(_.exists(pred))
    // the rotation runs as the native dot_product kernel (the zip_with/
    // aggregate HOF form measured ~5x slower on the whole serve)
    assert(flatten(p).exists(hasExpr(_, _.isInstanceOf[DotProduct])),
      s"expected the native dot_product rotation kernel:\n$p")
    val tableNodes = flatten(p).filter(hasExpr(_, _.isInstanceOf[AdcTable]))
    assert(tableNodes.nonEmpty, s"expected an adc_table projection:\n$p")
    tableNodes.foreach { n =>
      assert(!flatten(n).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        s"rotated adc_table computed above a join (per-pair, not per-query):\n$p")
      assert(!hasExpr(n, _.isInstanceOf[AdcTableLookup]),
        s"adc_table and adc_lookup share a node:\n$p")
    }
  }

  test("q_filter_project: predicates and projection reach the parquet scan") {
    val df = SparkEntry.queries("q_filter_project")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && !scan.contains("PushedFilters: []"),
      s"no pushed filters in scan:\n$scan")
    assert(scan.contains("ReadSchema"))
    // projection pruning: the 16-column lineitem scan reads only what the
    // query needs (4 output + 2 filter columns)
    assert(!scan.contains("l_comment"), s"unpruned scan:\n$scan")
  }

  /** Two nodes of raw step-1 CSVs (`<dir>/<node>/<family>.csv`) and an
    * accounting CSV, the layout `runner.Main step1` reads by glob. */
  private lazy val nodeCsvs: String = {
    val dir = java.nio.file.Files.createTempDirectory("plan-step1").toFile
    val t = "01/01/2013"
    def write(rel: String, lines: String*): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    for (n <- Seq("N1", "N2")) {
      write(s"$n/block.csv", "jobID,node,timestamp,device,rd_sectors,wr_sectors",
        s"job1,$n,$t 10:00:00,sda,0,0", s"job1,$n,$t 10:00:00,sdb,0,0",
        s"job1,$n,$t 10:01:00,sda,1048576,0", s"job1,$n,$t 10:01:00,sdb,0,4096")
      write(s"$n/cpu.csv", "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,softirq",
        s"job1,$n,$t 10:00:00,cpu0,100,0,0,900,0,0,0", s"job1,$n,$t 10:00:00,cpu1,100,0,0,900,0,0,0",
        s"job1,$n,$t 10:01:00,cpu0,200,0,0,1800,0,0,0", s"job1,$n,$t 10:01:00,cpu1,300,0,0,1700,0,0,0")
      write(s"$n/llite.csv", "jobID,node,timestamp,read_bytes,write_bytes",
        s"job1,$n,$t 10:00:00,0,0", s"job1,$n,$t 10:01:00,52428800,52428800")
      write(s"$n/mem.csv", "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
        s"job1,$n,$t 10:00:00,2147483648,1073741824,1073741824,536870912")
    }
    write("accounting.csv",
      "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,start,end,submit,exit_status",
      s"job1,alice,acctA,sim,normal,2,32,3600,$t 10:00:00,$t 10:05:00,$t 09:59:00,0")
    dir.getAbsolutePath
  }

  private def step1Args(out: String) = Seq("step1") ++
    Seq("block", "cpu", "llite", "mem").flatMap(f => Seq(s"--$f", s"$nodeCsvs/*/$f.csv")) ++
    Seq("--out", out)

  /** Spark jobs started and queries executed while `body` runs. */
  private def jobsAndQueries(body: => Unit): (Int, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val (jobs, queries) = (new AtomicInteger, new AtomicInteger)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val queryListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = queries.incrementAndGet()
    }
    val drain = () => org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try { body; drain() }
    finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
    (jobs.get, queries.get)
  }

  test("Readers.csv resolves its header on the driver: no Spark job") {
    val glob = s"$nodeCsvs/*/block.csv"
    assert(jobsAndQueries(sources.Readers.csv(spark, glob, schemas.Schemas.block)) == (0, 0))
    // detector sanity: Spark's header inference runs a job
    assert(jobsAndQueries(spark.read.option("header", "true").csv(glob))._1 >= 1)
  }

  test("a step1 append through runner.Main.run executes exactly one query") {
    val out = java.nio.file.Files.createTempDirectory("plan-step1-out").toFile
    val (_, queries) = jobsAndQueries(runner.Main.run(step1Args(s"$out/store"), spark))
    assert(queries == 1, s"$queries queries")
  }

  test("block and cpu keep a partial HashAggregate below their first exchange") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    def lowestExchanges(p: SparkPlan) = flatten(p).collect {
      case e: ShuffleExchangeLike if !flatten(e.child).exists(_.isInstanceOf[ShuffleExchangeLike]) => e
    }
    for ((family, transform) <- Seq[(String, DataFrame => DataFrame)](
        "block" -> operators.MetricTransforms.block, "cpu" -> operators.MetricTransforms.cpu)) {
      val schema = if (family == "block") schemas.Schemas.block else schemas.Schemas.cpu
      val p = executed(transform(sources.Readers.csv(spark, s"$nodeCsvs/*/$family.csv", schema)))
      val first = lowestExchanges(p)
      assert(first.nonEmpty && first.forall(e => flatten(e.child).exists {
        case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
        case _ => false
      }), s"$family: no partial aggregate below the first exchange:\n$p")
    }
  }

  test("BucketAggregate: two exchanges, the aggregate's and the host_list window's") {
    val out = java.nio.file.Files.createTempDirectory("plan-bucket").toFile
    runner.Main.run(step1Args(s"$out/store"), spark)
    val joined = operators.IntervalJoin(sources.Readers.frescoMetrics(spark, s"$out/store"),
      sources.Readers.accounting(spark, s"$nodeCsvs/accounting.csv"))
    joined.write.parquet(s"$out/joined")
    val p = executed(operators.BucketAggregate(spark.read.parquet(s"$out/joined")))
    assert(countShuffles(p) == 2, s"plan:\n$p")
  }

  test("Pipeline.step2: no lambda higher-order function in the executed plan") {
    val out = java.nio.file.Files.createTempDirectory("plan-step2").toFile
    runner.Main.run(step1Args(s"$out/store"), spark)
    val p = executed(Pipeline.step2(spark, s"$out/store", s"$nodeCsvs/accounting.csv"))
    val hofs = higherOrderFunctions(p)
    assert(hofs.isEmpty, s"interpreted HOFs in step2: ${hofs.map(_.prettyName)}\nplan:\n$p")
  }
}
