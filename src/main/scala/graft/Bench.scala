package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line. A warmup pass at sf0.001
  * first forces classloading / codegen so timings measure the queries, not
  * JVM startup. Each query is timed `SPARK_GRAFT_REPS` times (default 3)
  * and the MEDIAN is reported, with per-query min/max spread in
  * `bench_full.json` — single-shot numbers on a shared host cannot
  * distinguish a regression from interference.
  *
  * Isolation: before each timed query ALL persisted state is dropped and
  * the JVM is settled (GC + a pause for the ContextCleaner to drain its
  * reference queue) so cleanup work from the PREVIOUS query — broadcast
  * removals, checkpoint-block eviction — cannot bleed into the next timed
  * window. Per-query shuffle/spill totals ride alongside wall time in the
  * JSON so regressions are attributable without a profiler.
  *
  * `SPARK_GRAFT_ONLY=q_a,q_b` restricts the run (dev loop). Setting one
  * of the `SPARK_GRAFT_SCALE_*` env vars listed in [[harnesses]] runs that
  * scale harness instead: it measures one scale claim across a replica
  * ladder and writes its own `bench_scale*.json`; the claims and committed
  * values are catalogued in COVERAGE.md. */
object Bench {

  /** Accumulates task-level IO counters; reset per timed query. */
  private[graft] final class TaskMetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    val inputBytes = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    def reset(): Unit =
      Seq(shuffleRead, shuffleWrite, memSpill, diskSpill, inputBytes).foreach(_.set(0L))
  }

  /** The bench's evaluation action — the guide §1.4 noop data source:
    * computes every column of every row, discards the result. Shared by
    * the warmup/prewarm passes so codegen warms the exact timed plan. */
  private def noopSink(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    // the query record below is built with the locale-sensitive f
    // interpolator — under a comma-decimal default locale (de_DE, …) the
    // output would be invalid JSON. Pin the root locale once. (The scale
    // harnesses' Record formats with Locale.ROOT itself.)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    // the harness is chosen before the session exists: some need
    // creation-time configs (the FAIR scheduler)
    val harness = harnesses.find(h => sys.env.contains(h.env))
    val spark = Sessions.local(cpus, harness.fold(Map.empty[String, String])(_.sessionConf))
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    // Drop ALL persisted state — CacheManager entries (df.cache) and
    // localCheckpoint blocks (dedup/CC internals). Between queries the
    // prior query's frames are dead, so unpersisting their truncated-
    // lineage blocks is safe, and each timing is attributable to its own
    // query instead of inheriting (or re-populating) a predecessor's cache.
    def dropPersistedState(): Unit = {
      spark.catalog.clearCache()
      // blocking: eviction must FINISH before the next query's timer
      // starts, or the drop work (and still-occupied memory) bleeds into
      // the timed window — this call sits off the timed path
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // Settle the ContextCleaner: its cleanups (broadcast/RDD/shuffle
      // removal) only start once a GC proves the references dead, and run
      // on its own thread — without this barrier a heavy predecessor's
      // cleanup lands inside the NEXT query's timed window (the r2
      // q_dedup_exact 10x anomaly). Two GC passes: the first enqueues the
      // weak references, the pause lets the cleaner drain, the second
      // collects anything the drain itself released.
      System.gc(); Thread.sleep(400)
      System.gc(); Thread.sleep(100)
    }

    harness match {
      case Some(h) =>
        val ctx = new Ctx(spark, sfDir, repsFromEnv(), () => dropPersistedState(), listener)
        try ctx.emit(h.file, h.run(ctx)) finally spark.stop()
        return
      case None =>
    }

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = only.fold(all)(f => all.filter(kv => f(kv._1)))
    ordered.foreach { case (name, fn) =>
      try noopSink(fn(spark, warmupDir)) catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    // PRE-WARM at the MEASURED dir too (skippable via
    // SPARK_GRAFT_PREWARM=0): the per-JVM per-dir caches — the
    // persisted span/banded/IVF/text/LM layouts the *_served queries
    // answer from — are keyed by dir, so the warmupDir pass above never
    // builds them for sfDir and their first-use build/write cost landed
    // inside the FIRST TIMED REP (r12 evidence: q_bm25_served spread
    // 0.77–6.40 s, q_lm_xent_served 0.44–2.89 s, the build visible as
    // the max). Medians dodged the rep itself, but the build's GC/page-
    // cache pressure bled into NEIGHBORING queries' timed windows — the
    // unattributed +11% common-query drift of r12. One untimed pass
    // populates every cache and codegens the actual sfDir plans.
    if (!sys.env.get("SPARK_GRAFT_PREWARM").contains("0"))
      ordered.foreach { case (name, fn) =>
        try noopSink(fn(spark, sfDir)) catch { case e: Throwable =>
          System.err.println(s"[bench] prewarm $name failed: ${e.getMessage}")
        }
      }

    // median-of-N timings (default 3): single-shot numbers on a noisy
    // shared host have swung ±40% round-to-round with identical code, so
    // one measurement cannot adjudicate a regression. The median defeats
    // one-off interference; the per-query min/max spread (bench_full.json)
    // lets a reader separate real plan changes from host noise.
    val reps = repsFromEnv()
    val mb = 1024.0 * 1024.0
    // per query: (name, median, min, max, completed-run count, io-from-median-run)
    val results = ordered.map { case (name, fn) =>
      val runs = collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      var failed = false
      var i = 0
      while (i < reps && !failed) {
        dropPersistedState()
        listener.reset()
        val t0 = System.nanoTime()
        // a failed query is reported as -1, never as a (fast) fake timing
        try {
          // TIMED ACTION (r20): the guide §1.4 noop sink — materializes
          // EVERY column of every row and discards it. The count() action
          // the bench carried through r19 let Catalyst prune columns whose
          // multiplicity it could prove: the r19 NoopProbeTool audit
          // measured q_pii_redact noop/count = 3.9x (the redaction/md5
          // columns were never computed) and the LM xent score family
          // 2.9x (the per-row log-probability arithmetic pruned out of the
          // aggregate) — the bench was steering optimization with numbers
          // that under-credited those families. Every curated band below
          // was re-based in the same commit (named cause: this switch +
          // the r20 noop-timed quiet medians); count()-era numbers remain
          // in history/BENCH_r01..r19 / the r19 bench_full.json history.
          noopSink(fn(spark, sfDir))
          val secs = (System.nanoTime() - t0) / 1e9
          // the listener bus is asynchronous: drain it, after the timer,
          // so the io columns include the query's last tasks
          org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
          runs += ((secs, listener.shuffleWrite.get / mb,
            listener.memSpill.get / mb, listener.diskSpill.get / mb))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); failed = true
        }
        i += 1
      }
      // a query with NO successful rep reports -1 (never a fake timing);
      // one that failed on a LATER rep keeps the median of its completed
      // runs — a partial measurement beats discarding real timings, and
      // the per-query `runs` count below marks it as partial so the
      // spread record can't masquerade as a stable full median
      if (runs.isEmpty) (name, -1.0, -1.0, -1.0, 0, (0.0, 0.0, 0.0))
      else {
        val byTime = runs.sortBy(_._1)
        val med = byTime(byTime.size / 2) // upper median for even sizes
        (name, med._1, byTime.head._1, byTime.last._1, runs.size,
          (med._2, med._3, med._4))
      }
    }
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // stdout twin of `qs`, COMPACTED to fit the driver's ~2000-byte tail
    // capture: 69 queries at full precision was ~2.9 KB (r08/r09
    // `parsed: null`), r12's 3-decimal full names overflowed again
    // (2084 B), and r14's 97 queries overflowed the 2-decimal form too
    // (2042 B — one run fell back to the no-map headline). The map now
    // strips the uniform `q_` prefix and rounds to 100 ms (97 queries
    // ≈ 1.95 KB); full names, full precision, spread/io/bands all stay
    // in bench_full.json, which is the record of note — the stdout map
    // exists only so the driver's tail capture parses SOMETHING
    // per-query.
    val qsShort = results.map { case (k, v, _, _, _, _) =>
      f""""${k.stripPrefix("q_")}":$v%.1f"""
    }.mkString("{", ",", "}")
    val spread = results.map { case (k, _, mn, mx, n, _) =>
      f""""$k":{"min":$mn%.4f,"max":$mx%.4f,"runs":$n}"""
    }.mkString("{", ",", "}")
    val io = results.map { case (k, _, _, _, _, (sw, ms, ds)) =>
      f""""$k":{"shuffle_write_mb":$sw%.2f,"mem_spill_mb":$ms%.2f,"disk_spill_mb":$ds%.2f}"""
    }.mkString("{", ",", "}")
    // EXPECTED BANDS for the historically volatile queries (r11+r12
    // measured min/max on unchanged plans, padded for host noise):
    // committed with every run so drift vs noise is adjudicable from
    // the artifact alone — a median outside its band is a finding, a
    // wide spread inside it is weather.
    // lows are generous: pre-warming (r13) pulled several medians below
    // their historical minima, and "suspiciously fast" is a weaker
    // signal than the his' "regressed" — the hi edge is the gate
    // ONE-SHOT RE-BASE, r20 (named cause): the timed action switched
    // from count() to the guide §1.4 noop sink in this same commit, so
    // every query now pays for EVERY output column — the r19
    // NoopProbeTool audit measured count() under-timing q_pii_redact
    // 3.9x and the LM xent score family 2.9x, and the first noop-timed
    // full run (quiet host, reps=3) moved the suite 94.0 -> 118.3 s
    // with the newly visible work concentrated in the LM served twins
    // (mkn5_served 0.8 -> 4.2), q_text_fingerprint (0.1 -> 2.9, the md5
    // columns count() pruned) and q_semdedup_cdist (0.1 -> 2.5). Every
    // band: hi = 2.5x that run's noop median (floor 1.0 s so sub-second
    // queries keep weather headroom), lo carried over unchanged (all
    // noop medians sit above their old lo). Six queries whose noop
    // median cleared ~1 s without a curated band are banded from birth
    // here (q_text_fingerprint crossed the 2.5 s floor outright). The
    // count()-era bands and their per-band history live in git
    // (r19 Bench.scala); count()-era numbers remain in history/BENCH_r01..r19.
    // Per-band comment = the r20 noop median the hi derives from.
    val expectedBands = Seq(
      "q_ann_delete" -> ((0.28, 2.14)), // r20 noop median 0.86
      "q_ann_ingest" -> ((0.20, 1.77)), // r20 noop median 0.71
      "q_ann_opq" -> ((0.50, 3.68)), // r20 noop median 1.47
      "q_ann_opq_res" -> ((0.30, 2.57)), // r20 noop median 1.03
      "q_ann_pq_res_pruned" -> ((0.20, 2.25)), // r20 noop median 0.90
      "q_ann_serve" -> ((0.20, 1.90)), // r20 noop median 0.76
      "q_audio_dedup" -> ((0.10, 1.00)), // r20 noop median 0.37
      "q_audio_dedup_keep" -> ((0.15, 2.23)), // r20 noop median 0.89
      "q_audio_dedup_verified" -> ((0.12, 1.28)), // r20 noop median 0.51
      "q_bm25" -> ((0.40, 2.54)), // r20 noop median 1.02
      "q_bm25_batch" -> ((0.22, 1.46)), // r20 noop median 0.58
      "q_bm25_phrase_batch" -> ((0.25, 1.84)), // r20 noop median 0.74
      "q_bm25_served" -> ((0.22, 1.31)), // r20 noop median 0.52
      "q_bm25_topk" -> ((0.70, 4.49)), // r20 noop median 1.79
      "q_bpe_encode" -> ((0.22, 3.60)), // r20 noop median 1.44
      "q_bpe_encode_pre" -> ((0.80, 7.50)), // r20 noop median 3.00
      "q_curate" -> ((0.60, 3.49)), // r20 noop median 1.39
      "q_curate_classified" -> ((0.30, 3.51)), // r20 noop median 1.40
      "q_curate_full" -> ((0.60, 4.15)), // r20 noop median 1.66
      "q_curate_lm" -> ((0.30, 4.28)), // r20 noop median 1.71
      "q_curate_semantic" -> ((0.45, 2.55)), // r20 noop median 1.02
      "q_decontaminate_phrase" -> ((0.45, 2.74)), // r20 noop median 1.09
      // lo 1.70 -> 0.60 (named cause): the carried count()-era lo predates
      // this round's CC optimization (largeStar dedup removal) — the
      // post-optimization quiet noop median is 1.36, an IMPROVEMENT the
      // in_band flag would mis-read as drift (the r14 q_semdedup_lsh
      // precedent); hi stays the regression gate
      "q_dedup_clusters" -> ((0.60, 5.10)), // r20 noop median 2.04 pre-opt
      "q_dedup_index" -> ((0.22, 1.71)), // r20 noop median 0.68
      "q_dedup_index_banded" -> ((0.35, 2.34)), // r20 noop median 0.93
      "q_dedup_index_delete" -> ((0.28, 2.20)), // r20 noop median 0.88
      "q_dedup_index_ingest" -> ((0.30, 2.07)), // r20 noop median 0.83
      "q_dedup_minhash" -> ((0.60, 3.08)), // r20 noop median 1.23
      "q_dedup_span_trim" -> ((0.20, 3.66)), // r20 noop median 1.47
      "q_dedup_spans" -> ((0.25, 1.37)), // r20 noop median 0.55
      "q_dedup_spans_index" -> ((0.25, 1.13)), // r20 noop median 0.45
      "q_dedup_spans_index_bucketed" -> ((0.25, 1.58)), // r20 noop median 0.63
      "q_embed_clusters" -> ((0.45, 3.25)), // r20 noop median 1.30
      // lo 0.60 -> 0.25 (named cause): quiet-host noop median 0.58 on an
      // unchanged plan sat under the carried lo — lows generous by house
      // rule, the hi edge is the gate
      "q_embed_lsh_pairs" -> ((0.25, 1.90)), // r20 noop median 0.76
      "q_hybrid_rrf" -> ((0.25, 3.90)), // r20 noop median 1.56
      "q_image_dedup" -> ((0.40, 3.61)), // r20 noop median 1.44
      "q_image_dedup_index" -> ((0.10, 1.50)), // r20 noop median 0.60
      "q_image_dedup_keep" -> ((0.40, 5.03)), // r20 noop median 2.01
      "q_image_dedup_verified" -> ((0.20, 3.84)), // r20 noop median 1.54
      "q_interval_join_auto" -> ((0.12, 1.00)), // r20 noop median 0.26
      // lo lowered 1.00 -> 0.40 (named cause): the carried count()-era lo
      // sat ON the noop median (1.10 first run, 0.97 second — an idle
      // host records a red in_band on an unchanged plan); lows are
      // generous by house rule, the hi edge is the gate
      "q_interval_join_bucketed" -> ((0.40, 2.74)), // r20 noop median 1.10
      "q_lm_xent" -> ((0.35, 3.31)), // r20 noop median 1.32
      "q_lm_xent_interp" -> ((0.30, 3.20)), // r20 noop median 1.28
      "q_lm_xent_kn" -> ((0.30, 3.29)), // r20 noop median 1.32
      "q_lm_xent_kn3" -> ((0.80, 6.13)), // r20 noop median 2.45
      "q_lm_xent_kn3_served" -> ((0.25, 3.68)), // r20 noop median 1.47
      "q_lm_xent_kn5" -> ((1.80, 14.79)), // r20 noop median 5.92
      "q_lm_xent_kn5_served" -> ((0.20, 8.72)), // r20 noop median 3.49
      "q_lm_xent_mkn" -> ((0.70, 6.30)), // r20 noop median 2.52
      "q_lm_xent_mkn5" -> ((1.20, 20.64)), // r20 noop median 8.26
      "q_lm_xent_mkn5_served" -> ((0.40, 10.49)), // r20 noop median 4.19
      "q_lm_xent_mkn_served" -> ((0.30, 4.77)), // r20 noop median 1.91
      "q_multimodal_pixels" -> ((0.05, 1.00)), // r20 noop median 0.18
      // lo 1.30 -> 0.50 (named cause): quiet-host noop median 1.13 on an
      // unchanged plan (the r19 GC-pressure fix keeps pulling this
      // suite-sensitive query down on idle hosts) sat under the carried lo
      "q_ngram_jaccard" -> ((0.50, 3.96)), // r20 noop median 1.59
      "q_quality_classifier" -> ((0.03, 1.00)), // r20 noop median 0.15
      "q_sample_budget" -> ((0.20, 1.95)), // r20 noop median 0.78
      "q_semdedup_cdist" -> ((0.10, 6.20)), // r20 noop median 2.48
      "q_semdedup_lsh" -> ((0.30, 2.79)), // r20 noop median 1.11
      "q_sql_frontend" -> ((0.18, 2.12)), // r20 noop median 0.85
      "q_text_fingerprint" -> ((0.10, 7.34)), // r20 noop median 2.94
      "q_text_repetition" -> ((0.15, 3.39)), // r20 noop median 1.36
      "q_video_dedup" -> ((0.15, 2.98)), // r20 noop median 1.19
      "q_video_dedup_keep" -> ((0.30, 4.41)), // r20 noop median 1.76
      "q_video_dedup_verified" -> ((0.25, 3.40))) // r20 noop median 1.36
    val medians = results.map(r => r._1 -> r._2).toMap
    val minsOf = results.map(r => r._1 -> r._3).toMap
    // PRIOR medians from the last run's bench_full.json, read BEFORE this
    // run overwrites it — the only history the floor-drift warning below
    // can compare against without a separate state file.
    val priorMedians = priorMediansFromFullRecord("bench_full.json")
    // SHOULDER FLOOR (r17): every query WITHOUT a curated band above
    // gets a synthesized (0.02, 2.50) band. Cause: the r16 executable
    // gate ("every >1 s median must be banded") fired on PURE WEATHER —
    // a loaded host ran q_tpch_q1/q3 at 4–8× their idle ~0.25–0.5 s
    // medians, with even the best rep past 1 s (sub-second queries
    // inflate hardest: fixed scheduling/GC overhead contends first).
    // For a sub-second query the regression that MATTERS is crossing
    // seconds, so a floor hi of 2.5 s still catches a 10× plan
    // regression while no weather run can brick the round bench. The
    // curated entries above stay the tight gates for the heavies.
    val FloorLo = 0.02; val FloorHi = 2.50
    val floorBands = medians.keys.toSeq.sorted.collect {
      case k if !expectedBands.exists(_._1 == k) => k -> ((FloorLo, FloorHi))
    }
    // EXECUTABLE band-coverage rule (r16 verdict "What's wrong #1"),
    // weather-hardened: a query with no CURATED band fails the run only
    // past the floor hi — a genuinely hot new query (seconds-scale) must
    // be banded by hand with a named cause; a weather-inflated
    // sub-second query stays inside its floor band. The JSON record
    // still prints first, then the run fails loudly.
    val unbandedHot = medians.collect {
      case (k, m) if m > FloorHi && !expectedBands.exists(_._1 == k) => (k, m)
    }.toSeq.sortBy(-_._2)
    // CURATED-band gate, re-armed weather-robustly (r17 verdict "What's
    // wrong #1"): r17's gate could record a curated query outside its
    // band in the JSON yet still exit 0 — six red bands shipped under
    // rc=0. Gating on the MEDIAN would re-introduce the weather-brick
    // the floor bands exist to prevent (a loaded host inflates every
    // rep's median), so the gate fires on MIN-OF-REPS > hi: under
    // transient load some rep still lands near true cost (r17's weather
    // queries all had in-band minima, e.g. q_decontaminate_phrase min
    // 1.29 / max 16.09), while a genuine plan regression keeps EVERY rep
    // above the band. Distinct exit code (4) so the driver can tell
    // "re-run on a quieter host / re-base with a named cause" from the
    // unbanded-hot finding (3).
    val curatedRed = curatedBandMinFailures(expectedBands, minsOf)
    // Floor-DRIFT warning (r17 advice): the (0.02, 2.50) floor lets a
    // sub-second query regress 10–50× silently as long as it stays under
    // 2.5 s. Compare each floor-banded query's median against the
    // previous run's — a WARNING, not an exit: a drift of this magnitude
    // is a curation trigger (band it with a commit-named cause), and the
    // prior record may itself be a loaded-host artifact.
    floorDriftWarnings(floorBands.map(_._1), medians, priorMedians)
      .foreach { case (k, now, prior) =>
        System.err.println(f"[bench] WARNING: floor-banded $k median " +
          f"$now%.2fs is ${now / prior}%.1fx its previous run's " +
          f"$prior%.2fs - still under the ${FloorHi}%.1fs floor, but a " +
          "drift this size deserves a curated band with a named cause")
      }
    // a band whose query vanished from the suite is a LOST gate, not a
    // pass — surface it loudly instead of silently omitting the entry
    expectedBands.collect { case (k, _) if !medians.contains(k) => k } match {
      case missing if missing.nonEmpty =>
        System.err.println(s"[bench] WARNING: banded queries missing from " +
          s"this run (renamed/dropped?): ${missing.mkString(", ")}")
      case _ =>
    }
    val bands = (expectedBands ++ floorBands).collect {
      case (k, (lo, hi)) if medians.contains(k) =>
        val m = medians(k)
        f""""$k":{"lo":$lo%.2f,"hi":$hi%.2f,"median":$m%.4f,"in_band":${m >= lo && m <= hi}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // ATTRIBUTION for q_bm25 (the r13 verdict's ask): its timed body is
    // build + serve in one plan — the positional postings land their
    // sort_array/collect_list cost in the BUILD half, invisible in the
    // single number. Measure the halves separately (median-of-reps,
    // same isolation) so a build-side schema tax can never masquerade
    // as a serving regression. Untimed by the suite: runs after the
    // timed loop, and only when q_bm25 itself ran.
    val attribution =
      if (!medians.contains("q_bm25")) "{}"
      else {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        import graft.operators.TextIndex
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        def med(drop: Boolean)(body: () => Unit): Double =
          (0 until reps).map { _ =>
            if (drop) dropPersistedState()
            else { System.gc(); Thread.sleep(200) } // settle without
            // unpersisting (the serve half reads the build's checkpoint)
            val t0 = System.nanoTime()
            body()
            (System.nanoTime() - t0) / 1e9
          }.sorted.apply(reps / 2)
        val buildSecs = med(drop = true) { () =>
          // build() eagerly materializes the postings aggregate and runs
          // the scalar pass — the build half, exactly as q_bm25 pays it
          TextIndex.build(docs, "doc_id", "text"); ()
        }
        val ix = TextIndex.build(docs, "doc_id", "text")
        val serveSecs = med(drop = false) { () =>
          TextIndex.bm25(ix, "doc_id", "spark hash join stream")
            .agg(count(lit(1)), sum("score")).head(); ()
        }
        dropPersistedState()
        f"""{"q_bm25":{"build_secs":$buildSecs%.4f,"serve_secs":$serveSecs%.4f,""" +
          f""""note":"timed q_bm25 = build + serve in one body; the positional sort_array/collect_list tax lands in build_secs"}}"""
      }
    // same discipline for the suite's most expensive query: q_ann_pq's
    // timed body is corpus ENCODE (per-subspace argmin against the
    // cached codebooks — training rides the pre-warm, outside every
    // timed body) + the ADC serve. The encode half is measured here;
    // the serve half is already pinned by q_ann_pq_served's median
    // (same oracle from the persisted code table), referenced so the
    // split is adjudicable from this one artifact.
    val attributionPq =
      if (!medians.contains("q_ann_pq")) "{}"
      else {
        import org.apache.spark.sql.functions.col
        import graft.operators.Similarity
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val cb = Similarity.trainPq(e, "vec_id", "embedding", m = 8, ksub = 16)
        val encodeSecs = (0 until reps).map { _ =>
          dropPersistedState()
          val t0 = System.nanoTime()
          // xxhash64 over the code array forces the FULL encode per row
          // (a bare count() would let column pruning drop the codes and
          // time an empty scan); bit_xor aggregates the hashes without
          // the long overflow a sum() hits under ANSI mode
          Similarity.buildPqIndex(e, "vec_id", "embedding", "label", cb)
            .selectExpr("bit_xor(xxhash64(pq_codes)) AS h").head()
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(reps / 2)
        dropPersistedState()
        val servedMed = medians.getOrElse("q_ann_pq_served", -1.0)
        f"""{"q_ann_pq":{"encode_secs":$encodeSecs%.4f,""" +
          f""""serve_twin_secs":$servedMed%.4f,""" +
          f""""note":"timed q_ann_pq = corpus encode (native nearest_centroid loop; codebook training rides the pre-warm cache) + ADC serve; q_ann_pq_served pins the steady-state serve half from the persisted code table"}}"""
      }
    // ...its OPQ sibling: the rotate+encode half vs the persisted-codes
    // serve half (the band comment's 1.4-vs-0.4 split, made a number)
    val attributionOpq =
      if (!medians.contains("q_ann_opq")) "{}"
      else {
        import graft.operators.Similarity
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val (rot, cbO) = Similarity.trainOpq(e, "vec_id", "embedding",
          m = 8, ksub = 16)
        val encodeSecs = (0 until reps).map { _ =>
          dropPersistedState()
          val t0 = System.nanoTime()
          Similarity.buildOpqIndex(e, "vec_id", "embedding", "label", rot, cbO)
            .selectExpr("bit_xor(xxhash64(pq_codes)) AS h").head()
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(reps / 2)
        dropPersistedState()
        val servedMed = medians.getOrElse("q_ann_opq_served", -1.0)
        f"""{"q_ann_opq":{"encode_secs":$encodeSecs%.4f,""" +
          f""""serve_twin_secs":$servedMed%.4f,""" +
          f""""note":"timed q_ann_opq = corpus rotate+encode (native dot_product rotation + nearest_centroid loop; rotation/codebook training rides the pre-warm cache) + rotated ADC serve; q_ann_opq_served pins the steady-state serve half from the persisted code table"}}"""
      }
    // ...and for the suite's most expensive query outright: q_lm_xent_kn5
    // trains the order-5 model (the materialized 5-gram table, the
    // continuation cascade, and two corpus-scan counts) then self-scores
    // in one timed body. The train half is measured here; the score half
    // is pinned by q_lm_xent_kn5_served's median (the persisted pruned
    // model, same oracle family), referenced so the split is adjudicable
    // from this one artifact.
    val attributionKn5 =
      if (!medians.contains("q_lm_xent_kn5")) "{}"
      else {
        import graft.operators.LanguageModel
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val trainSecs = (0 until reps).map { _ =>
          dropPersistedState()
          val t0 = System.nanoTime()
          LanguageModel.trainKneserNeyN(docs, "text", order = 5)
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(reps / 2)
        dropPersistedState()
        val servedMed = medians.getOrElse("q_lm_xent_kn5_served", -1.0)
        f"""{"q_lm_xent_kn5":{"train_secs":$trainSecs%.4f,""" +
          f""""score_twin_secs":$servedMed%.4f,""" +
          f""""note":"timed q_lm_xent_kn5 = order-5 train (materialized 5-gram table + continuation cascade + two corpus-scan counts) + self-score; q_lm_xent_kn5_served pins the score half against the persisted pruned model"}}"""
      }
    // ...and its order-3 sibling (the r14 verdict's #1: kn3 was the
    // suite's most expensive AND most volatile query, unattributed).
    // Since r15 kn3 serves through the generic KN-N cascade — one code
    // path with kn5 — and gets the same train/score split: the train
    // half measured here, the score half pinned by the served twin.
    val attributionKn3 =
      if (!medians.contains("q_lm_xent_kn3")) "{}"
      else {
        import graft.operators.LanguageModel
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val trainSecs = (0 until reps).map { _ =>
          dropPersistedState()
          val t0 = System.nanoTime()
          LanguageModel.trainKneserNeyN(docs, "text", order = 3)
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(reps / 2)
        dropPersistedState()
        val servedMed = medians.getOrElse("q_lm_xent_kn3_served", -1.0)
        f"""{"q_lm_xent_kn3":{"train_secs":$trainSecs%.4f,""" +
          f""""score_twin_secs":$servedMed%.4f,""" +
          f""""note":"timed q_lm_xent_kn3 = order-3 train (generic KN-N cascade since r15 — one code path with kn5) + self-score; q_lm_xent_kn3_served pins the score half against the persisted pruned model"}}"""
      }
    // ...and the r16 heaviest outright: q_lm_xent_mkn5 trains the
    // order-5 MODIFIED model (the kn5 cascade plus bucketed context
    // tables and five count-of-counts discount probes) then
    // self-scores. Same train/score split discipline.
    val attributionMkn5 =
      if (!medians.contains("q_lm_xent_mkn5")) "{}"
      else {
        import graft.operators.LanguageModel
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val trainSecs = (0 until reps).map { _ =>
          dropPersistedState()
          val t0 = System.nanoTime()
          LanguageModel.trainModifiedKneserNeyN(docs, "text", order = 5)
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(reps / 2)
        dropPersistedState()
        val servedMed = medians.getOrElse("q_lm_xent_mkn5_served", -1.0)
        f"""{"q_lm_xent_mkn5":{"train_secs":$trainSecs%.4f,""" +
          f""""score_twin_secs":$servedMed%.4f,""" +
          f""""note":"timed q_lm_xent_mkn5 = order-5 modified-KN train (kn5 cascade + bucketed context tables + five bounded count-of-counts probes) + self-score; q_lm_xent_mkn5_served pins the score half against the persisted pruned model"}}"""
      }
    val attributionAll = {
      val parts = Seq(attribution, attributionPq, attributionOpq,
        attributionKn3, attributionKn5, attributionMkn5)
        .filter(_ != "{}")
      if (parts.isEmpty) "{}"
      else parts.map(p => p.drop(1).dropRight(1)).mkString("{", ",", "}")
    }
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
        s""""queries":$qs,"spread":$spread,"io":$io,"bands":$bands,""" +
        s""""attribution":$attributionAll,"sf":"$sfDir"}"""
    // full record (timings + io) goes to DISK so no tail-capture of stdout
    // can ever clip it; stdout keeps the contract's ONE compact JSON line,
    // printed LAST so a tail capture always retains it (io metrics live in
    // bench_full.json and, for humans, on stderr)
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] bench_full.json: ${e.getMessage}") }
    System.err.println(s"""[bench] io: $io""")
    System.err.println(s"""[bench] spread: $spread""")
    val contractLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"queries":$qsShort,"sf":"$sfDir"}"""
    // the driver tail-captures ~2000 bytes of stdout: past the cap it
    // records parsed:null with no other symptom (it did in r08/r09 and
    // r12). DEGRADE DETERMINISTICALLY instead of overflowing: a
    // parseable headline without the per-query map (which lives in
    // bench_full.json regardless) strictly beats an unparseable line.
    // 1980: the capture clips at ~2000 (r12's 2084-byte line lost its
    // head); the newline is the only other byte on the final line
    // level-2 compaction (r14: 100 queries overflow the 1-decimal map
    // by ~30 B): drop "reps", shorten sf to its basename, and strip
    // the separator underscores from query names — deterministically
    // reversible against the canonical query list (collision-checked
    // below; on a collision this level is skipped). "names":"nosep"
    // marks the transformation in-band so a reader of history/BENCH_r{N}.json
    // knows to match names separator-free; full names + full precision
    // stay in bench_full.json, the record of note.
    val noSep = results.map { case (k, v, _, _, _, _) =>
      k.stripPrefix("q_").replace("_", "") -> v
    }
    val compactLine2 =
      if (noSep.map(_._1).distinct.size != noSep.size) None
      else Some {
        val m = noSep.map { case (k, v) => f""""$k":$v%.1f""" }
          .mkString("{", ",", "}")
        val sfBase = new java.io.File(sfDir).getName
        f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
          f""""names":"nosep","queries":$m,"sf":"$sfBase"}"""
      }
    // level-3 compaction (r15: 108 queries overflow the nosep map too —
    // 2039 B): abbreviate every `_`-separated name token to its first 3
    // chars PLUS any trailing digits (q_lm_xent_kn3_served → lmxenkn3ser,
    // q_lm_xent_mkn5 → lmxenmkn5 — r16: plain take(3) collapsed mkn5
    // onto mkn and the collision check silently dropped the whole map
    // to the no-map headline), collision-checked against the canonical
    // list (skipped on any collision); ~1.6 KB at 113 queries.
    // "names":"abbrev3" marks the transformation in-band — reversible by
    // applying the same rule to the canonical query list.
    val abbrev3 = results.map { case (k, v, _, _, _, _) =>
      k.stripPrefix("q_").split('_')
        .map(t => t.take(3) + t.drop(3).filter(_.isDigit)).mkString -> v
    }
    val compactLine3 =
      if (abbrev3.map(_._1).distinct.size != abbrev3.size) None
      else Some {
        val m = abbrev3.map { case (k, v) => f""""$k":$v%.1f""" }
          .mkString("{", ",", "}")
        val sfBase = new java.io.File(sfDir).getName
        f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
          f""""names":"abbrev3","queries":$m,"sf":"$sfBase"}"""
      }
    val safeLine =
      if (contractLine.length <= 1980) contractLine
      else (compactLine2.filter(_.length <= 1980) orElse
        compactLine3.filter(_.length <= 1980)) match {
        case Some(l2) =>
          System.err.println(s"[bench] contract line ${contractLine.length} B " +
            s"exceeds the ~2000-byte tail capture — emitting the ${l2.length} B " +
            "compacted map (full names in bench_full.json)")
          l2
        case None =>
          System.err.println(s"[bench] contract line ${contractLine.length} B " +
            "exceeds the ~2000-byte tail capture — emitting the headline " +
            "without the per-query map (full map in bench_full.json)")
          f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,""" +
            f""""n_queries":${results.size},"queries":{},""" +
            f""""queries_file":"bench_full.json","sf":"$sfDir"}"""
      }
    println(safeLine)
    spark.stop()
    // the executable coverage gate fires AFTER the artifact printed and
    // the session closed cleanly: the record of the run survives, the
    // exit code carries the finding
    if (curatedRed.nonEmpty)
      System.err.println("[bench] FAIL: curated bands exceeded by EVERY " +
        "rep (min-of-reps > hi - not weather; a loaded host leaves some " +
        "rep near true cost): " +
        curatedRed.map { case (k, mn, hi) => f"$k min=$mn%.2fs hi=$hi%.2fs" }
          .mkString(", ") +
        " - if a quiet re-run clears it, commit THAT artifact; if not, " +
        "find the plan regression or re-base with a commit-named cause")
    if (unbandedHot.nonEmpty) {
      System.err.println("[bench] FAIL: queries past the 2.5 s shoulder " +
        "floor with no curated band (add one to expectedBands with a " +
        "commit-named cause): " +
        unbandedHot.map { case (k, m) => f"$k=$m%.2fs" }.mkString(", "))
      sys.exit(3)
    }
    if (curatedRed.nonEmpty) sys.exit(4)
  }

  /** The curated-band regression gate, pure so BenchGateSpec can pin its
    * firing rule without running a bench: a curated query fails when its
    * MIN-of-reps exceeds the band hi — the weather-robust form (transient
    * load inflates medians but usually leaves one rep near true cost; a
    * plan regression keeps every rep above the band). Queries whose every
    * rep failed (min −1) are the correctness gate's finding, not this
    * one's. Returns `(name, min, hi)` per failure. */
  private[graft] def curatedBandMinFailures(
      curated: Seq[(String, (Double, Double))],
      mins: Map[String, Double]): Seq[(String, Double, Double)] =
    curated.collect {
      case (k, (_, hi)) if mins.get(k).exists(mn => mn >= 0 && mn > hi) =>
        (k, mins(k), hi)
    }

  /** Floor-banded queries whose median drifted past `factor`× the
    * previous run's median AND past `minAbs` seconds (sub-10 ms noise
    * never warns) — pure, spec-pinned. Returns `(name, median, prior)`. */
  private[graft] def floorDriftWarnings(
      floorKeys: Seq[String], medians: Map[String, Double],
      prior: Map[String, Double], factor: Double = 5.0,
      minAbs: Double = 0.25): Seq[(String, Double, Double)] =
    floorKeys.collect {
      case k if prior.get(k).exists(p => p > 0 && medians.get(k).exists(m =>
        m > p * factor && m > minAbs)) => (k, medians(k), prior(k))
    }

  /** Parse the per-query median map out of a previous run's
    * bench_full.json (the `"queries":{...}` object — flat name→seconds,
    * written by this same main). Absent/unreadable/malformed files give
    * an empty history: the floor-drift warning silently disarms rather
    * than failing a bench over its own telemetry. */
  private[graft] def priorMediansFromFullRecord(path: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val start = s.indexOf("\"queries\":{")
        if (start < 0) Map.empty
        else {
          val body = s.substring(start + "\"queries\":{".length,
            s.indexOf('}', start))
          """"([A-Za-z0-9_]+)":(-?[0-9.eE+-]+)""".r.findAllMatchIn(body)
            .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble)
              .toOption)
            .toMap
        }
      }
    } catch { case _: Throwable => Map.empty }

  // ---- scale harnesses: shared pieces ----

  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  private val MB = 1024.0 * 1024.0

  /** Log-log least-squares slope, shared by every scale harness so their
    * artifacts stay comparable by construction. */
  private[graft] def logLogSlope(sizes: Seq[Int], ys: Seq[Double]): Double = {
    val lx = sizes.map(n => math.log(n.toDouble))
    val ly = ys.map(math.log)
    val mx = lx.sum / lx.size; val my = ly.sum / ly.size
    lx.zip(ly).map { case (a, b) => (a - mx) * (b - my) }.sum /
      lx.map(a => (a - mx) * (a - mx)).sum
  }

  /** Log-log slopes between consecutive ladder points — a healthy overall
    * fit can hide a super-linear tail. */
  private[graft] def segmentSlopes(sizes: Seq[Int], ys: Seq[Double]): Seq[Double] =
    sizes.zip(ys).sliding(2).map { case Seq((n1, t1), (n2, t2)) =>
      math.log(t2 / t1) / math.log(n2.toDouble / n1)
    }.toSeq

  /** Try-parse SPARK_GRAFT_REPS: a malformed value degrades to the
    * default instead of crashing the run before any query executes. */
  private def repsFromEnv(default: Int = 3): Int =
    math.max(1, sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(default))

  /** Task IO of one timed rep, read after the listener bus drained. */
  private[graft] final case class Io(shuffleMb: Double, inputMb: Double)

  /** Median-of-reps timing: `secs` is the upper median (the middle rep of
    * an odd count, the upper of the two middle reps of an even one), `io`
    * the IO of that same rep — so secs and MB describe one run — and
    * `last` the body's result on the final rep. */
  private[graft] final case class Timed[A](secs: Double, min: Double, max: Double,
                                           io: Io, last: A)

  private[graft] def summarize[A](runs: Seq[(Double, Io)], last: A): Timed[A] = {
    val byTime = runs.sortBy(_._1)
    val (med, io) = byTime(byTime.size / 2)
    Timed(med, byTime.head._1, byTime.last._1, io, last)
  }

  /** Runs `body` `reps` times, `before` ahead of each run and `io` after
    * its timer stopped; only `body` is inside the timed window. */
  private[graft] def timed[A](reps: Int, before: () => Unit, io: () => Io)(body: => A): Timed[A] = {
    var last: Option[A] = None
    val runs = (0 until reps).map { _ =>
      before()
      val t0 = System.nanoTime()
      last = Some(body)
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, io())
    }
    summarize(runs, last.get)
  }

  /** One run of `body`: its result and wall seconds. */
  private def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One ladder point's measurements, by column name. */
  private[graft] final class Point(val cols: Map[String, Any]) {
    def apply(k: String): Any = cols(k)
    def l(k: String): Long = cols(k) match { case n: Int => n.toLong; case n: Long => n }
    def d(k: String): Double = cols(k) match {
      case n: Double => n; case n: Int => n.toDouble; case n: Long => n.toDouble
    }
    def ++(kvs: (String, Any)*): Point = new Point(cols ++ kvs)
    /** `name`, `name_min` and `name_max` of a timed measurement. */
    def spread(name: String, t: Timed[_]): Point =
      this ++ (name -> t.secs, s"${name}_min" -> t.min, s"${name}_max" -> t.max)
  }

  private[graft] object Point {
    def apply(kvs: (String, Any)*): Point = new Point(kvs.toMap)
  }

  /** One JSON object, built key by key in output order. Integers,
    * booleans, strings, sequences and nested records render as written;
    * doubles only through an explicit format, always with a '.' decimal
    * separator whatever the default locale. Per-point columns render as
    * one array per column; slopes are fitted against the `sizes` column. */
  private[graft] final class Record {
    private val fields = collection.mutable.ArrayBuffer.empty[String]

    private def add(k: String, v: String): Record = { fields += s""""$k":$v"""; this }
    def put(k: String, v: Any): Record = add(k, Record.json(v))
    def num(k: String, v: Double, fmt: String = "%.3f"): Record = add(k, Record.fmt(fmt, v))
    def nums(k: String, vs: Seq[Double], fmt: String = "%.3f"): Record =
      add(k, vs.map(Record.fmt(fmt, _)).mkString("[", ",", "]"))
    def cols(pts: Seq[Point], ks: String*): Record =
      ks.foldLeft(this)((r, k) => r.put(k, pts.map(_(k))))
    def fmt(fmt: String, pts: Seq[Point], ks: String*): Record =
      ks.foldLeft(this)((r, k) => r.nums(k, pts.map(_.d(k)), fmt))
    def secs(pts: Seq[Point], ks: String*): Record = fmt("%.3f", pts, ks: _*)
    def mb(pts: Seq[Point], ks: String*): Record = fmt("%.2f", pts, ks: _*)
    /** The three columns of a [[Point.spread]]. */
    def spread(pts: Seq[Point], name: String): Record =
      secs(pts, name, s"${name}_min", s"${name}_max")
    /** Log-log slope of column `y` over `sizes`; `floor` keeps a column
      * that can legitimately read 0 (a shuffle-free serve) out of log(0). */
    def slope(k: String, pts: Seq[Point], y: String,
              floor: Double = Double.NegativeInfinity): Record =
      num(k, logLogSlope(Record.sizes(pts), pts.map(p => math.max(p.d(y), floor))))
    def segmentSlopes(k: String, pts: Seq[Point], y: String): Record =
      nums(k, Bench.segmentSlopes(Record.sizes(pts), pts.map(_.d(y))))
    def render: String = fields.mkString("{", ",", "}")
  }

  private[graft] object Record {
    def metric(name: String): Record = new Record().put("metric", name)
    def fmt(f: String, v: Double): String = f.formatLocal(java.util.Locale.ROOT, v)
    private def sizes(pts: Seq[Point]): Seq[Int] = pts.map(_.l("sizes").toInt)
    private def json(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case r: Record => r.render
      case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
      case n @ (_: Int | _: Long | _: Boolean) => n.toString
      case other => throw new IllegalArgumentException(
        s"no JSON form for $other: format doubles with num/nums")
    }
  }

  /** What a scale harness runs against: `main`'s session, the data dir,
    * the rep count, `main`'s drop-and-settle barrier and its task-metrics
    * listener. */
  private[graft] final class Ctx(val spark: SparkSession, val sfDir: String, val reps: Int,
                                 dropState: () => Unit, listener: TaskMetricsListener) {
    def drop(): Unit = dropState()
    /** Median of `reps` runs of `body`, each after [[drop]]. */
    def timed[A](body: => A): Timed[A] = timedAfter(())(body)
    /** [[timed]] with an untimed `prep` between the drop and the timer. */
    def timedAfter[A](prep: => Unit)(body: => A): Timed[A] =
      Bench.timed(reps, () => { dropState(); prep; listener.reset() }, () => readIo())(body)
    private def readIo(): Io = {
      org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
      Io(listener.shuffleWrite.get / MB, listener.inputBytes.get / MB)
    }
    def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def embeddings: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    /** Writes the record, closed by `sf`, to `file` and prints it. */
    def emit(file: String, r: Record): Unit = {
      val line = r.put("sf", sfDir).render
      try java.nio.file.Files.write(java.nio.file.Paths.get(file),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] $file: ${e.getMessage}") }
      println(line)
    }
  }

  /** One `SPARK_GRAFT_SCALE_*` harness: the env var that selects it, the
    * artifact it writes, the session configs it needs at creation time,
    * and the body that measures and returns the record. */
  private[graft] final case class Harness(env: String, file: String,
                                          sessionConf: Map[String, String] = Map.empty)(
      val run: Ctx => Record)

  /** Every scale harness, in selection order: `main` runs the first one
    * whose env var is set. The claims and committed values are catalogued
    * in COVERAGE.md. */
  private[graft] val harnesses: Seq[Harness] = Seq(
    Harness("SPARK_GRAFT_SCALE_SLOPE", "bench_scale.json")(scaleSlope),
    Harness("SPARK_GRAFT_SCALE_SLOPE_EMBED", "bench_scale_embed.json")(scaleSlopeEmbed),
    Harness("SPARK_GRAFT_SCALE_SLOPE_INTERVAL", "bench_scale_interval.json")(scaleSlopeInterval),
    Harness("SPARK_GRAFT_SCALE_SLOPE_SIMHASH", "bench_scale_simhash.json")(scaleSlopeSimhash),
    Harness("SPARK_GRAFT_SCALE_SLOPE_CURATE", "bench_scale_curate.json")(scaleSlopeCurate),
    Harness("SPARK_GRAFT_SCALE_SLOPE_INDEX", "bench_scale_index.json")(scaleSlopeIndex),
    Harness("SPARK_GRAFT_SCALE_SLOPE_KMEANS", "bench_scale_kmeans.json")(scaleSlopeKmeans),
    Harness("SPARK_GRAFT_SCALE_SLOPE_IVF", "bench_scale_ivf.json")(scaleSlopeIvf),
    Harness("SPARK_GRAFT_SCALE_SPANS", "bench_scale_spans.json")(scaleSlopeSpans),
    Harness("SPARK_GRAFT_SCALE_SPAN_INDEX", "bench_scale_span_index.json")(scaleSpanIndexServing),
    Harness("SPARK_GRAFT_SCALE_COMPACT", "bench_scale_compact.json")(scaleCompaction),
    Harness("SPARK_GRAFT_SCALE_IVF_LIFECYCLE", "bench_scale_ivf_lifecycle.json")(scaleIvfLifecycle),
    Harness("SPARK_GRAFT_SCALE_RECALL", "bench_scale_recall.json")(scaleRecallNprobe),
    Harness("SPARK_GRAFT_SCALE_OPQ", "bench_scale_opq.json")(scaleSlopeOpq),
    Harness("SPARK_GRAFT_SCALE_LM", "bench_scale_lm.json")(scaleLmBpe),
    Harness("SPARK_GRAFT_SCALE_BM25", "bench_scale_bm25.json")(scaleBm25Serving),
    Harness("SPARK_GRAFT_SCALE_CURATE_STREAM", "bench_scale_curate_stream.json")(scaleCurateStream),
    // spark.scheduler.mode is read only when the context is created
    Harness("SPARK_GRAFT_SCALE_CONCURRENT", "bench_scale_concurrent.json",
      Map("spark.scheduler.mode" -> "FAIR"))(scaleConcurrentServing),
    Harness("SPARK_GRAFT_SCALE_QC", "bench_scale_qc.json")(scaleQualityClassifier),
    Harness("SPARK_GRAFT_SCALE_MM", "bench_scale_multimodal.json")(scaleMultimodalDedup))

  private def idSpan(df: DataFrame, c: String): Long = df.agg(max(c)).head().getLong(0) + 1

  /** Replicas `0 until n`, unioned: one ladder point's corpus. */
  private def replicas(n: Int)(replica: Int => DataFrame): DataFrame =
    (0 until n).map(replica).reduce(_ unionByName _)

  /** Exact replica linearity: each column at size k is k times its 1x value. */
  private def requireLinear(pts: Seq[Point], what: String, ks: String*): Unit =
    pts.foreach { p =>
      val n = p.l("sizes")
      require(ks.forall(k => p.l(k) == pts.head.l(k) * n),
        s"$what at ${n}x: ${ks.mkString("/")} (${ks.map(p.l).mkString(",")}) vs 1x " +
          s"(${ks.map(pts.head.l).mkString(",")})")
    }

  private def treeBytes(f: java.io.File, keep: java.io.File => Boolean = _ => true): Long =
    if (f.isFile) (if (keep(f)) f.length else 0L)
    else Option(f.listFiles).getOrElse(Array.empty).map(treeBytes(_, keep)).sum

  private def parquetBytes(path: String): Long =
    treeBytes(new java.io.File(path), _.getName.endsWith(".parquet"))

  private def parquetFiles(path: String): Int =
    Option(new java.io.File(path).listFiles).getOrElse(Array.empty).map(f =>
      if (f.isDirectory) parquetFiles(f.getPath)
      else if (f.getName.endsWith(".parquet")) 1 else 0).sum

  /** Data files in a catalog table's location. */
  private def tableFiles(spark: SparkSession, t: String): Int = {
    val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
      .location.toString))
    Option(loc.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  private def dropTables(spark: SparkSession, prefix: String, suffixes: String*): Unit =
    suffixes.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$s"))

  /** A temporary directory for `body`, deleted afterwards. */
  private def withWork[A](prefix: String)(body: String => A): A = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }

  /** Per-replica bijective character rotation over a `(doc_id, text)`
    * frame — shared by the text scale harnesses: within-replica
    * near-dup/shingle structure is preserved exactly (a bijection on the
    * alphabet never merges or splits tokens), cross-replica overlap
    * destroyed, so pair/contamination counts grow linearly in the
    * replica count. Letters AND digits rotate (digits mod 10), so a
    * token of pure numbers is replica-isolated too; the residual
    * assumption the exact-multiple requires below lean on is that no
    * full n-gram consists ONLY of punctuation-and-symbol tokens — such a
    * gram would be rotation-invariant and shared across replicas. */
  private def rotatedReplica(docs: DataFrame, idSpan: Long, k: Int): DataFrame = {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    val rot = alpha.drop(k % 26) + alpha.take(k % 26)
    // k % 26 == 0 with k % 10 != 0 (or vice versa) still rotates the
    // other class, so only k ≡ 0 (mod lcm(26,10)=130) is an identity —
    // far beyond any harness's replica ladder
    val drot = digits.drop(k % 10) + digits.take(k % 10)
    docs.select((col("doc_id") + lit(k * idSpan)).as("doc_id"),
      translate(col("text"), alpha + alpha.toUpperCase + digits,
        rot + rot.toUpperCase + drot).as("text"))
  }

  /** Replica `k` of the embeddings, ids shifted by `k·idStride`, each
    * vector flipped by a deterministic per-(replica, dimension) ±1
    * diagonal — an orthogonal transform: within-replica cosines are
    * EXACTLY preserved while cross-replica cosines decorrelate. Replica 0
    * is the identity, so the 1x point is the untransformed corpus. */
  private def signFlipped(base: DataFrame, k: Int, idStride: Long): DataFrame = {
    val signs =
      if (k == 0) transform(sequence(lit(1), lit(64)), _ => lit(1.0))
      else transform(sequence(lit(1), lit(64)),
        i => when(pmod(xxhash64(lit(k), i), lit(2)) === 0, 1.0).otherwise(-1.0))
    base.select((col("vec_id") + lit(k * idStride)).as("vec_id"),
      zip_with(col("embedding").cast("array<double>"), signs, (x, s) => x * s)
        .as("embedding"))
  }

  // ---- scale harnesses ----

  /** LSH scale-slope harness: replicate the documents corpus k× with a
    * per-replica bijective character rotation (within-replica near-dup
    * structure preserved exactly; cross-replica shingle overlap destroyed,
    * so pair counts grow LINEARLY in k) and time the full LSH dedup at
    * each size. Reports log-log slopes: near 1 = the candidate-generate-
    * verify claim holds; near 2 = something quadratic crept in.
    *
    * `cc_rounds`: large/small-star rounds to the fixed point per size — the
    * empirical side of the O(log n) convergence claim (flat-ish growth
    * across 16× replicas, never proportional to size). `cc_edge_trace`
    * pins the per-round EDGE VOLUME alongside (monotone contraction to
    * the star set, require-checked): rounds staying flat while an
    * intermediate round ballooned would be a hidden quadratic — the
    * trace makes that unconstructable silently. */
  private def scaleSlope(c: Ctx): Record = {
    import graft.operators.Dedup
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    // untimed warmup: codegen + JIT + shuffle-machinery init, so the 1×
    // point isn't inflated by first-run costs and slopes aren't skewed
    Dedup.duplicateClusters(Dedup.minhashDuplicates(
      Dedup.hashedWordShingles(replica(0), "doc_id", "text"), 0.8)).count()
    c.drop()
    val pts = Seq(1, 2, 4, 8, 16).map { n =>
      // NOT checkpointed: dropState() between timings would evict the
      // blocks mid-use; the union-of-translates re-scan is linear in n and
      // identical across both timed runs, so slopes are unaffected
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      def sh = Dedup.hashedWordShingles(corpus, "doc_id", "text")
      val pairs = c.timed(Dedup.minhashDuplicates(sh, 0.8).count())
      val e2e = c.timed {
        val (clusters, rounds, trace) = Dedup.duplicateClustersWithTrace(
          Dedup.minhashDuplicates(sh, 0.8))
        (clusters.count(), rounds, trace)
      }
      val (nClusters, ccRounds, ccTrace) = e2e.last
      // the trace must CONTRACT monotonically to the star edge set —
      // an intermediate blow-up would be the hidden quadratic the
      // rounds-flat headline could mask
      ccTrace.sliding(2).foreach {
        case Seq(a, b) => require(b <= a,
          s"CC edge volume grew mid-alternation at ${n}x: $ccTrace")
        case _ =>
      }
      c.drop()
      Point("sizes" -> n, "docs" -> nDocs, "pairs" -> pairs.last, "clusters" -> nClusters,
        "cc_rounds" -> ccRounds, "cc_edge_trace" -> ccTrace)
        .spread("pair_secs", pairs).spread("e2e_secs", e2e)
    }
    Record.metric("lsh_scale_slope").put("reps", c.reps)
      .cols(pts, "sizes", "docs", "pairs", "clusters")
      .spread(pts, "pair_secs").spread(pts, "e2e_secs")
      .cols(pts, "cc_rounds", "cc_edge_trace")
      .slope("slope_pairs", pts, "pair_secs").slope("slope_e2e", pts, "e2e_secs")
      .segmentSlopes("segment_slopes_pairs", pts, "pair_secs")
      .segmentSlopes("segment_slopes_e2e", pts, "e2e_secs")
  }

  /** Cosine-LSH scale-slope harness — the embedding twin of [[scaleSlope]]:
    * replicate the embeddings corpus k× through [[signFlipped]], so each
    * replica contributes the same near-dup structure while cross-replica
    * cosines decorrelate — pair counts grow linearly in k. Planted
    * near-dups per replica follow the q_embed_lsh_pairs construction.
    *
    * Measurement discipline (the r6 audit's asks): every timed point is
    * the MEDIAN of `reps` runs (single-shot numbers on this host swing
    * ±40%), the ladder reaches 16×, per-SEGMENT slopes are reported (a
    * healthy headline fit can hide a super-linear tail), and one
    * per-stage pass (prepare / candidates / verify, each materialized)
    * attributes whatever growth remains. Expected shape under
    * [[graft.operators.Similarity.lshGeometryFor]]: candidates and
    * verify grow linearly, while prepare carries the geometry's
    * `bands·bits ∝ log² n` per-row work — a slope of ~1.2-1.3 on that
    * stage is the LOG-FACTOR cost of holding per-pair recall fixed as
    * the corpus grows, not a quadratic path. */
  private def scaleSlopeEmbed(c: Ctx): Record = {
    import graft.operators.{Materialize, Similarity}
    val base = c.embeddings
    val span = idSpan(base, "vec_id")
    def replica(k: Int) = {
      val v = signFlipped(base, k, 0L)
      v.unionByName(v.select((col("vec_id") + span).as("vec_id"),
          concat(array(-element_at(col("embedding"), 1)), slice(col("embedding"), 2, 63))
            .as("embedding")))
        .select((col("vec_id") + lit(k * 2 * span)).as("vec_id"), col("embedding"))
    }
    // untimed warmup (codegen/JIT/shuffle init)
    Similarity.lshCosinePairs(replica(0), "vec_id", "embedding",
      dims = 64, minCosine = 0.95).count()
    c.drop()
    val pts = Seq(1, 2, 4, 8, 16).map { n =>
      val corpus = replicas(n)(replica)
      val nVecs = corpus.count()
      // geometry sized to the corpus — the sizing rule under test: with
      // bits ≈ log₂ n the candidate set stays linear; the fixed default
      // 24×8 measurably goes quadratic here (slope ~2 at 32k vectors)
      val (bands, bits) = Similarity.lshGeometryFor(nVecs, 0.95)
      val pairs = c.timed(Similarity.lshCosinePairs(corpus, "vec_id", "embedding",
        dims = 64, minCosine = 0.95, bands = bands, bitsPerBand = bits).count())
      // per-stage attribution pass: each stage materialized so the next
      // stage's timer measures only its own work
      c.drop()
      val (prepared, prepSecs) = clock(Similarity.lshPrepared(corpus, "vec_id",
        "embedding", 64, bands, bits)) // eager: the call runs the materialization job
      val (cands, candSecs) = clock(
        Materialize.eagerCheckpoint(Similarity.lshCandidates(prepared)))
      val nCands = cands.count()
      val (_, verifySecs) = clock(Similarity.lshVerify(prepared, cands, 0.95).count())
      c.drop()
      Point("sizes" -> n, "vecs" -> nVecs, "pairs" -> pairs.last, "cands" -> nCands,
        "bands" -> bands, "bits" -> bits, "prep_secs" -> prepSecs,
        "cand_secs" -> candSecs, "verify_secs" -> verifySecs).spread("secs", pairs)
    }
    Record.metric("cosine_lsh_scale_slope").put("reps", c.reps)
      .cols(pts, "sizes", "vecs", "pairs", "cands", "bands", "bits")
      .spread(pts, "secs").secs(pts, "prep_secs", "cand_secs", "verify_secs")
      .slope("slope", pts, "secs").segmentSlopes("segment_slopes", pts, "secs")
  }

  /** Interval-join scale-slope harness — the third measured scale path:
    * replicate the events table k× with per-replica user-id shifts (join
    * keys never cross replicas, so joined-row counts grow linearly),
    * derive each user's `[first, first+30min)` interval, and time the
    * BUCKETED interval join — the broadcast-free 100 TB shape — at each
    * size. The `(jid, bucket)` equi-join should be near-linear; slope
    * near 2 would mean a per-key all-pairs blowup crept back in. */
  private def scaleSlopeInterval(c: Ctx): Record = {
    import graft.operators.IntervalJoin
    // SparkEntry.tbl normalizes whichever ts encoding this testdata
    // generation shipped (long nanos / naive NTZ / zoned) to µs TIMESTAMP
    val ev0 = SparkEntry.tbl(c.spark, c.sfDir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    val span = idSpan(ev0, "user_id")
    def replica(k: Int) = ev0.select(
      (col("user_id") + lit(k * span)).as("user_id"), col("ts"), col("value"))
    def joined(ev: DataFrame) = {
      val acct = ev.groupBy(col("user_id").as("jid"))
        .agg(min("ts").as("start"))
        .withColumn("end", col("start") + expr("INTERVAL 30 MINUTES"))
      IntervalJoin.bucketed(
        ev.select(col("user_id").as("jid"), col("ts").as("Timestamp"), col("value")),
        acct, bucketMicros = 3600L * 1000000L)
    }
    joined(replica(0)).count() // untimed warmup
    c.drop()
    val pts = Seq(1, 2, 4, 8, 16).map { n =>
      val ev = replicas(n)(replica)
      val nEvents = ev.count()
      val t = c.timed(joined(ev).count())
      c.drop()
      Point("sizes" -> n, "events" -> nEvents, "joined" -> t.last).spread("secs", t)
    }
    Record.metric("interval_join_scale_slope").put("reps", c.reps)
      .cols(pts, "sizes", "events", "joined").spread(pts, "secs")
      .slope("slope", pts, "secs").segmentSlopes("segment_slopes", pts, "secs")
  }

  /** Curation-capstone scale-slope harness — evidence that the COMPOSED
    * production pipeline ([[graft.Pipeline.curate]]: decontaminate →
    * quality → LSH dup-removal → redact → split) scales, not just each
    * stage: replicate the documents corpus k× with [[rotatedReplica]]
    * (cross-replica shingle overlap destroyed ⇒ dup pairs and
    * contamination hits grow linearly), carve the same doc_id%97 eval set
    * per replica, and time the full composition median-of-`reps` at each
    * size. Slope near 1 = the composition inherits its stages'
    * candidate-generate-verify shape; near 2 = a cross-stage interaction
    * went quadratic. */
  private def scaleSlopeCurate(c: Ctx): Record = {
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    def curated(corpus: DataFrame) = {
      val evalSet = corpus.filter(pmod(col("doc_id"), lit(97)) === 0)
      val train = corpus.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      Pipeline.curate(train, evalSet)
    }
    curated(replica(0)).count() // untimed warmup
    c.drop()
    val pts = Seq(1, 2, 4, 8).map { n =>
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      val t = c.timed(curated(corpus).count())
      c.drop()
      Point("sizes" -> n, "docs" -> nDocs, "kept" -> t.last).spread("secs", t)
    }
    Record.metric("curate_scale_slope").put("reps", c.reps)
      .cols(pts, "sizes", "docs", "kept").spread(pts, "secs")
      .slope("slope", pts, "secs").segmentSlopes("segment_slopes", pts, "secs")
  }

  /** Span-profile scale harness — the evidence behind
    * [[graft.operators.Dedup.spanStats]]'s linear claim: replicate the
    * documents corpus k× with [[rotatedReplica]] (a bijection, so
    * WITHIN-replica span-equality structure is preserved exactly while
    * cross-replica overlap is destroyed), time the full profile
    * median-of-`reps` at each size, and record the span/shared-span/
    * flagged-doc totals untimed — with replica isolation, all three must
    * grow EXACTLY linearly in k, so the count columns double as a
    * correctness check of the harness itself. Slope near 1 = the
    * count-per-hash + equi-join shape stays linear in total tokens; near
    * 2 would mean a pairwise path crept in. */
  private def scaleSlopeSpans(c: Ctx): Record = {
    import graft.operators.Dedup
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    Dedup.spanStats(replica(0), "doc_id", "text", n = 8).count() // warmup
    c.drop()
    val pts = Seq(1, 2, 4, 8).map { n =>
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      val profile = c.timed(Dedup.spanStats(corpus, "doc_id", "text", n = 8).count())
      // the SURGERY path timed alongside: same linear stages plus the
      // per-doc rewrite — its removed-token total is replica-linear by
      // the same isolation argument and REQUIRED below with the rest
      val trim = c.timed(Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 8)
        .agg(sum("n_tokens_removed")).head().getLong(0))
      // claim columns, untimed: totals must scale exactly with k
      val t = Dedup.spanStats(corpus, "doc_id", "text", n = 8)
        .agg(sum("n_spans"), sum("n_shared_spans"),
          sum(when(col("shared_frac") > 0.5, 1L).otherwise(0L))).head()
      c.drop()
      Point("sizes" -> n, "docs" -> nDocs, "spans" -> t.getLong(0),
        "shared_spans" -> t.getLong(1), "flagged_docs" -> t.getLong(2),
        "trim_secs" -> trim.secs, "tokens_removed" -> trim.last).spread("secs", profile)
    }
    requireLinear(pts, "replica isolation violated",
      "spans", "shared_spans", "flagged_docs", "tokens_removed")
    Record.metric("span_profile_scale_slope").put("reps", c.reps).put("n", 8)
      .cols(pts, "sizes", "docs", "spans", "shared_spans", "flagged_docs")
      .spread(pts, "secs").secs(pts, "trim_secs").cols(pts, "tokens_removed")
      .slope("slope", pts, "secs").slope("trim_slope", pts, "trim_secs")
      .segmentSlopes("segment_slopes", pts, "secs")
  }

  /** LM + BPE training-economics harness. Two sections on DIFFERENT
    * replication axes, because the two operators scale on different
    * resources:
    *
    * LM section (ROTATED replicas — per-replica vocabularies disjoint,
    * verified collision-free for the ladder's Caesar shifts, so the
    * MODEL grows with the corpus — the honest axis for a count table):
    * per ladder size, train (bigram agg + derived contexts + V) and
    * self-score, medians over reps. Claim columns REQUIRED exact:
    * vocab, distinct bigrams and contexts all k· the 1× values, scored
    * rows = doc count. Train/score slopes reported.
    *
    * BPE section (PLAIN re-id'd replicas — the same text k×): the
    * design claim of training on the word-frequency table is that the
    * merge loop costs VOCAB, not corpus — k× more corpus multiplies
    * word counts by k but adds NO rows to the word table, so per-round
    * cost is flat and train time should barely move across the ladder
    * (slope ≈ the one corpus scan that builds the table). REQUIRED: the
    * learned merge SEQUENCE is identical at every k with pair counts
    * exactly k· the 1× counts (the vocabulary an 8× corpus learns IS
    * the 1× vocabulary). Encoding stays corpus-linear; its slope and
    * the (exactly linear) encoded-token totals are reported.
    *
    * KN3 columns (same rotated-replica axis as the LM section): the
    * trigram Kneser-Ney twin's claim is that the ORDER-3 recursion
    * keeps the order-2 economics — train is still the one corpus
    * explode plus vocabulary-scale derivations (trigram TYPE count
    * replica-linear, REQUIRED exact), score one corpus scan with five
    * broadcast joins (scored rows doc-linear, REQUIRED). Train/score
    * slopes reported alongside the bigram ones. */
  private def scaleLmBpe(c: Ctx): Record = {
    import graft.operators.{Bpe, LanguageModel}
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    def plainReplica(k: Int) = docs.select(
      (col("doc_id") + lit(k * span)).as("doc_id"), col("text"))
    LanguageModel.train(replica(0), "text").bigrams.count() // warmup
    c.drop()
    // 16x point (r15 verdict stretch): the KN-5 train family is one of
    // the three heaviest — the longer ladder is the strongest local
    // evidence the 100x claims extrapolate
    val pts = Seq(1, 2, 4, 8, 16).map { n =>
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      val train = c.timed {
        val lm = LanguageModel.train(corpus, "text")
        (lm.bigrams.count(), lm.contexts.count(), lm.vocabSize)
      }
      val lm = LanguageModel.train(corpus, "text")
      val score = c.timed(LanguageModel.crossEntropy(corpus, "doc_id", "text", lm).count())
      // trigram Kneser-Ney twin columns: same replica corpus, so the
      // rotation-isolation invariants below apply verbatim (trigram
      // types and scored docs must be replica-linear). Measured on the
      // SERVING path — the generic KN-N cascade at order 3 (r15 unified;
      // the bespoke KN3 survives only as the spec's bit-identity witness)
      val kn3Train = c.timed(LanguageModel.trainKneserNeyN(corpus, "text", order = 3)
        .grams.count())
      val kn3 = LanguageModel.trainKneserNeyN(corpus, "text", order = 3)
      val kn3Score = c.timed(LanguageModel
        .crossEntropyKneserNeyN(corpus, "doc_id", "text", kn3).count())
      // ORDER-5 train twin (r15 verdict stretch: "kn5 train" is one of
      // the named heaviest families — ladder the deployment order
      // itself, not just its order-3 proxy). Train-only: the score
      // scan's scaling is pinned by the kn3 twin (order changes the
      // cascade depth, never the one-corpus-scan shape).
      val kn5Train = c.timed(LanguageModel.trainKneserNeyN(corpus, "text", order = 5)
        .largestRows)
      val plain = replicas(n)(plainReplica)
      val bpe = c.timed(Bpe.train(plain, "text", numMerges = 16))
      val enc = c.timed(Bpe.encode(plain, "doc_id", "text", bpe.last)
        .agg(sum("n_bpe_tokens")).head().getLong(0))
      c.drop()
      val (bigRows, ctxRows, vocab) = train.last
      Point("sizes" -> n, "docs" -> nDocs, "vocab" -> vocab, "bigram_rows" -> bigRows,
        "context_rows" -> ctxRows, "scored_docs" -> score.last,
        "encoded_tokens" -> enc.last, "lm_train_secs" -> train.secs,
        "lm_score_secs" -> score.secs, "bpe_train_secs" -> bpe.secs,
        "bpe_encode_secs" -> enc.secs, "merges" -> bpe.last,
        "trigram_rows" -> kn3Train.last, "kn3_scored_docs" -> kn3Score.last,
        "kn3_train_secs" -> kn3Train.secs, "kn3_score_secs" -> kn3Score.secs,
        "gram5_rows" -> kn5Train.last, "kn5_train_secs" -> kn5Train.secs)
    }
    // rotation isolation: vocab, bigram/trigram/5-gram types and contexts;
    // scored rows and encoded tokens are doc-linear
    requireLinear(pts, "replica linearity violated", "vocab", "bigram_rows",
      "context_rows", "scored_docs", "encoded_tokens", "trigram_rows",
      "kn3_scored_docs", "gram5_rows")
    def merges(p: Point) = p("merges").asInstanceOf[Seq[Bpe.Merge]]
    pts.foreach { p =>
      require(merges(p).map(m => (m.lhs, m.rhs)) == merges(pts.head).map(m => (m.lhs, m.rhs)),
        s"BPE merge sequence must be replication-invariant at ${p("sizes")}x")
      require(merges(p).map(_.count) == merges(pts.head).map(_.count * p.l("sizes")),
        s"BPE merge counts must scale exactly with replication at ${p("sizes")}x")
    }
    Record.metric("lm_bpe_scale").put("reps", c.reps).put("bpe_merges", 16)
      .cols(pts, "sizes", "docs", "vocab", "bigram_rows", "context_rows", "scored_docs",
        "encoded_tokens")
      .secs(pts, "lm_train_secs", "lm_score_secs", "bpe_train_secs", "bpe_encode_secs")
      .slope("lm_train_slope", pts, "lm_train_secs")
      .slope("lm_score_slope", pts, "lm_score_secs")
      .slope("bpe_train_slope", pts, "bpe_train_secs")
      .slope("bpe_encode_slope", pts, "bpe_encode_secs")
      .segmentSlopes("lm_train_segment_slopes", pts, "lm_train_secs")
      .cols(pts, "trigram_rows", "kn3_scored_docs")
      .secs(pts, "kn3_train_secs", "kn3_score_secs")
      .slope("kn3_train_slope", pts, "kn3_train_secs")
      .slope("kn3_score_slope", pts, "kn3_score_secs")
      .cols(pts, "gram5_rows").secs(pts, "kn5_train_secs")
      .slope("kn5_train_slope", pts, "kn5_train_secs")
      .segmentSlopes("kn5_train_segment_slopes", pts, "kn5_train_secs")
  }

  /** BM25 SERVING-economics harness, the retrieval twin of the IVF
    * partition-pruning harness: the claim is that the persisted
    * term-sorted layout ([[graft.operators.TextIndex.write]]) turns a
    * query's literal `isin` predicate into row-group skipping, so a
    * serve READS only the query terms' slices of the postings while an
    * UNSORTED layout of the same rows reads essentially the whole
    * index. Ladder: plain re-id'd 1×–16× replicas; per size, the index
    * is built and persisted BOTH ways (untimed — build-once), a fixed
    * 4-term query is served from each via the self-contained
    * read-then-score path, and the task-metrics input bytes are
    * recorded per serve alongside the on-disk postings bytes. REQUIRED
    * exact: matched docs and Σ n_matched scale k-linearly (re-id'd
    * copies match identically). The sorted/unsorted read ratio is the
    * artifact's claim column; wall secs ride as context (sub-second
    * absolutes at bench scale). */
  private def scaleBm25Serving(c: Ctx): Record = withWork("bm25-scale") { work =>
    import graft.operators.TextIndex
    val spark = c.spark
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def plainReplica(k: Int) = docs.select(
      (col("doc_id") + lit(k * span)).as("doc_id"), col("text"))
    // two serve shapes: a COMMON 4-term query (the 31-term synthetic
    // vocabulary makes it match ~98% of docs — pruning can only shed
    // the other terms' postings, ~the honest worst case) and a RARE
    // 1-term query ("dup", ~5% of docs — the realistic selective shape
    // where the query's slice is a sliver of the index)
    val query = "spark hash join stream"
    val rareQuery = "dup"
    // 16x point (r15 verdict stretch): bm25 top-k serving is one of the
    // three heaviest families — extend the ladder
    val sizes = Seq(1, 2, 4, 8, 16)
    // the unsorted CONTROL layout: identical rows, no term clustering —
    // row-group stats then cover the full term range in every file and
    // nothing skips. Emitted as ONE committed epoch (postings/docfreq
    // under epoch=e0, meta with n_docs/total_dl written last) so
    // TextIndex.read — which since the lifecycle hardening requires
    // epoch-structured meta and filters on the epoch column — serves it
    // exactly like the sorted layout; only the term clustering differs.
    def writeUnsorted(ix: TextIndex.InvertedIndex, path: String): Unit = {
      ix.postings.write.mode("overwrite").parquet(s"$path/postings/epoch=e0")
      ix.docFreq.write.mode("overwrite").parquet(s"$path/docfreq/epoch=e0")
      spark.createDataFrame(Seq((ix.nDocs, ix.totalDl))).toDF("n_docs", "total_dl")
        .write.mode("overwrite").parquet(s"$path/meta/epoch=e0")
    }
    // (matched docs, Σ n_matched) per serve, with its secs and read MB
    def serve(path: String, q: String) = c.timed {
      val r = TextIndex.bm25(TextIndex.read(spark, path), "doc_id", q)
        .agg(count(lit(1)), sum("n_matched"), sum("score")).head()
      (r.getLong(0), r.getLong(1))
    }
    // PHRASE serve over the positional postings: adjacency reads only
    // the phrase terms' slices (positions included) from the sorted
    // layout — the pruning claim extended to the positional schema
    def servePhrase(path: String) = c.timed(TextIndex.bm25Phrase(
        TextIndex.read(spark, path), "doc_id", "hash join")
      .agg(count(lit(1)), coalesce(sum("n_occurrences"), lit(0L))).head().getLong(0))
    val pts = sizes.map { n =>
      val corpus = replicas(n)(plainReplica)
      val ix = TextIndex.build(corpus, "doc_id", "text")
      val sorted = s"$work/sorted$n"; val unsorted = s"$work/unsorted$n"
      TextIndex.write(ix, sorted)
      writeUnsorted(ix, unsorted)
      // the impact-blocked top-k layout, derived untimed like the others
      // — BEFORE any serve: serve()'s dropState unpersists ix's
      // checkpointed postings, after which ix is no longer computable
      TextIndex.writeTopK(ix, s"$work/topk$n")
      val diskMb = treeBytes(new java.io.File(s"$sorted/postings")) / MB
      val s = serve(sorted, query)
      val u = serve(unsorted, query)
      require(u.last == s.last,
        s"layouts must serve the same answer at ${n}x: ${u.last} vs ${s.last}")
      val rareS = serve(sorted, rareQuery)
      val rareU = serve(unsorted, rareQuery)
      require(rareU.last._1 == rareS.last._1, s"rare-query layout answers diverge at ${n}x")
      val phraseS = servePhrase(sorted)
      val phraseU = servePhrase(unsorted)
      require(phraseS.last == phraseU.last,
        s"phrase layout answers diverge at ${n}x: ${phraseS.last} vs ${phraseU.last}")
      c.drop()
      Point("sizes" -> n, "matched_docs" -> s.last._1, "sum_matched" -> s.last._2,
        "postings_disk_mb" -> diskMb, "read_sorted_mb" -> s.io.inputMb,
        "read_unsorted_mb" -> u.io.inputMb, "serve_sorted_secs" -> s.secs,
        "serve_unsorted_secs" -> u.secs, "rare_matched_docs" -> rareS.last._1,
        "rare_read_sorted_mb" -> rareS.io.inputMb, "rare_read_unsorted_mb" -> rareU.io.inputMb,
        "phrase_matched_docs" -> phraseS.last, "phrase_read_sorted_mb" -> phraseS.io.inputMb,
        "phrase_read_unsorted_mb" -> phraseU.io.inputMb)
    }
    requireLinear(pts, "matched docs must be replica-linear",
      "matched_docs", "sum_matched", "rare_matched_docs", "phrase_matched_docs")
    // BATCH-SERVE economics at the largest ladder size: N queries scored
    // in ONE bm25Batch pass vs N sequential single-query serves of the
    // same strings — the decontamination claim ("N eval phrases ≠ N
    // corpus scans") as a measured fact. Same layout, same answers
    // (cross-checked), only the plan shape differs.
    val batchQueries = Seq("spark hash", "join stream", "sort merge",
      "table scan", "dup filter", "key order", "row data", "agg window")
    val largest = s"$work/sorted${sizes.last}"
    val qdf = spark.createDataFrame(
        batchQueries.zipWithIndex.map { case (q, i) => (i.toLong, q) })
      .toDF("query_id", "query")
    val batch = c.timed(TextIndex.bm25Batch(TextIndex.read(spark, largest), "doc_id",
      qdf, "query_id", "query").agg(count(lit(1))).head().getLong(0))
    val single = c.timed(batchQueries.map(q =>
      TextIndex.bm25(TextIndex.read(spark, largest), "doc_id", q).count()).sum)
    require(batch.last == single.last,
      s"batch serve must score exactly the per-query rows: ${batch.last} vs ${single.last}")
    // TOP-K serving economics — the block-max claim as measured fact.
    // Claim columns are PHASE VOLUMES (TopKServeDiag row counts), the
    // span-harness discipline: at this corpus size parquet row-group /
    // footer accounting drowns byte metrics, while the postings a phase
    // touches translate directly to 100 TB IO. What must hold: on the
    // single-term shape `kept_postings` collapses to the top impact
    // buckets and `candidates` tracks k outright; on the 4-term
    // uniform-idf shape — the WAND term-sum worst case, where r14's
    // kept == total was the honest outcome — the r15 MaxScore split
    // makes kept < total WHEREVER ITS OWN VOLUME RULE SAYS THE SPLIT
    // PAYS (`essential_terms` < 4 marks those points): skipping a
    // term's scan leaves its maxUb as per-doc bound slack, so the
    // candidate band widens (θ₃-contained — exact rescore of the
    // top-k by bound, measured 10× tighter than θ₂ alone), and the
    // serve falls back to the all-essential pass exactly where
    // candidates × |terms| would exceed the postings the split saved
    // (toy 1× at k=10, and k ≥ 50 — where candidates snap back to ~k
    // and kept back to total). Asymptotically the split wins this
    // shape: saved grows ∝ df while the band stays a ~7%-of-df
    // near-tie fringe, so every larger size keeps 75%. On Zipfian
    // queries the skipped terms are the LOW-impact ones and the band
    // collapses toward k with no fallback needed. Wall secs ride as
    // context. Every point is cross-checked EXACT against exhaustive
    // scoring + the same rounded k-cut, so no volume win can come
    // from a wrong answer.
    val topkK = 10
    val singleTerm = "spark"
    def r6(x: Column) = floor(x * 1000000.0 + 0.5) / 1000000.0
    def topkRows(path: String, q: String, k: Int): Seq[(Long, Double)] =
      TextIndex.bm25TopK(TextIndex.readTopK(spark, path), "doc_id", q, k)
        .select(col("doc_id"), r6(col("score")).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def exhaustiveRows(path: String, q: String, k: Int): Seq[(Long, Double)] =
      TextIndex.bm25(TextIndex.read(spark, path), "doc_id", q)
        .orderBy(r6(col("score")).desc, col("doc_id")).limit(k)
        .select(col("doc_id"), r6(col("score")).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def requireExact(n: Int, k: Int): Unit =
      for (q <- Seq(query, singleTerm))
        require(topkRows(s"$work/topk$n", q, k) == exhaustiveRows(s"$work/sorted$n", q, k),
          s"top-k pruned serve diverges from exhaustive at ${n}x, k=$k for '$q'")
    // one diagnosed serve — `essential_terms` is the MaxScore split's
    // claim column: on the uniform-idf 4-term shape it must drop below
    // the query's term count, which is exactly what makes kept < total
    // there (the WAND block test alone keeps everything on that shape)
    def serveTopK(n: Int, q: String, k: Int): Point = {
      val t = c.timed {
        val (df, d) = TextIndex.bm25TopKDiag(
          TextIndex.readTopK(spark, s"$work/topk$n"), "doc_id", q, k)
        df.collect(); d
      }
      Point("secs" -> t.secs, "kept_postings" -> t.last.keptPostings,
        "total_postings" -> t.last.totalPostings, "candidates" -> t.last.nCandidates,
        "essential_terms" -> t.last.nEssential, "served_by" -> t.last.servedBy)
    }
    val (common4, single1) = sizes.map { n =>
      requireExact(n, topkK)
      (serveTopK(n, query, topkK), serveTopK(n, singleTerm, topkK))
    }.unzip
    val ks = Seq(5, 10, 25, 50, 100)
    val (common4ByK, singleByK) = ks.map { k =>
      requireExact(sizes.last, k)
      (serveTopK(sizes.last, query, k), serveTopK(sizes.last, singleTerm, k))
    }.unzip
    def byName(pts: Seq[Point], k: String) = pts.map(_(k))
    Record.metric("bm25_serving_scale").put("reps", c.reps).put("query_terms", 4)
      .cols(pts, "sizes", "matched_docs", "sum_matched")
      .mb(pts, "postings_disk_mb", "read_sorted_mb", "read_unsorted_mb")
      .secs(pts, "serve_sorted_secs", "serve_unsorted_secs")
      .cols(pts, "rare_matched_docs").mb(pts, "rare_read_sorted_mb", "rare_read_unsorted_mb")
      .cols(pts, "phrase_matched_docs")
      .mb(pts, "phrase_read_sorted_mb", "phrase_read_unsorted_mb")
      .put("batch", new Record().put("n_queries", batchQueries.size)
        .put("scored_rows", batch.last).num("batch_secs", batch.secs)
        .num("sum_single_secs", single.secs))
      .put("topk", new Record().put("k", topkK).put("exact_vs_exhaustive", true)
        .put("sizes", sizes)
        .put("common4", new Record().secs(common4, "secs")
          .cols(common4, "kept_postings", "total_postings", "candidates", "essential_terms"))
        .put("single", new Record().secs(single1, "secs")
          .cols(single1, "kept_postings", "total_postings", "candidates"))
        .put("by_k", new Record().put("ks", ks)
          .put("common4_kept", byName(common4ByK, "kept_postings"))
          .put("common4_candidates", byName(common4ByK, "candidates"))
          .put("common4_essential", byName(common4ByK, "essential_terms"))
          .put("single_kept", byName(singleByK, "kept_postings"))
          .put("single_candidates", byName(singleByK, "candidates"))
          .put("common4_served_by", byName(common4ByK, "served_by"))
          .put("single_served_by", byName(singleByK, "served_by"))))
  }

  /** Span-index SERVING scale + lifecycle harness — the evidence behind
    * [[graft.operators.Dedup.writeSpanIndex]] (bucketed layout) and
    * [[graft.operators.Dedup.SpanSketch]] (broadcast gate): the span twin
    * of [[scaleSlopeIndex]] and [[scaleCompaction]] folded into one
    * artifact, because the three serving forms answer the same question
    * at three price points and belong side by side.
    *
    * Serve-scale section: replicate the corpus k×, persist its span
    * index FLAT (plain parquet — [[graft.operators.Dedup
    * .spanStatsAgainstIndex]]'s input), BUCKETED ([[graft.operators
    * .Dedup.writeSpanIndex]]) and as a [[graft.operators.Dedup
    * .SpanSketch]], then gate the SAME fixed batch through all three,
    * recording wall time AND per-serve SHUFFLE WRITE. The shuffle column
    * carries the claim (wall times at bench scale drown in fixed job
    * overhead, as in [[scaleSlopeIndex]]): flat serving shuffles the
    * corpus-scale index on every call — the recurring per-micro-batch
    * cost — so its shuffle grows with k; bucketed serving moves only the
    * batch's spans (flat in k); the sketch gate is a pure per-row filter
    * — no join, no shuffle at all, at the price of a bounded overcount.
    * Gate agreement is REQUIRED per point: bucketed kept == flat kept
    * (layout changes the plan, never the answer), sketch kept ⊆ flat
    * kept (estimates never undercount, so the sketch drops a superset),
    * and the kept count is invariant across ladder sizes by replica
    * isolation — the batch's near-dup half only ever matches the base
    * replica, its fresh half matches nothing.
    *
    * Lifecycle section ([[scaleCompaction]]'s shape): grow the base-size
    * bucketed layout through N ingest appends of unrelated rotated
    * replicas — each lands ~one file per bucket, and serving pays the
    * listing/open tax per file — recording data-file counts, serve
    * medians and the (invariant) kept count per append rung; then
    * [[graft.operators.Dedup.compactSpanIndex]] once and record the same
    * three after: files back to ~one per bucket, serve back at build
    * level, kept unchanged. Build/bucketing/sketching stay untimed by
    * design — each layout's point is moving recurring serve-time work to
    * one-time build-time, and `compact_secs` is that one-time cost for
    * the compactor. */
  private def scaleSpanIndexServing(c: Ctx): Record = withWork("spanix-scale") { work =>
    import graft.operators.Dedup
    val spark = c.spark
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    // fixed batch, constant work at every corpus size: half re-id'd
    // COPIES of base docs (every span indexed → indexed_frac 1 → gated),
    // half rotation-9 fresh docs — 9 is outside 0..8 (the ladder rungs
    // AND the lifecycle appends) in BOTH rotation residue classes
    // (9 mod 26 = 9, 9 mod 10 = 9), so the fresh half is
    // replica-isolated from every indexed corpus without leaning on the
    // letters-only-vocabulary assumption (a k ≡ some-rung mod 10 choice
    // — the former 777 — would share digit-only grams with that rung)
    val batch = replica(0).filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + lit(100L * span)).as("doc_id"), col("text"))
      .unionByName(rotatedReplica(docs, span, 9)
        .filter(pmod(col("doc_id"), lit(20)) === 10)
        .select((col("doc_id") + lit(200L * span)).as("doc_id"), col("text")))
    val buckets = 32
    val sizes = Seq(1, 2, 4, 8)
    val life = "spanix_lifecycle"
    try {
      // untimed warmup: codegen + JIT over base-size flat serving
      Dedup.buildSpanIndex(replica(0), "doc_id", "text", n = 8)
        .write.mode("overwrite").parquet(s"$work/warm")
      Dedup.filterAgainstSpanIndex(batch, spark.read.parquet(s"$work/warm"),
        "doc_id", "text").count()
      c.drop()
      val pts = sizes.map { n =>
        val corpus = replicas(n)(replica)
        val nDocs = corpus.count()
        // every layout persisted/built OUTSIDE the timed window — the
        // serving contract, and a fair comparison (nothing serves from
        // executor memory)
        Dedup.buildSpanIndex(corpus, "doc_id", "text", n = 8)
          .write.mode("overwrite").parquet(s"$work/flat_$n")
        val flat = spark.read.parquet(s"$work/flat_$n")
        val spans = flat.count()
        val table = s"spanix_scale_$n"
        Dedup.writeSpanIndex(flat, table, buckets = buckets)
        // timed sketch SIZED to the corpus — the deployment rule: width
        // = next pow2 keeping load factor ≤ 0.5 so estimates stay
        // meaningful as the span population grows (CMS error ∝
        // N₁/width). The DEFAULT fixed-width sketch is gated too,
        // untimed, as the saturation disclosure: fixed memory buys a
        // bounded corpus, and kept_sketch_fixed shows exactly where
        // that budget runs out (it collapses toward 0 once every
        // counter is hot and all spans look indexed)
        val width = math.max(1 << 16,
          java.lang.Long.highestOneBit(math.max(1L, 2 * spans - 1)) << 1).toInt
        val sketch = Dedup.spanSketchFromIndex(flat, width = width)
        val flatT = c.timed(Dedup.filterAgainstSpanIndex(batch, flat, "doc_id", "text").count())
        val bucketT = c.timed(
          Dedup.filterAgainstBucketedSpanIndex(batch, table, "doc_id", "text").count())
        require(bucketT.last == flatT.last,
          s"bucketed serving disagrees with flat at ${n}x: ${bucketT.last} vs ${flatT.last}")
        val sketchT = c.timed(
          Dedup.filterAgainstSpanSketch(batch, sketch, "doc_id", "text").count())
        require(sketchT.last <= flatT.last,
          s"sketch kept MORE than exact at ${n}x (${sketchT.last} vs ${flatT.last}) - " +
            "an undercounting estimate, which CMS forbids")
        // allowSaturated: this control EXISTS to measure the saturation
        // point the production guard refuses
        val keptSketchFixed = Dedup.filterAgainstSpanSketch(batch,
          Dedup.spanSketchFromIndex(flat), "doc_id", "text",
          allowSaturated = true).count()
        dropTables(spark, table, "spans", "meta")
        c.drop()
        Point("sizes" -> n, "docs" -> nDocs, "index_spans" -> spans,
          "kept_exact" -> flatT.last, "kept_sketch" -> sketchT.last,
          "serve_flat_secs" -> flatT.secs, "serve_bucketed_secs" -> bucketT.secs,
          "serve_sketch_secs" -> sketchT.secs,
          "serve_flat_shuffle_mb" -> flatT.io.shuffleMb,
          "serve_bucketed_shuffle_mb" -> bucketT.io.shuffleMb,
          "serve_sketch_shuffle_mb" -> sketchT.io.shuffleMb, "sketch_width" -> width,
          "sketch_mb" -> width.toLong * 4 * 8 / MB, "kept_sketch_fixed_w16" -> keptSketchFixed)
      }
      val kept0 = pts.head.l("kept_exact")
      pts.foreach(p => require(p.l("kept_exact") == kept0,
        s"replica isolation violated: kept ${p("kept_exact")} at ${p("sizes")}x vs $kept0 at 1x"))

      // lifecycle: append growth + compaction on the base-size layout
      Dedup.writeSpanIndex(
        Dedup.buildSpanIndex(docs, "doc_id", "text", n = 8), life, buckets = buckets)
      def serveLife() = c.timed(
        Dedup.filterAgainstBucketedSpanIndex(batch, life, "doc_id", "text").count())
      val lifeKept0 = serveLife().last // untimed warmup of the lifecycle table's scan
      var appended = 0
      val rungs = Seq(0, 2, 4, 8).map { target =>
        while (appended < target) {
          appended += 1
          Dedup.appendToSpanIndex(replica(appended), life, "doc_id", "text")
        }
        val t = serveLife()
        require(t.last == lifeKept0,
          s"appends of unrelated content changed the kept set at $target: " +
            s"${t.last} vs $lifeKept0")
        Point("appends" -> target, "files_spans" -> tableFiles(spark, s"${life}_spans"),
          "serve_secs" -> t.secs, "kept" -> t.last)
      }
      val (_, compactSecs) = clock(Dedup.compactSpanIndex(spark, life))
      val postFiles = tableFiles(spark, s"${life}_spans")
      val post = serveLife()
      require(post.last == lifeKept0,
        s"compaction changed the kept set: ${post.last} vs $lifeKept0")
      Record.metric("span_index_serve_scale").put("reps", c.reps).put("n", 8)
        .put("buckets", buckets)
        .cols(pts, "sizes", "docs", "index_spans", "kept_exact", "kept_sketch")
        .secs(pts, "serve_flat_secs", "serve_bucketed_secs", "serve_sketch_secs")
        .mb(pts, "serve_flat_shuffle_mb", "serve_bucketed_shuffle_mb", "serve_sketch_shuffle_mb")
        .cols(pts, "sketch_width").mb(pts, "sketch_mb").cols(pts, "kept_sketch_fixed_w16")
        // a no-shuffle serve legitimately records 0 MB; floor before the
        // log-log fit so the sketch column can't put NaN in the artifact
        .slope("shuffle_slope_flat", pts, "serve_flat_shuffle_mb", floor = 0.01)
        .slope("shuffle_slope_bucketed", pts, "serve_bucketed_shuffle_mb", floor = 0.01)
        .put("lifecycle", new Record().cols(rungs, "appends", "files_spans")
          .secs(rungs, "serve_secs").cols(rungs, "kept")
          .num("compact_secs", compactSecs).put("files_spans_after", postFiles)
          .num("serve_secs_after", post.secs).put("kept_after", post.last))
    } finally {
      sizes.foreach(n => dropTables(spark, s"spanix_scale_$n", "spans", "meta"))
      dropTables(spark, life, "spans", "meta")
    }
  }

  /** Banded-index COMPACTION lifecycle harness — the evidence behind
    * [[graft.operators.Dedup.compactBandedIndex]]: build the index once,
    * grow it through N ingest appends (unrelated rotated replicas, so the
    * fixed batch's hit set is invariant by construction), and serve the
    * SAME batch at increasing append counts — each append adds ~one file
    * per bucket, and the serve pays the listing/opening of all of them —
    * then compact and serve again. The claim columns are filesystem facts
    * (data files in the bands/sigs tables) plus the serve medians; the
    * hit count is asserted INVARIANT across every point, so the artifact
    * doubles as an end-to-end correctness check of append+compact under
    * load. `compact_secs` is reported once — the one-time cost a
    * deployment pays to stop the per-serve file tax, ~one read+write of
    * the index tables, never the corpus text. */
  private def scaleCompaction(c: Ctx): Record = {
    import graft.operators.Dedup
    val spark = c.spark
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    // fixed served batch: near-dups of the BASE corpus only — appended
    // replicas are shingle-rotated, so they never enter its hit set
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + lit(100L * span)).as("doc_id"),
        concat(col("text"), lit(" extra tail words appended here")).as("text"))
    val table = "ix_compact_scale"
    val buckets = 32
    def serve() = c.timed(Dedup.dedupAgainstBandedIndex(batch, table, "doc_id", "text",
      minJaccard = 0.5).count())
    try {
      Dedup.writeBandedIndex(
        Dedup.buildDedupIndex(docs, "doc_id", "text"), table, buckets = buckets)
      val hits0 = serve().last // untimed warmup: codegen + JIT + catalog init
      var appended = 0
      val rungs = Seq(0, 2, 4, 8).map { target =>
        while (appended < target) {
          appended += 1
          Dedup.appendToBandedIndex(rotatedReplica(docs, span, appended),
            table, "doc_id", "text")
        }
        val filesBands = tableFiles(spark, s"${table}_bands")
        val filesSigs = tableFiles(spark, s"${table}_sigs")
        val t = serve()
        require(t.last == hits0,
          s"appends of unrelated content changed the hit set at $target: ${t.last} vs $hits0")
        Point("appends" -> target, "files_bands" -> filesBands, "files_sigs" -> filesSigs,
          "serve_secs" -> t.secs, "hits" -> t.last)
      }
      val (_, compactSecs) = clock(Dedup.compactBandedIndex(spark, table))
      val postFilesBands = tableFiles(spark, s"${table}_bands")
      val postFilesSigs = tableFiles(spark, s"${table}_sigs")
      val post = serve()
      require(post.last == hits0, s"compaction changed the hit set: ${post.last} vs $hits0")
      Record.metric("banded_index_compaction").put("reps", c.reps).put("buckets", buckets)
        .cols(rungs, "appends", "files_bands", "files_sigs").secs(rungs, "serve_secs")
        .cols(rungs, "hits").num("compact_secs", compactSecs)
        .put("files_bands_after", postFilesBands).put("files_sigs_after", postFilesSigs)
        .num("serve_secs_after", post.secs).put("hits_after", post.last)
    } finally dropTables(spark, table, "bands", "sigs", "meta")
  }

  /** Dedup-index SERVING scale harness — the evidence behind the bucketed
    * layout: replicate the corpus k×, persist its index both ways (plain
    * parquet; bucketed tables), and serve the SAME fixed batch against
    * each, recording wall time AND per-serve SHUFFLE WRITE. The shuffle
    * volume is the scale-invariant signal: the flat path re-bands and
    * shuffles the whole index every serve (grows with the corpus — the
    * recurring cost a continuous feed pays per micro-batch), while the
    * bucketed path's per-serve shuffle is the batch + candidates only
    * (flat in corpus size). Wall times at bench scale are dominated by
    * fixed job overhead — a 40k-doc index shuffle is milliseconds — so
    * the artifact reports both and the shuffle columns carry the claim;
    * the crossover is where the per-serve index shuffle stops fitting in
    * that overhead, i.e. exactly the regime the layout exists for. Build
    * work (signatures, banding, bucketing) is untimed by design: the
    * layout's point is moving recurring serve-time work to one-time
    * build-time. */
  private def scaleSlopeIndex(c: Ctx): Record = withWork("ix-scale") { work =>
    import graft.operators.Dedup
    val spark = c.spark
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    // fixed batch: 1/10th of replica 0, re-id'd with a tail appended —
    // near-dups of their originals, constant work across corpus sizes
    val batch = replica(0).filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + lit(100L * span)).as("doc_id"),
        concat(col("text"), lit(" extra tail words appended here")).as("text"))
    // untimed warmup
    Dedup.buildDedupIndex(replica(0), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/warm")
    Dedup.dedupAgainstIndex(batch, spark.read.parquet(s"$work/warm"),
      "doc_id", "text", minJaccard = 0.5).count()
    c.drop()
    val pts = Seq(1, 2, 4, 8).map { n =>
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      // both layouts persisted to DISK — the serving contract (and a fair
      // comparison: neither side gets to serve from executor memory)
      Dedup.buildDedupIndex(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$work/flat_$n")
      val index = spark.read.parquet(s"$work/flat_$n")
      val table = s"ix_scale_$n"
      Dedup.writeBandedIndex(index, table, buckets = 32)
      val flat = c.timed(Dedup.dedupAgainstIndex(
        batch, index, "doc_id", "text", minJaccard = 0.5).count())
      val bucketed = c.timed(Dedup.dedupAgainstBandedIndex(
        batch, table, "doc_id", "text", minJaccard = 0.5).count())
      dropTables(spark, table, "bands", "sigs", "meta")
      c.drop()
      Point("sizes" -> n, "docs" -> nDocs, "hits_flat" -> flat.last,
        "hits_bucketed" -> bucketed.last, "serve_flat_secs" -> flat.secs,
        "serve_bucketed_secs" -> bucketed.secs, "serve_flat_shuffle_mb" -> flat.io.shuffleMb,
        "serve_bucketed_shuffle_mb" -> bucketed.io.shuffleMb)
    }
    Record.metric("dedup_index_serve_scale").put("reps", c.reps)
      .cols(pts, "sizes", "docs", "hits_flat", "hits_bucketed")
      .secs(pts, "serve_flat_secs", "serve_bucketed_secs")
      .mb(pts, "serve_flat_shuffle_mb", "serve_bucketed_shuffle_mb")
      // a fully-broadcast serve can legitimately record 0 MB, and
      // log(0) would put NaN in the artifact — floor at 0.01 MB for the fit
      .slope("shuffle_slope_flat", pts, "serve_flat_shuffle_mb", floor = 0.01)
      .slope("shuffle_slope_bucketed", pts, "serve_bucketed_shuffle_mb", floor = 0.01)
  }

  /** SimHash scale-slope harness — the saturation-mitigation evidence:
    * replicate the documents corpus k× ([[rotatedReplica]]) and band at 8
    * so the 2⁸-value chunk space is saturated at bench scale — the same
    * regime the production 4×16 geometry hits past ~65k docs, reachable
    * here. At each size the PLAIN pinned-width path and the
    * length-PARTITIONED path
    * ([[graft.operators.Dedup.simhashPairsPartitioned]]) are timed once
    * each and their raw candidate volumes (pre-verify band-join rows, the
    * actual cost driver) recorded untimed. Expected shape: plain
    * candidates grow ~n² once n ≫ 2^width and its time slope trends
    * toward 2; the partition divides the quadratic coefficient by the
    * populated length-bucket factor, deferring the takeover — while the
    * pair sets stay identical. */
  private def scaleSlopeSimhash(c: Ctx): Record = {
    import graft.operators.Dedup
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    def replica(k: Int) = rotatedReplica(docs, span, k)
    val bands = 8; val bucketWidth = 10L
    Dedup.simhashPairs(Dedup.simhash(replica(0), "doc_id", "text"),
      maxHamming = 3, bands = bands).count() // untimed warmup
    c.drop()
    val pts = Seq(1, 2, 4, 8).map { n =>
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      def h = Dedup.simhashWithTokenCount(corpus, "doc_id", "text")
      c.drop()
      val (nPlain, plainSecs) = clock(Dedup.simhashPairs(h.select("sh_id", "simhash"),
        maxHamming = 3, bands = bands).count())
      c.drop()
      val (nPart, partSecs) = clock(Dedup.simhashPairsPartitioned(h, "n_tokens",
        bucketWidth, maxHamming = 3, bands = bands).count())
      c.drop()
      // candidate volumes, untimed — the attribution for the slopes above
      val candPlain = Dedup.simhashBandJoin(h.select("sh_id", "simhash"), bands, None).count()
      val candPart = Dedup.simhashBandJoin(h, bands, Some(("n_tokens", bucketWidth))).count()
      c.drop()
      Point("sizes" -> n, "docs" -> nDocs, "pairs_plain" -> nPlain, "pairs_part" -> nPart,
        "cand_plain" -> candPlain, "cand_part" -> candPart,
        "secs_plain" -> plainSecs, "secs_part" -> partSecs)
    }
    Record.metric("simhash_scale_slope").put("bands", bands).put("bucket_width", bucketWidth)
      .cols(pts, "sizes", "docs", "pairs_plain", "pairs_part", "cand_plain", "cand_part")
      .secs(pts, "secs_plain", "secs_part")
      .slope("slope_plain", pts, "secs_plain").slope("slope_part", pts, "secs_part")
  }

  /** k-means fit scale harness — the evidence behind the SAMPLED-seeding
    * design: with Gonzalez running driver-local over a bounded md5-prefix
    * sample (one TakeOrdered scan regardless of corpus size), total fit
    * time is the `iters` Lloyd scans — LINEAR in the corpus with iters
    * fixed — where the former full-corpus seeder paid k−1 whole scans up
    * front and its share GREW with the corpus. A log-log slope near 1
    * (and flat segment slopes) is the claim; seeding reverting to
    * corpus-proportional work would push it visibly above 1 at the small
    * sizes where Lloyd doesn't yet dominate. Corpus = [[signFlipped]]
    * embeddings (distinct well-spread vectors, same norms). */
  private def scaleSlopeKmeans(c: Ctx): Record = {
    import graft.operators.Similarity
    val base = c.embeddings
    val span = idSpan(base, "vec_id")
    def replica(k: Int) = signFlipped(base, k, span)
    Similarity.kmeansFit(replica(0), "vec_id", "embedding", k = 8, iters = 3)
    c.drop()
    val pts = Seq(1, 2, 4, 8, 16).map { n =>
      val corpus = replicas(n)(replica)
      val nVecs = corpus.count()
      val t = c.timed(Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 8, iters = 3))
      c.drop()
      Point("sizes" -> n, "vecs" -> nVecs).spread("secs", t)
    }
    Record.metric("kmeans_fit_scale_slope").put("reps", c.reps).put("k", 8).put("iters", 3)
      .cols(pts, "sizes", "vecs").spread(pts, "secs")
      .slope("slope", pts, "secs").segmentSlopes("segment_slopes", pts, "secs")
  }

  /** OPQ composition size ladder — the learned `OPQ,IVF,PQ` layout's
    * ECONOMICS artifact beside its recall evidence
    * (bench_scale_recall.json `pq_dial.opq`): quantizers trained ONCE on
    * the 1× corpus and FIXED across the ladder, then at each size the
    * whole corpus is rotated + residual-encoded + written partitioned
    * (`encode_secs` — must grow linearly: encoding is one projection +
    * ADC-coding pass per row, no cross-row term) and a FIXED 5-query
    * batch is served partition-pruned (`serve_secs` / `serve_input_mb`
    * — the probed cells hold only the replica-0 region the queries live
    * in, so the pruned read must stay ~FLAT while the index grows 16×
    * past it; sign-flipped replicas land in other cells, the
    * bench_scale_ivf.json construction). `disk_bytes_per_vec` rides along
    * (8 B payload/vec at m=8; disk includes ids + cell + epoch columns),
    * matching the IVF/PQ memory-economics convention. */
  private def scaleSlopeOpq(c: Ctx): Record = withWork("opq-scale") { work =>
    import graft.operators.Similarity
    val base = c.embeddings
    val span = idSpan(base, "vec_id")
    def replica(k: Int) = signFlipped(base, k, span)
    def rotated(df: DataFrame, rot: Array[Array[Double]]) = df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
      .select(col("vec_id"), Similarity.rotateExpr(col("__v"), rot).as("__rotv"))
    // quantizers trained once at 1x and fixed: the ladder isolates
    // encode + serve, never training (trained-quantizer reuse across
    // corpus growth is exactly the deployment steady state the
    // drift-gated refresh owns the exception to)
    val (rot, _) = Similarity.trainOpq(replica(0), "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2, opqIters = 1)
    val rotated0 = rotated(replica(0), rot)
    val cents = Similarity.kmeansFit(rotated0, "vec_id", "__rotv", k = 32, iters = 2)
    val cb = Similarity.trainPqResidual(rotated0, "vec_id", "__rotv", cents,
      m = 8, ksub = 16, iters = 2)
    val queries = base.filter(col("vec_id") < 5)
    val qCells = Similarity.withProbeLabels(rotated(queries, rot), "__rotv", cents, nprobe = 2)
      .select("coarse").distinct().collect().map(_.get(0))
    // UNTIMED 1x warmup of BOTH timed bodies (the kmeans harness /
    // main-bench discipline): without it the 1x point pays classloading
    // + codegen for the encode AND serve plans and the ladder reads
    // DECREASING — a JIT artifact masquerading as (im)scaling. Measured
    // r18: unwarmed reps=3 gave encode 8.7 s at 1x vs 4.5 s at 16x
    // (slope −0.29, nonsense); warmed, the sizes order correctly.
    val quantizer = Similarity.IvfQuantizer(cents, Some(cb), Some(rot))
    Similarity.writeLearnedIndex(replica(0), "vec_id", "embedding",
      s"$work/opq_warmup", quantizer)
    Similarity.serveLearnedIndex(s"$work/opq_warmup", replica(0), queries,
      "vec_id", "embedding", k = 5, nprobe = 2).count()
    c.drop()
    val pts = Seq(1, 2, 4, 8, 16).map { n =>
      val corpus = replicas(n)(replica)
      val nVecs = corpus.count()
      val path = s"$work/opq_$n"
      // ENCODE: rotate + residual-code + partitioned write, one build per
      // size (a rebuild per rep would only re-measure the committer)
      c.drop()
      val (_, encodeSecs) = clock(Similarity.writeLearnedIndex(corpus, "vec_id",
        "embedding", path, quantizer))
      val indexMb = parquetBytes(path) / MB
      val probedMb = qCells.map(q => parquetBytes(s"$path/coarse=$q")).sum / MB
      val serve = c.timed(Similarity.serveLearnedIndex(path, corpus, queries,
        "vec_id", "embedding", k = 5, nprobe = 2).count())
      require(serve.last == 25, s"expected 5 queries x top-5 at ${n}x, got ${serve.last}")
      c.drop()
      Point("sizes" -> n, "vecs" -> nVecs, "encode_secs" -> encodeSecs,
        "index_mb" -> indexMb, "probed_index_mb" -> probedMb, "serve_secs" -> serve.secs,
        "serve_input_mb" -> serve.io.inputMb,
        "disk_bytes_per_vec" -> parquetBytes(path).toDouble / nVecs)
    }
    Record.metric("opq_scale_ladder").put("reps", c.reps).put("k", 32).put("nprobe", 2)
      .put("m", 8).put("ksub", 16).put("payload_bytes_per_vec", 8)
      .cols(pts, "sizes", "vecs").secs(pts, "encode_secs")
      .slope("encode_slope", pts, "encode_secs")
      .mb(pts, "index_mb", "probed_index_mb").secs(pts, "serve_secs")
      .mb(pts, "serve_input_mb").fmt("%.1f", pts, "disk_bytes_per_vec")
  }

  /** IVF partition-pruned serving harness — the claim that the
    * [[graft.operators.Similarity.writeIvfIndex]] layout makes the
    * index-read side of a serve track the PROBED CELLS' SHARE of the
    * index, not the whole of it: at each corpus size the quantized index
    * is persisted partitioned by its learned coarse cell and a FIXED
    * nprobe=2 query batch is served pruned vs full-index. The
    * noise-free claim columns are filesystem facts, not timings:
    * probed-cell BYTES vs total index bytes (the pruned scan's upper
    * bound vs the full scan's), with file counts alongside showing the
    * repartition-by-cell write keeps files ≈ cells. At bench scale the
    * index is a few MB, so WALL TIMES are dominated by fixed overheads
    * (the pruned path additionally pays a one-job distinct-cells probe —
    * a flat cost, visible here, amortized into irrelevance at real index
    * sizes) and are reported as context, not the claim — the same
    * honesty posture as bench_scale_index.json. Hit sets are asserted
    * identical every size — pruning is exact, not a recall trade.
    *
    * `memory_per_vector`: at the largest ladder size the same labeled
    * corpus is persisted as fp32 vectors, int8 codes (+ scale), PQ codes
    * (m = 8 × ksub = 16, 8 bytes of payload) and residual-PQ codes, with
    * both the THEORETICAL payload bytes/vector (what an in-memory serving
    * tier holds) and the measured parquet bytes/vector (disk, encoding
    * overheads included). PQ's 32× vs fp32 / 9× vs int8 is what fits a
    * billion-vector resident set into executor memory. */
  private def scaleSlopeIvf(c: Ctx): Record = withWork("ivf-scale") { work =>
    import graft.operators.Similarity
    val spark = c.spark
    val base = c.embeddings
    val span = idSpan(base, "vec_id")
    def replica(k: Int) = signFlipped(base, k, span)
    val sizes = Seq(1, 2, 4, 8, 16)
    val pts = sizes.map { n =>
      val corpus = replicas(n)(replica)
      val nVecs = corpus.count()
      // index build is UNTIMED — the build-once/serve-many split is the
      // design; serving is what must stay corpus-size-independent. k=32
      // cells: pruning only shows when cells outnumber the batch's probe
      // diversity (the deployed regime — thousands of cells, small
      // batches); the 5-query batch lives in the replica-0 region, so its
      // probed cells stay put while the index grows past them
      val cents = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 32, iters = 2)
      val labeled = Similarity.withCoarseLabel(corpus, "embedding", cents)
      val path = s"$work/ivf_$n"
      Similarity.writeIvfIndex(
        Similarity.buildQuantizedIndex(labeled, "vec_id", "embedding", "coarse"),
        path, "coarse")
      val queries = Similarity.withProbeLabels(
        base.filter(col("vec_id") < 5), "embedding", cents, nprobe = 2)
      val cellsProbed = queries.select("coarse").distinct().collect().map(_.get(0))
      val pruned = c.timed(Similarity.ivfTopKQuantizedPruned(path, labeled, queries,
        "vec_id", "embedding", "coarse", k = 5).count())
      val full = c.timed(Similarity.ivfTopKQuantized(spark.read.parquet(path),
        labeled, queries, "vec_id", "embedding", "coarse", 5, 4).count())
      require(pruned.last == full.last,
        s"pruned serving changed the answer at $n x: ${pruned.last} vs ${full.last}")
      c.drop()
      Point("sizes" -> n, "vecs" -> nVecs, "probed_cells" -> cellsProbed.length.toLong,
        "probed_files" -> cellsProbed.map(q => parquetFiles(s"$path/coarse=$q")).sum,
        "index_files" -> parquetFiles(path),
        "probed_index_mb" -> cellsProbed.map(q => parquetBytes(s"$path/coarse=$q")).sum / MB,
        "index_mb" -> parquetBytes(path) / MB, "pruned_secs" -> pruned.secs,
        "full_secs" -> full.secs, "pruned_input_mb" -> pruned.io.inputMb,
        "full_input_mb" -> full.io.inputMb)
    }
    val memVec = {
      val corpus = replicas(sizes.last)(replica)
      val nVecs = corpus.count()
      val cents = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 32, iters = 2)
      val labeled = Similarity.withCoarseLabel(corpus, "embedding", cents)
        .select(col("vec_id"), col("coarse"),
          col("embedding").cast("array<float>").as("embedding"))
      labeled.write.mode("overwrite").parquet(s"$work/mem_fp32")
      Similarity.buildQuantizedIndex(labeled, "vec_id", "embedding", "coarse")
        .write.mode("overwrite").parquet(s"$work/mem_int8")
      val cb = Similarity.trainPq(labeled, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
      Similarity.buildPqIndex(labeled, "vec_id", "embedding", "coarse", cb)
        .write.mode("overwrite").parquet(s"$work/mem_pq")
      // the residual twin at IDENTICAL geometry: same bytes/vector (the
      // cell id already travels with every index form here), and the
      // own-code ADC (= squared reconstruction error) measured for both
      // — the Jégou §V-C claim as an artifact fact at the ladder top,
      // deterministic (seeded fits), also spec-pinned at sf0.001
      val cbRes = Similarity.trainPqResidual(labeled, "vec_id", "embedding",
        cents, m = 8, ksub = 16, iters = 2)
      Similarity.buildPqIndexResidual(labeled, "vec_id", "embedding", cents, cbRes)
        .write.mode("overwrite").parquet(s"$work/mem_pq_res")
      val centLit = typedlit(cents.map(_.toSeq).toSeq)
      val resFrame = labeled.withColumn("__res",
        zip_with(col("embedding").cast("array<double>"),
          element_at(centLit, col("coarse").cast("int") + 1), (a, b) => a - b))
      def distortion(df: DataFrame, vcol: String, cbX: Similarity.PqCodebooks): Double =
        Similarity.encodePq(df, vcol, cbX)
          .select(graft.functions.Adc.lookup(
            graft.functions.Adc.table(col(vcol).cast("array<double>"), cbX.codebooks),
            col("pq_codes").cast("array<int>"), cbX.m, cbX.ksub).as("d"))
          .agg(avg(col("d"))).head().getDouble(0)
      val dPq = distortion(labeled, "embedding", cb)
      val dRes = distortion(resFrame, "__res", cbRes)
      require(dRes < dPq,
        "residual codebooks must cut reconstruction error at identical geometry: " +
          s"residual ${Record.fmt("%.4f", dRes)} vs raw ${Record.fmt("%.4f", dPq)}")
      def perVec(dir: String) = parquetBytes(s"$work/$dir").toDouble / nVecs
      new Record().put("n_vecs", nVecs).put("dims", 64)
        .put("payload_bytes", new Record().put("fp32", 256).put("int8", 72).put("pq", 8)
          .put("pq_res", 8))
        .put("disk_bytes", Seq("fp32", "int8", "pq", "pq_res").foldLeft(new Record())(
          (r, k) => r.num(k, perVec(s"mem_$k"), "%.1f")))
        .num("pq_vs_fp32", 32.0, "%.1f").num("pq_vs_int8", 9.0, "%.1f")
        .put("distortion", new Record().num("pq", dPq, "%.5f").num("pq_res", dRes, "%.5f")
          .num("res_vs_pq", dRes / dPq))
    }
    Record.metric("ivf_pruned_serving").put("reps", c.reps).put("k", 32).put("nprobe", 2)
      .put("memory_per_vector", memVec)
      .cols(pts, "sizes", "vecs", "probed_cells", "probed_files", "index_files")
      .mb(pts, "probed_index_mb", "index_mb").secs(pts, "pruned_secs", "full_secs")
      .mb(pts, "pruned_input_mb", "full_input_mb")
  }

  /** Learned-IVF INGEST lifecycle harness — the evidence behind
    * [[graft.operators.Similarity.appendToLearnedIndex]] /
    * [[graft.operators.Similarity.compactLearnedIndex]], the ANN counterpart
    * of `bench_scale_compact.json`: build the learned index once, grow it
    * through N ingest appends (sign-flipped replicas — new ids, new
    * regions of the sphere), and serve a FIXED query batch at increasing
    * append counts — each append adds ~one file per touched cell, and a
    * pruned serve pays the listing/opening of every file in its probed
    * cells — then compact and serve again. Claim columns are filesystem
    * facts (files in the probed cells, total index files) plus serve
    * medians; the served row count is asserted at every point and the
    * served SET is asserted identical across the compaction — the
    * artifact doubles as an end-to-end correctness check of
    * append+compact under load. `compact_secs` is the one-time cost a
    * deployment pays to stop the per-serve file tax — one read+write of
    * already-quantized rows, never a re-embed/re-label/re-quantize. */
  private def scaleIvfLifecycle(c: Ctx): Record = withWork("ivf-lifecycle") { work =>
    import graft.operators.Similarity
    val base = c.embeddings
    val span = idSpan(base, "vec_id")
    def replica(k: Int) = signFlipped(base, k, span)
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val path = s"$work/ix"
    val cents = Similarity.kmeansFit(replica(0), "vec_id", "embedding", k = 32, iters = 2)
    Similarity.writeLearnedIndex(replica(0), "vec_id", "embedding", path,
      Similarity.IvfQuantizer(cents))
    val queries = base.filter(col("vec_id") < 5)
    val probedCells = Similarity.withProbeLabels(queries, "embedding", cents,
      nprobe = 2).select("coarse").distinct().collect().map(_.getInt(0))
    def probedFilesMax: Int = probedCells.map(q => parquetFiles(s"$path/coarse=$q")).max
    var corpus = replica(0)
    def serve() = c.timed(Similarity.serveLearnedIndex(path, corpus, queries,
        "vec_id", "embedding", k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet)
    serve() // untimed warmup: codegen + JIT + committer init
    var appended = 0
    val rungs = Seq(0, 2, 4, 8).map { target =>
      while (appended < target) {
        appended += 1
        val batch = replica(appended)
        Similarity.appendToLearnedIndex(batch, path, "vec_id", "embedding")
        corpus = corpus.unionByName(batch)
      }
      val filesMax = probedFilesMax
      val files = parquetFiles(path)
      val t = serve()
      require(t.last.size == 25,
        s"expected 5 queries x top-5 at $target appends, got ${t.last.size}")
      Point("appends" -> target, "probed_cell_files_max" -> filesMax,
        "index_files" -> files, "serve_secs" -> t.secs, "hits" -> t.last.size, "served" -> t.last)
    }
    val (_, compactSecs) = clock(Similarity.compactLearnedIndex(c.spark, path, "vec_id"))
    val postFilesMax = probedFilesMax
    val postFiles = parquetFiles(path)
    val post = serve()
    require(post.last == rungs.last("served"), "compaction changed the served set")
    Record.metric("ivf_ingest_lifecycle").put("reps", c.reps).put("k", 32).put("nprobe", 2)
      .cols(rungs, "appends", "probed_cell_files_max", "index_files")
      .secs(rungs, "serve_secs").cols(rungs, "hits").num("compact_secs", compactSecs)
      .put("probed_cell_files_max_after", postFilesMax).put("index_files_after", postFiles)
      .num("serve_secs_after", post.secs).put("hits_after", post.last.size)
  }

  /** Recall-vs-nprobe harness — the IVF recall dial MEASURED, not
    * asserted: a fixed query batch served from a [[Similarity
    * .writeLearnedIndex]] int8 layout at nprobe = 1, 2, 4, 8 and 32
    * (= every cell), each scored for recall@10 against the exact
    * brute-force ranking and timed median-of-reps. The nprobe = k point
    * probes ALL cells, so its recall isolates the QUANTIZATION effect
    * alone (the int8 stage-1 shortlist at the chosen candidateFactor):
    * the gap between it and 1.0 is what re-scoring depth buys, while the
    * gap between the low-nprobe points and it is what probing buys — the
    * two error sources of a served IVF, decomposed in one artifact.
    * Recall is computed from an untimed collect after the timing reps so
    * the timed body stays the serve itself.
    *
    * The curve runs over TWO corpora. The testdata embeddings are
    * near-uniform on the sphere — IVF's WORST case: cells carve arbitrary
    * Voronoi borders through every query's neighborhood, so recall@low-
    * nprobe is structurally poor and the dial is the whole story. The
    * PLANTED corpus is the other regime: the same vectors pulled toward
    * one of k deterministic unit centers (vec_id mod k), i.e. data with
    * real cluster structure, which is what trained-embedding corpora
    * look like in practice. There k-means recovers the blobs and the
    * nprobe curve CONCENTRATES — near-ceiling recall at nprobe=1 —
    * which is the measured justification for serving real corpora at
    * small nprobe. Both curves share one artifact so the contrast is a
    * fact, not prose; the planted point is REQUIRED to dominate the
    * uniform one at nprobe=1.
    *
    * Each corpus also carries the RESIDUAL-PQ recall ladder
    * (`pq_recall` / `planted_pq_recall`): the same cells served from a
    * [[graft.operators.Similarity.writeLearnedIndex]] residual-PQ layout — 8-byte
    * codes vs int8's 72 — so the recall COST of the further 9×
    * compression is an artifact fact beside the int8 curve it trades
    * against (recall deterministic, seeded fits). */
  private def scaleRecallNprobe(c: Ctx): Record = {
    import graft.operators.Similarity
    val uniform = c.embeddings
    val nVecs = uniform.count()
    val kCells = 32
    val topK = 10
    val probes = Seq(1, 2, 4, 8, kCells)
    // planted corpus: blend each vector toward its cluster's center —
    // deterministic seeded centers, so the artifact reproduces bit-wise
    val dim = uniform.select(size(col("embedding"))).head().getInt(0)
    val rnd = new java.util.Random(42)
    def unitCenter(): Seq[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val centers = typedLit(Seq.fill(kCells)(unitCenter()))
    val eps = 0.25
    val planted = uniform.select(col("vec_id"),
      zip_with(
        element_at(centers, pmod(col("vec_id"), lit(kCells)).cast("int") + 1),
        col("embedding"),
        (ce, e) => (ce * lit(1.0 - eps) + e * lit(eps)).cast("float"))
        .as("embedding"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(got: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
      got.intersect(exact).size.toDouble / exact.size
    /** One corpus's full curve: build+index untimed, exact baseline,
      * then the probes ladder. Returns (exactSecs, per-probe int8 points,
      * per-probe residual-PQ recall). */
    def curve(corpus: DataFrame, tag: String): (Double, Seq[Point], Seq[Double]) =
      withWork(s"ivf-recall-$tag") { frozen =>
        // planted vectors are derived per-read; materialize once so index
        // build, exact baseline and every serve see identical bytes
        // without recomputing the blend per pass
        corpus.write.mode("overwrite").parquet(s"$frozen/corpus")
        val cf = c.spark.read.parquet(s"$frozen/corpus")
        val queries = cf.filter(col("vec_id") < 100)
        val path = s"$frozen/ix"
        val cents = Similarity.kmeansFit(cf, "vec_id", "embedding", k = kCells, iters = 3)
        Similarity.writeLearnedIndex(cf, "vec_id", "embedding", path,
          Similarity.IvfQuantizer(cents))
        // the residual-PQ twin of the same corpus at the same cells: the
        // 8-byte-code serving tier's recall ladder beside int8's, so the
        // recall COST of the extra 9x compression is an artifact fact
        // (recall is deterministic — seeded fits — and is the claim; the
        // int8 ladder's secs already carry the timing context)
        val pqPath = s"$frozen/pqix"
        Similarity.writeLearnedIndex(cf, "vec_id", "embedding", pqPath,
          Similarity.IvfQuantizer(cents, Some(Similarity.trainPqResidual(cf,
            "vec_id", "embedding", cents, m = 8, ksub = 16, iters = 3))))
        val exactDf = Similarity.bruteForceTopK(cf, queries, "vec_id", "embedding", topK)
        val exactSecs = c.timed(exactDf.count()).secs
        val exact = pairs(exactDf)
        val rows = probes.map { np =>
          def served = Similarity.serveLearnedIndex(path, cf, queries,
            "vec_id", "embedding", k = topK, nprobe = np)
          // untimed warmup PER POINT: every nprobe is a distinct plan
          // (different slice literal + probed-cell list), so each pays its
          // own analysis + codegen. Even so, the FIRST point reads
          // ~0.3-0.5 s slow whatever its nprobe (verified by reversing the
          // probe order: the slowdown follows the position, not the
          // parameter — host/JVM settling at sub-second absolutes), so
          // secs are context; the recall columns, deterministic, carry
          // the claim.
          served.count()
          val secs = c.timed(served.count()).secs
          Point("nprobe" -> np, "recall" -> recall(pairs(served), exact), "secs" -> secs)
        }
        // near-monotonicity, with slack: at a FIXED candidateFactor a true
        // neighbor inside its own cell's shortlist at nprobe=1 can be
        // evicted from the global shortlist at nprobe=k by spurious
        // high-approx-cosine candidates from other cells, so strict recall
        // monotonicity is not algorithmically guaranteed — the require
        // catches gross inversions (a broken serve), not shortlist jitter
        require(rows.last.d("recall") >= rows.head.d("recall") - 0.05,
          s"[$tag] probing every cell must not recall (materially) less " +
            s"than one cell: ${rows.map(_.cols)}")
        val pqRecall = probes.map(np => recall(pairs(Similarity.serveLearnedIndex(pqPath, cf,
          queries, "vec_id", "embedding", k = topK, nprobe = np)), exact))
        (exactSecs, rows, pqRecall)
      }
    val (exactSecs, rows, pqRecall) = curve(uniform, "uniform")
    val (plantedExactSecs, plantedRows, plantedPqRecall) = curve(planted, "planted")
    // the cross-corpus claim: cluster structure is what low-nprobe
    // serving feeds on — at nprobe=1 the planted corpus must beat the
    // uniform one outright (0.175 vs ~1.0 at the committed geometry)
    require(plantedRows.head.d("recall") > rows.head.d("recall"),
      s"planted clusters did not lift nprobe=1 recall: " +
        s"planted ${plantedRows.head("recall")} vs uniform ${rows.head("recall")}")
    // gross-breakage pin for the 8-byte tier: on the clustered corpus
    // residual-PQ must stay NEAR the int8 curve (0.932 vs 1.0 at the
    // committed geometry — the measured cost of the further 9×
    // compression); a collapse means the residual encode or the ADC
    // shortlist broke, not that the trade moved
    require(plantedPqRecall.head >= 0.8,
      s"clustered-corpus residual-PQ recall collapsed: $plantedPqRecall")
    // PQ DIAL (r14 verdict stretch #7): the m / candidateFactor sweep
    // that turns the unstructured corpus's honest-but-low PQ recall
    // into a DIAL the serving API can cite — more code bytes (m) and a
    // deeper ADC shortlist (candidateFactor) buy recall back, and the
    // artifact shows by how much, point by point, beside the committed
    // geometry (m=8, cf=4). Recall is deterministic (seeded fits), so
    // the points are claims, not weather.
    val dialNprobe = 8
    val dQueries = uniform.filter(col("vec_id") < 100)
    val dCents = Similarity.kmeansFit(uniform, "vec_id", "embedding", k = kCells, iters = 3)
    val dExact = pairs(Similarity.bruteForceTopK(uniform, dQueries,
      "vec_id", "embedding", topK))
    val dial = withWork("pq-dial") { dialDir =>
      Seq(4, 8, 16).flatMap { m =>
        val p = s"$dialDir/ix_m$m"
        Similarity.writeLearnedIndex(uniform, "vec_id", "embedding", p,
          Similarity.IvfQuantizer(dCents, Some(Similarity.trainPqResidual(uniform,
            "vec_id", "embedding", dCents, m = m, ksub = 16, iters = 3))))
        Seq(4, 16).map { cf =>
          Point("m" -> m, "cf" -> cf, "recall" -> recall(pairs(Similarity.serveLearnedIndex(
            p, uniform, dQueries, "vec_id", "embedding", k = topK, nprobe = dialNprobe,
            candidateFactor = cf)), dExact))
        }
      }
    }
    // gross-breakage pin: the dial must point the right way — the
    // largest geometry cannot recall less than the smallest
    require(dial.last.d("recall") >= dial.head.d("recall") - 0.02,
      s"PQ dial inverted (m=16/cf=16 under m=4/cf=4): ${dial.map(_.cols)}")
    // OPQ vs plain PQ at EQUAL bytes/vec (r15 verdict #1): the learned
    // rotation's measured recall lift on the unstructured corpus, same
    // m × cf sweep. The quantizer is ISOLATED — one cell, exhaustive
    // ADC, exact re-score — so the delta is the rotation's, not the
    // coarse partitioner's. Deterministic (md5 sample, Jacobi,
    // Procrustes, seeded Lloyd), so the points are claims, not weather.
    val oneCell = uniform.withColumn("part", lit(0))
    val oneQ = dQueries.withColumn("part", lit(0))
    val opqDial = Seq(4, 8, 16).flatMap { m =>
      val cbP = Similarity.trainPq(uniform, "vec_id", "embedding", m = m, ksub = 16, iters = 3)
      val (rotO, cbO) = Similarity.trainOpq(uniform, "vec_id", "embedding",
        m = m, ksub = 16, iters = 3, opqIters = 2)
      val ixP = Similarity.buildPqIndex(oneCell, "vec_id", "embedding", "part", cbP)
      val ixO = Similarity.buildOpqIndex(oneCell, "vec_id", "embedding", "part", rotO, cbO)
      Seq(4, 16).map { cf =>
        Point("m" -> m, "cf" -> cf,
          "recall_pq" -> recall(pairs(Similarity.ivfTopKPq(ixP, uniform, oneQ, "vec_id",
            "embedding", "part", cbP, topK, cf)), dExact),
          "recall_opq" -> recall(pairs(Similarity.ivfTopKOpq(ixO, uniform, oneQ, "vec_id",
            "embedding", "part", rotO, cbO, topK, cf)), dExact))
      }
    }
    // gross-breakage pin: on average the rotation must not LOSE recall
    // at equal bytes/vec (the artifact carries the per-point lifts)
    require(opqDial.map(_.d("recall_opq")).sum >=
      opqDial.map(_.d("recall_pq")).sum - 0.02 * opqDial.size,
      s"OPQ under plain PQ at equal bytes/vec: ${opqDial.map(_.cols)}")
    Record.metric("ivf_recall_nprobe").put("reps", c.reps).put("k", kCells)
      .put("topk", topK).put("n_queries", 100).put("vecs", nVecs).put("candidate_factor", 4)
      .cols(rows, "nprobe").fmt("%.4f", rows, "recall").secs(rows, "secs")
      .num("exact_secs", exactSecs).num("planted_eps", eps, "%.2f")
      .nums("planted_recall", plantedRows.map(_.d("recall")), "%.4f")
      .nums("planted_secs", plantedRows.map(_.d("secs")))
      .num("planted_exact_secs", plantedExactSecs)
      .nums("pq_recall", pqRecall, "%.4f").nums("planted_pq_recall", plantedPqRecall, "%.4f")
      .put("pq_dial", new Record().put("nprobe", dialNprobe).cols(dial, "m", "cf")
        .put("bytes_per_vec", dial.map(_("m"))).fmt("%.4f", dial, "recall")
        .put("opq", new Record().cols(opqDial, "m", "cf")
          .fmt("%.4f", opqDial, "recall_pq", "recall_opq")))
  }

  /** Streaming semantic-curation scale harness: the batch capstone has a
    * measured slope (bench_scale_curate.json); this measures the STREAMING
    * capstone ([[graft.streaming.StreamingCurate.idempotentCurateSemanticSink]])
    * — micro-batch throughput and gate-state growth at 1×–8×, the r15
    * verdict's ask. Per size: the documents corpus replicated k×
    * ([[rotatedReplica]] text, embeddings attached by `orig_id mod
    * n_vecs` and DE-CORRELATED per replica by a circular dimension
    * shift, so cross-replica rows are NOT semantic near-dups and the
    * kept set genuinely grows), drained through the sink as FOUR
    * file-source micro-batches against a fresh gate state. Columns:
    * drain secs (median of reps, fresh state per rep), rows/s, admitted
    * rows, kept-set state rows and on-disk MB — state growth is the
    * scale claim (bounded by admitted rows, cell-partitioned reads),
    * throughput the cost claim. */
  private def scaleCurateStream(c: Ctx): Record = {
    import graft.operators.Similarity
    import graft.streaming.{SemDedupIngest, StreamingCurate}
    val spark = c.spark
    val docs = c.docs
    val embs = c.embeddings
    val nVecs = embs.count()
    val dims = embs.select(size(col("embedding"))).head().getInt(0)
    val span = idSpan(docs, "doc_id")
    def replica(r: Int) = {
      val shift = (r * 7) % dims // de-correlate embeddings across replicas
      val emb =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dims - shift),
          slice(col("embedding"), 1, shift))
      rotatedReplica(docs, span, r)
        .withColumn("vec_id", pmod(col("doc_id") - lit(r * span), lit(nVecs)))
        .join(embs, "vec_id")
        .select(col("doc_id"), col("text"), emb.as("embedding"))
    }
    val bloom = StreamingCurate.evalShingleBloom(
      docs.filter(pmod(col("doc_id"), lit(97)) === 0), "doc_id", "text")
    val cents = Similarity.kmeansFit(embs, "vec_id", "embedding", k = 8, iters = 3)
    val nBatches = 4
    // (secs, admitted rows, state rows, state MB) of one drain; only
    // processAllAvailable is timed
    def drain(corpus: DataFrame): (Double, Long, Long, Double) = withWork("curate-stream") { root =>
      val landing = s"$root/landing"
      corpus.repartition(nBatches).write.parquet(landing)
      val statePath = s"$root/gate"
      SemDedupIngest.init(spark, statePath, cents)
      val sink = StreamingCurate.idempotentCurateSemanticSink(
        s"$root/out", statePath, "doc_id", "text", "embedding", bloom,
        minCosine = 0.95)
      val q = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(sink).start()
      val (_, secs) = clock(q.processAllAvailable())
      q.stop()
      val admitted = spark.read.parquet(s"$root/out").count()
      val stateRows = SemDedupIngest.keptSet(spark, statePath).count()
      (secs, admitted, stateRows, treeBytes(new java.io.File(statePath)) / 1e6)
    }
    drain(replica(0)) // untimed warmup: codegen + stream-machinery init
    c.drop()
    val pts = Seq(1, 2, 4, 8).map { n =>
      val corpus = replicas(n)(replica)
      val nDocs = corpus.count()
      val runs = (0 until c.reps).map { _ => c.drop(); drain(corpus) }
      val (secs, admitted, stateRows, stateMb) = runs.sortBy(_._1).apply(c.reps / 2)
      // admitted / state are deterministic across reps — assert, don't avg
      require(runs.map(_._2).distinct.size == 1 && runs.map(_._3).distinct.size == 1,
        s"streaming curate nondeterministic at ${n}x: $runs")
      Point("sizes" -> n, "docs" -> nDocs, "secs" -> secs, "rows_per_sec" -> nDocs / secs,
        "admitted" -> admitted, "state_rows" -> stateRows, "state_mb" -> stateMb)
    }
    Record.metric("curate_stream_scale").put("reps", c.reps).put("batches", nBatches)
      .num("min_cosine", 0.95, "%.2f").cols(pts, "sizes", "docs").secs(pts, "secs")
      .fmt("%.1f", pts, "rows_per_sec").cols(pts, "admitted", "state_rows")
      .mb(pts, "state_mb").slope("slope_secs", pts, "secs")
      .segmentSlopes("segment_slopes", pts, "secs")
  }

  /** Quality-classifier TRAIN/SERVE economics. Two claims measured per
    * size (plain re-id'd 1–8× replicas of the documents table, labels
    * from the heuristic gate exactly as q_quality_classifier distills
    * them):
    *  - TRAIN cost is linear in the corpus (each GD step is one margin
    *    probe pass + one explode/aggregate pass, both single scans), and
    *    the driver's footprint stays CONSTANT — the gradient collect is
    *    bounded by `dim`, never by rows (nonzero-weight count recorded
    *    per size as the bound's witness).
    *  - SERVE is one broadcast probe per doc, no shuffle: scored rows/s
    *    and shuffle-write MB (must be ~0) per size.
    * REQUIRED exact per size: a replica copy of a document (same text,
    * shifted id) serves the IDENTICAL integer margin as its base — the
    * hashing/scoring path is content-deterministic by construction, so
    * any drift is a bug, not weather. */
  private def scaleQualityClassifier(c: Ctx): Record = {
    import graft.operators.{TextAnalysis, TextClassifier}
    val docs = c.docs
    val span = idSpan(docs, "doc_id")
    val labeled = TextAnalysis.withQuality(docs, "text")
      .select(col("doc_id"), col("text"),
        (col("quality_score") >= 0.5).cast("int").as("label"))
    def replica(k: Int) = labeled.select(
      (col("doc_id") + lit(k * span)).as("doc_id"), col("text"), col("label"))
    val dim = 1 << 16
    val pts = Seq(1, 2, 4, 8).map { n =>
      val corpus = replicas(n)(replica).persist()
      val nDocs = corpus.count()
      // each rep re-materializes the persisted input, untimed
      val train = c.timedAfter(corpus.count())(TextClassifier.train(corpus, "text", "label",
        dim = dim, iters = 8, lr = 0.5))
      val q = train.last.quantize
      val serve = c.timedAfter(corpus.count())(
        TextClassifier.score(corpus, "doc_id", "text", q).count())
      require(serve.last == nDocs, s"serve must score every row at ${n}x")
      // REQUIRED exact: replica copies serve identical margins — join
      // each copy to its base by id offset, compare integer margins
      if (n > 1) {
        val scored = TextClassifier.score(corpus, "doc_id", "text", q)
          .select(col("doc_id"), col("margin_q"))
        val base = scored.filter(col("doc_id") < span)
          .select(col("doc_id").as("bid"), col("margin_q").as("bm"))
        val drift = scored.filter(col("doc_id") >= span)
          .withColumn("bid", pmod(col("doc_id"), lit(span)))
          .join(base, "bid")
          .filter(col("margin_q") =!= col("bm")).count()
        require(drift == 0, s"replica copies served $drift diverging margins at ${n}x")
      }
      corpus.unpersist()
      Point("sizes" -> n, "docs" -> nDocs, "train_secs" -> train.secs,
        "nonzero_weights" -> q.qweights.count(_ != 0L), "serve_secs" -> serve.secs,
        "served_rows" -> serve.last, "serve_shuffle_mb" -> serve.io.shuffleMb)
    }
    Record.metric("qc_scale").put("reps", c.reps).put("dim", dim).put("iters", 8)
      .cols(pts, "sizes", "docs").secs(pts, "train_secs").cols(pts, "nonzero_weights")
      .secs(pts, "serve_secs").cols(pts, "served_rows").mb(pts, "serve_shuffle_mb")
      .slope("slope_train", pts, "train_secs").slope("slope_serve", pts, "serve_secs")
  }

  /** Multimodal-dedup economics. The narrow-pass claim measured: the
    * decode+hash pass reads the full payload bytes but emits 8 BYTES PER
    * ASSET (hash rows), so the banded pairing downstream scales on the
    * hash table alone, never the payloads. Per size (1–4× synthetic
    * corpora of SparkEntry's image/audio/video generators, every 5th
    * asset planted as a real-operator transcode copy):
    * decode+hash secs and input MB for ALL THREE modalities, payload MB
    * on disk, pair counts split into PLANTED (id_b − id_a == the plant
    * offset) and OTHER (honest dHash/fingerprint statistics: unrelated
    * smooth fields occasionally land within the radius — measured, never
    * hidden; plant recall rides as its own column). REQUIRED exact:
    * hashes and banding are id-deterministic, so each ladder size's pair
    * SET must CONTAIN the previous size's (the prefix ids are the same
    * assets) — a vanished pair means nondeterminism, which is a bug. */
  private def scaleMultimodalDedup(c: Ctx): Record = withWork("mm-scale") { work =>
    import graft.operators.{Dedup, Multimodal}
    val spark = c.spark
    val perReplica = 2000L
    val kinds = Seq("img", "pcm", "vid")
    // persisted corpora per size, synthesis untimed (the q_image_dedup
    // discipline: the measured body is decode+hash, not byte-building).
    // One measurement shape per modality — image, audio, and (r18)
    // video, whose hash pass decodes only the SAMPLED frames per clip.
    def buildCorpus(n: Int, kind: String): String = {
      val path = s"$work/$kind$n"
      val ids = spark.range(n * perReplica).toDF("doc_id")
      val (payload, mime) = kind match {
        case "img" => (SparkEntry.synthImagePayload(col("doc_id")), "image/bmp")
        case "pcm" => (SparkEntry.synthAudioPayload(col("doc_id")), "audio/pcm-u8")
        case _ => (SparkEntry.synthVideoPayload(col("doc_id")), "video/x-graft-bmpseq")
      }
      val base = Multimodal.toAssets(
        ids.select(col("doc_id"), payload.as("pl")), "doc_id", "pl", mime)
      val planted = base.filter(pmod(col("asset_id"), lit(5)) === 0)
      val copies = (kind match {
        case "img" => Multimodal.resizeImages(planted, 128, 96)
        case "pcm" => Multimodal.resamplePcm(planted, 3000, gain = 0.5)
        case _ => Multimodal.transcodeVideo(planted,
          Multimodal.VideoSampleFrames, 96, 72)
      }).select((col("asset_id") + lit(PlantOffset)).as("asset_id"),
        col("content"), col("meta"))
      base.unionByName(copies).write.mode("overwrite").parquet(path)
      path
    }
    // one modality at one size: its point columns and its pair set
    def measure(n: Int, kind: String): (Seq[(String, Any)], Set[(Long, Long)]) = {
      val path = buildCorpus(n, kind)
      val hash = c.timed((kind match {
        case "img" => Multimodal.imageDHash(spark.read.parquet(path))
        case "pcm" => Multimodal.audioFingerprints(spark.read.parquet(path))
        case _ => Multimodal.videoDHash(spark.read.parquet(path))
      }).count())
      val pairs = (kind match {
        case "img" => Dedup.imageNearDupPairs(spark.read.parquet(path))
        case "pcm" => Dedup.audioNearDupPairs(spark.read.parquet(path))
        case _ => Dedup.videoNearDupPairs(spark.read.parquet(path))
      }).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      c.drop()
      val plants = pairs.count { case (x, y) => y - x == PlantOffset }.toLong
      (Seq(s"${kind}_disk_mb" -> treeBytes(new java.io.File(path)) / MB,
        s"${kind}_hash_secs" -> hash.secs, s"${kind}_read_mb" -> hash.io.inputMb,
        s"${kind}_hashes" -> hash.last, s"${kind}_plant_pairs" -> plants,
        s"${kind}_other_pairs" -> (pairs.size - plants),
        s"${kind}_plant_recall" -> plants.toDouble / (n * perReplica / 5).toDouble), pairs)
    }
    val ladder = Seq(1, 2, 4).map { n =>
      val byKind = kinds.map(measure(n, _))
      (Point("sizes" -> n, "assets_base" -> n * perReplica) ++ (byKind.flatMap(_._1): _*),
        kinds.zip(byKind.map(_._2)).toMap)
    }
    // REQUIRED exact: id-determinism makes the ladder's pair sets
    // prefix-monotone — a pair found at size k must be found at every
    // larger size (same ids, same hashes, same bands)
    ladder.sliding(2).foreach {
      case Seq((a, pa), (b, pb)) => kinds.foreach { k =>
        require(pa(k).subsetOf(pb(k)),
          s"$k pair set regressed ${a("sizes")}x -> ${b("sizes")}x: " +
            s"${(pa(k) -- pb(k)).take(3)}")
      }
      case _ =>
    }
    val pts = ladder.map(_._1)
    val blocks = kinds.foldLeft(Record.metric("multimodal_scale").put("reps", c.reps)
        .put("per_replica", perReplica).cols(pts, "sizes", "assets_base")) { (r, k) =>
      r.mb(pts, s"${k}_disk_mb").secs(pts, s"${k}_hash_secs").mb(pts, s"${k}_read_mb")
        .cols(pts, s"${k}_hashes", s"${k}_plant_pairs", s"${k}_other_pairs")
        .fmt("%.3f", pts, s"${k}_plant_recall")
    }
    kinds.foldLeft(blocks)((r, k) => r.slope(s"slope_${k}_hash", pts, s"${k}_hash_secs"))
  }

  /** Shared plant-copy id offset for the multimodal scale corpora. */
  private val PlantOffset = 10000000L

  /** CONCURRENT-serving harness. Every other number in the suite is
    * serialized query-at-a-time; a production cluster serves many
    * queries AT ONCE on one long-lived session. The claim under test:
    * the persisted-layout serve paths (BM25, IVF/PQ/OPQ, pruned LM) are
    * driver-light and partition-pruned enough that N of them in flight
    * share the executor pool instead of convoying — wall-clock for N
    * concurrent serves ≪ the sum of their serial latencies, and no
    * single query's latency degrades unboundedly (p95 stays within a
    * small factor of its solo median).
    *
    * Method: one FAIR-scheduler session (the table entry's session conf;
    * each query thread gets its own pool, so no job-level FIFO convoy —
    * undeclared pools share fairly with weight 1); the 8 serve queries
    * prewarm serially (persisted layouts + codegen, untimed), then
    * `rounds` SERIAL rounds (each query once, back-to-back — the warm
    * solo baseline) and `rounds` CONCURRENT rounds (all 8 launched
    * simultaneously from 8 threads behind a start latch, each timed to
    * its own finish; wall = latch release → last finish). Caches stay
    * WARM throughout (that is the serving scenario — the cold-build cost
    * is measured elsewhere); between rounds only a GC settle runs, off
    * every timed window. Row counts are pinned to the prewarm answer on
    * every timed run, so no concurrency win can come from a wrong or
    * short-circuited answer. p50/p95 are nearest-rank over `rounds`
    * samples (default 8 — p95 ≈ max at that depth; raise
    * SPARK_GRAFT_CONC_ROUNDS for a finer tail).
    *
    * A final NOISY-NEIGHBOR section times one serve per family while the
    * kn5 train loops in a separate FAIR pool — the multi-tenant shape:
    * `under_train.slowdown_p50` is the fair-share latency tax an
    * interactive tenant pays next to a batch tenant. */
  private def scaleConcurrentServing(c: Ctx): Record = {
    val spark = c.spark
    val sfDir = c.sfDir
    // the serving mix: one query per persisted-layout family, all
    // *_served twins (answered from an already-committed index/model —
    // no build work inside the timed body)
    val mix = Seq("q_bm25_served", "q_ann_serve", "q_ann_pq_served",
      "q_ann_opq_served", "q_ann_pq_res_served", "q_lm_xent_served",
      "q_lm_xent_kn5_served", "q_lm_xent_mkn5_served")
    val fns = mix.map(n => n -> SparkEntry.queries(n))
    val rounds = math.max(2, sys.env.get("SPARK_GRAFT_CONC_ROUNDS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(8))
    // prewarm twice: pass 1 builds the per-dir persisted layouts (the
    // lazily-initialized per-JVM caches MUST be built serially — the
    // concurrent phase would otherwise race 8 builders), pass 2 runs the
    // steady-state serve plan so codegen is compiled before any timer
    val expectRows: Map[String, Long] = fns.map { case (n, fn) =>
      fn(spark, sfDir).count(); n -> fn(spark, sfDir).count()
    }.toMap
    def settle(): Unit = { System.gc(); Thread.sleep(200) }
    def timedCount(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val (rows, secs) = clock(fn(spark, sfDir).count())
      require(rows == expectRows(name),
        s"$name answered $rows rows under load, expected ${expectRows(name)}")
      secs
    }
    def latencies() = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // SERIAL rounds: warm solo latencies, one round = all 8 back-to-back
    val serialLat = latencies()
    val serialWalls = (0 until rounds).map { _ =>
      settle()
      clock(fns.foreach { case (n, fn) => serialLat(n) = serialLat(n) :+ timedCount(n, fn) })._2
    }
    // CONCURRENT rounds: all 8 in flight on the one session, each thread
    // in its own FAIR pool; a thread failure is recorded and rethrown
    // after join (never swallowed into a fake timing)
    val concLat = latencies()
    val concWalls = (0 until rounds).map { _ =>
      settle()
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val lats = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
      val threads = fns.map { case (n, fn) =>
        val t = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", n)
          start.await()
          try lats.put(n, timedCount(n, fn))
          catch { case e: Throwable => errs.add(e) }
        }, s"conc-$n")
        t.start(); t
      }
      val (_, wall) = clock { start.countDown(); threads.foreach(_.join()) }
      if (!errs.isEmpty) throw errs.peek()
      fns.foreach { case (n, _) => concLat(n) = concLat(n) :+ lats.get(n).doubleValue() }
      wall
    }
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
    val perQuery = mix.foldLeft(new Record()) { (r, n) =>
      val sp50 = pct(serialLat(n), 0.50)
      val cp50 = pct(concLat(n), 0.50)
      r.put(n, new Record().num("serial_p50", sp50).num("conc_p50", cp50)
        .num("conc_p95", pct(concLat(n), 0.95)).num("slowdown_p50", cp50 / sp50, "%.2f")
        .put("rows", expectRows(n)))
    }
    val serialSum = mix.map(n => pct(serialLat(n), 0.50)).sum
    val cWall = pct(concWalls, 0.50)
    // NOISY-NEIGHBOR section: one serve query per family timed while a
    // HEAVY TRAIN (the kn5 cascade — the suite's most expensive job) runs
    // uninterrupted in a different FAIR pool. The claim: fair sharing
    // keeps interactive serve latency bounded next to a batch tenant —
    // the multi-tenant cluster case the serial suite can never show.
    // The train is re-launched per round so contention covers the whole
    // serve window; its own completion time is NOT the measurement.
    val nnMix = Seq("q_bm25_served", "q_ann_serve", "q_ann_opq_served",
      "q_lm_xent_served")
    val trainFn = SparkEntry.queries("q_lm_xent_kn5")
    val nnLat = latencies()
    (0 until rounds).foreach { _ =>
      settle()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val trainer = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "train")
        while (!stop.get())
          try trainFn(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] neighbor train failed: ${e.getMessage}")
            stop.set(true)
          }
      }, "conc-train")
      trainer.start()
      Thread.sleep(300) // let the train actually occupy the pool first
      nnMix.foreach { n =>
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "serve")
        nnLat(n) = nnLat(n) :+ timedCount(n, SparkEntry.queries(n))
      }
      stop.set(true); trainer.join()
    }
    val underTrain = nnMix.foldLeft(new Record()) { (r, n) =>
      val solo = pct(serialLat(n), 0.50)
      val p50 = pct(nnLat(n), 0.50)
      r.put(n, new Record().num("solo_p50", solo).num("under_train_p50", p50)
        .num("under_train_p95", pct(nnLat(n), 0.95)).num("slowdown_p50", p50 / solo, "%.2f"))
    }
    Record.metric("concurrent_serving").put("n_concurrent", mix.size).put("rounds", rounds)
      .put("scheduler", "FAIR").put("queries", perQuery).num("serial_sum_p50", serialSum)
      .num("serial_wall_p50", pct(serialWalls, 0.50)).num("concurrent_wall_p50", cWall)
      .num("concurrent_wall_p95", pct(concWalls, 0.95))
      .num("speedup_vs_serial_sum", serialSum / cWall, "%.2f")
      .put("under_train", new Record().put("neighbor", "q_lm_xent_kn5")
        .put("queries", underTrain))
  }
}
