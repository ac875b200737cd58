package graft

import graft.runner.Main

/** CLI smoke: drives raw CSVs → daily FRESCO parquet → bucketed wide table
  * → finalized output through `Main.run`'s exact arg-parse + execution
  * path (the `spark-submit` surface), plus the compactor's drain-and-exit
  * mode. */
class RunnerSpec extends SparkSpec {

  private val T = "01/01/2013"

  private def outDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toFile.getAbsolutePath

  test("step1 → step2 → step3 CLI round trip produces the finalized wide table") {
    val block = tmpCsv("block.csv",
      "jobID,node,timestamp,device,rd_sectors,wr_sectors",
      s"job1,N1,$T 10:00:00,sda,0,0",
      s"job1,N1,$T 10:01:00,sda,1048576,1048576")
    val cpu = tmpCsv("cpu.csv",
      "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,softirq",
      s"job1,N1,$T 10:00:00,cpu0,100,0,0,900,0,0,0",
      s"job1,N1,$T 10:01:00,cpu0,200,0,0,1800,0,0,0")
    val llite = tmpCsv("llite.csv",
      "jobID,node,timestamp,read_bytes,write_bytes",
      s"job1,N1,$T 10:00:00,0,0",
      s"job1,N1,$T 10:01:00,52428800,52428800")
    val mem = tmpCsv("mem.csv",
      "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
      s"job1,N1,$T 10:00:00,2147483648,1073741824,1073741824,536870912")
    val acct = tmpCsv("accounting.csv",
      "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,start,end,submit,exit_status",
      s"job1,alice,acctA,sim,normal,1,16,3600,$T 10:00:00,$T 10:02:00,$T 09:59:00,0")

    val fresco = outDir("cli-fresco")
    val wide = outDir("cli-wide")
    val fin = outDir("cli-final")

    Main.run(Seq("step1", "--block", block, "--cpu", cpu, "--llite", llite,
      "--mem", mem, "--out", fresco, "--overwrite"), spark)
    val frescoBack = spark.read.parquet(fresco)
    assert(frescoBack.count() > 0)
    assert(frescoBack.columns.contains("date")) // daily partitioned

    Main.run(Seq("step2", "--metrics", fresco, "--accounting", acct,
      "--out", wide), spark)
    val wideBack = spark.read.parquet(wide)
    assert(wideBack.schema.fieldNames.toSeq == schemas.Schemas.outputColumns)
    assert(wideBack.count() == 2) // job1: buckets 0 and 1

    Main.run(Seq("step3", "--in", wide, "--out", fin), spark)
    val finBack = spark.read.parquet(fin).collect()
    assert(finBack.forall(_.getAs[String]("host") == "N1_S"))
    assert(finBack.forall(_.getAs[String]("jid") == "1_S"))
    assert(finBack.forall(_.getAs[String]("username") == "alice_S"))
  }

  test("curate CLI: decontaminate + quality + dup-removal + redact + split end to end") {
    import spark.implicits._
    val stop = "the alpha and the beta of the gamma in the delta"
    val dupText = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, stop),                                             // keeper
      (2L, dupText),                                          // dup winner (min id)
      (3L, dupText),                                          // dup LOSER -> removed
      (4L, "xxxxx yyyyy"),                                    // low quality -> removed
      (5L, "the totally unique eval sequence inside the train and the rest")
    ).toDF("doc_id", "text")                                  // 5: contaminated -> removed
    val evalDocs = Seq((100L, "unique eval sequence words here"))
      .toDF("doc_id", "text")
    val in = outDir("cli-docs"); val ev = outDir("cli-eval"); val out = outDir("cli-curated")
    docs.write.mode("overwrite").parquet(in)
    evalDocs.write.mode("overwrite").parquet(ev)
    Main.run(Seq("curate", "--in", in, "--eval", ev, "--out", out,
      "--shingle-k", "3"), spark)
    val back = spark.read.parquet(out)
    val ids = back.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L),
      s"expected the keeper and the dup winner only, got $ids")
    assert(Set("redacted", "split", "quality_score")
      .subsetOf(back.columns.toSet))
    assert(back.select("split").as[String].collect()
      .forall(Set("train", "val", "test")))
  }

  test("index lifecycle CLI: build → filter → append → filter → compact — " +
    "the ingest loop") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river " +
        "bank while the heron watches from the reeds in the morning light")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      // near-dup of landed doc 1 → filtered
      (10L, "the quick brown fox jumps over the lazy cat near the old river " +
        "bank while the heron watches from the reeds in the morning light"),
      // novel → kept, then appended
      (11L, "a completely new report about the harvest with plenty of the " +
        "usual words in it for the quality gate to like and to keep")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      // near-dup of doc 11 — only catchable because batch1's kept docs
      // were APPENDED to the index between the cycles
      (20L, "a completely new report about the orchard with plenty of the " +
        "usual words in it for the quality gate to like and to keep"),
      (21L, "entirely novel appended content about deep sea creatures and " +
        "their bioluminescent signalling habits")
    ).toDF("doc_id", "text")
    val cdir = outDir("cli-ix-corpus"); val b1 = outDir("cli-ix-b1")
    val b2 = outDir("cli-ix-b2"); val k1 = outDir("cli-ix-kept1")
    val k2 = outDir("cli-ix-kept2")
    corpus.write.mode("overwrite").parquet(cdir)
    batch1.write.mode("overwrite").parquet(b1)
    batch2.write.mode("overwrite").parquet(b2)
    try {
      Main.run(Seq("index-build", "--in", cdir, "--name", "cli_ix",
        "--buckets", "4"), spark)
      Main.run(Seq("index-filter", "--in", b1, "--name", "cli_ix",
        "--out", k1, "--jaccard", "0.5"), spark)
      assert(spark.read.parquet(k1).select("doc_id").as[Long].collect().toSet
        == Set(11L), "near-dup of the corpus must be filtered, novel kept")
      Main.run(Seq("index-append", "--in", k1, "--name", "cli_ix"), spark)
      Main.run(Seq("index-filter", "--in", b2, "--name", "cli_ix",
        "--out", k2, "--jaccard", "0.5"), spark)
      assert(spark.read.parquet(k2).select("doc_id").as[Long].collect().toSet
        == Set(21L),
        "a near-dup of a doc kept LAST cycle must be filtered this cycle")
      // compaction closes the loop: epochs merge to one, and the SAME
      // filter still removes the near-dups both epochs contributed
      Main.run(Seq("index-compact", "--name", "cli_ix"), spark)
      assert(spark.table("cli_ix_meta").count() == 1,
        "compaction must leave exactly one committed epoch")
      val k3 = outDir("cli-ix-kept3")
      Main.run(Seq("index-filter", "--in", b2, "--name", "cli_ix",
        "--out", k3, "--jaccard", "0.5"), spark)
      assert(spark.read.parquet(k3).select("doc_id").as[Long].collect().toSet
        == Set(21L), "the compacted index must serve both former epochs")
      // the takedown: remove doc 1 from the reference corpus — batch1's
      // near-dup of it must stop being filtered
      val takedown = outDir("cli-ix-takedown")
      Seq(Tuple1(1L)).toDF("doc_id").write.mode("overwrite").parquet(takedown)
      Main.run(Seq("index-delete", "--in", takedown, "--name", "cli_ix"), spark)
      val k4 = outDir("cli-ix-kept4")
      Main.run(Seq("index-filter", "--in", b1, "--name", "cli_ix",
        "--out", k4, "--jaccard", "0.5"), spark)
      assert(spark.read.parquet(k4).select("doc_id").as[Long].collect().toSet
        == Set(10L),
        "after the takedown the near-dup of the deleted doc must be kept " +
          "(11 is still filtered - it matches ITSELF, appended last cycle)")
    } finally {
      dropTables()
    }
  }

  test("mix CLI: per-group token budgets honored in deterministic hash order") {
    import spark.implicits._
    // 4 docs of 4 tokens per group: a budget of 9 keeps exactly the first
    // two docs in (md5(id), id) order — which two is deterministic but
    // hash-defined, so assert the budget arithmetic, not identities
    val docs = (0L until 8L).map(i =>
      (i, if (i < 4) "web" else "code", "tok tok tok tok")).toDF("doc_id", "src", "text")
    val in = outDir("cli-mix-in"); val out = outDir("cli-mix-out")
    docs.write.mode("overwrite").parquet(in)
    Main.run(Seq("mix", "--in", in, "--group", "src",
      "--budgets", "web=9,code=4", "--out", out), spark)
    val kept = spark.read.parquet(out)
      .select("src", "doc_id").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(kept.count(_._1 == "web") == 2, "9-token budget keeps two 4-token docs")
    assert(kept.count(_._1 == "code") == 1, "4-token budget keeps exactly one")
    // determinism: a second run keeps the same ids
    val out2 = outDir("cli-mix-out2")
    Main.run(Seq("mix", "--in", in, "--group", "src",
      "--budgets", "web=9,code=4", "--out", out2), spark)
    assert(spark.read.parquet(out2).select("src", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq == kept.sorted.toSeq)
  }

  test("lm CLI: train(+prune) → score → filter — the reference-LM gate loop") {
    import spark.implicits._
    val fluent = "the quick brown fox jumps over the lazy dog and the " +
      "quick brown fox jumps over the lazy dog again for the usual walk"
    val gibberish = fluent.split(" ").sorted.reverse.mkString(" ")
    val ref = outDir("cli-lm-ref"); val model = outDir("cli-lm-model")
    Seq((50L, fluent), (51L, fluent)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(ref)
    Main.run(Seq("lm-train", "--in", ref, "--path", model,
      "--prune-min", "2"), spark)
    val in = outDir("cli-lm-in"); val scored = outDir("cli-lm-scored")
    Seq((1L, fluent), (2L, gibberish), (3L, "solo")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    Main.run(Seq("lm-score", "--in", in, "--path", model,
      "--out", scored), spark)
    val xs = spark.read.parquet(scored).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(xs(3L)._2.isEmpty && xs(3L)._1 == 0L, "1-token doc scores NULL")
    assert(xs(1L)._2.get < xs(2L)._2.get, "scrambling must raise xent")
    val tau = (xs(1L)._2.get + xs(2L)._2.get) / 2
    val kept = outDir("cli-lm-kept")
    Main.run(Seq("lm-filter", "--in", in, "--path", model,
      "--out", kept, "--max-xent", tau.toString), spark)
    assert(spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L),
      "gate keeps the fluent doc and (by default) the unscorable one")
    val strict = outDir("cli-lm-strict")
    Main.run(Seq("lm-filter", "--in", in, "--path", model, "--out", strict,
      "--max-xent", tau.toString, "--drop-unscored"), spark)
    assert(spark.read.parquet(strict).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("bpe CLI: train → encode — persisted merges reproduce in-memory encoding") {
    import spark.implicits._
    val corpus = outDir("cli-bpe-corpus")
    Seq((1L, "low low low low low"), (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpus)
    val merges = outDir("cli-bpe-merges"); val enc = outDir("cli-bpe-enc")
    Main.run(Seq("bpe-train", "--in", corpus, "--path", merges,
      "--merges", "8"), spark)
    val back = graft.operators.Bpe.readMerges(spark, merges)
    assert(back.nonEmpty && back.map(_.rank) == back.indices.toSeq)
    assert((back.head.lhs, back.head.rhs) == (("e", "s")),
      "the famous first merge on the Sennrich corpus")
    Main.run(Seq("bpe-encode", "--in", corpus, "--path", merges,
      "--out", enc), spark)
    val viaCli = spark.read.parquet(enc)
      .select("doc_id", "bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val direct = graft.operators.Bpe.encode(
        spark.read.parquet(corpus), "doc_id", "text", back)
      .select("doc_id", "bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(viaCli == direct)
  }

  test("bm25 CLI: build → search → merge → search — additive growth makes " +
    "new docs findable") {
    import spark.implicits._
    val c1 = outDir("cli-bm25-c1"); val ixp = outDir("cli-bm25-ix") + "/ix"
    Seq((1L, "spark join spark"), (2L, "hash table lookup"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(c1)
    Main.run(Seq("bm25-build", "--in", c1, "--path", ixp,
      "--term-partitions", "2"), spark)
    val out1 = outDir("cli-bm25-out1")
    Main.run(Seq("bm25-search", "--path", ixp, "--query", "spark",
      "--out", out1), spark)
    assert(spark.read.parquet(out1).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L))
    // a later batch merges in; its docs become findable and the stats
    // reflect the union (df of 'spark' now 2 → lower idf, both ranked)
    val c2 = outDir("cli-bm25-c2")
    Seq((3L, "spark stream windows")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(c2)
    Main.run(Seq("bm25-merge", "--in", c2, "--path", ixp,
      "--term-partitions", "2"), spark)
    val out2 = outDir("cli-bm25-out2")
    Main.run(Seq("bm25-search", "--path", ixp, "--query", "spark",
      "--out", out2), spark)
    val hits = spark.read.parquet(out2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(hits.keySet == Set(1L, 3L))
    // merged stats ≡ a one-shot build over the union (the algebra pin,
    // through the CLI path)
    val all = outDir("cli-bm25-all"); val ixAll = outDir("cli-bm25-ixall") + "/ix"
    Seq((1L, "spark join spark"), (2L, "hash table lookup"),
      (3L, "spark stream windows")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(all)
    Main.run(Seq("bm25-build", "--in", all, "--path", ixAll,
      "--term-partitions", "2"), spark)
    val out3 = outDir("cli-bm25-out3")
    Main.run(Seq("bm25-search", "--path", ixAll, "--query", "spark",
      "--out", out3), spark)
    val oneShot = spark.read.parquet(out3).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(hits.keySet == oneShot.keySet)
    hits.foreach { case (id, v) => assert(math.abs(oneShot(id) - v) < 1e-9) }
    // the EPOCH growth path: append + compact serve the same answer as
    // the merge-grown index (additive statistics are exact)
    val ixEp = outDir("cli-bm25-ixep") + "/ix"
    Main.run(Seq("bm25-build", "--in", c1, "--path", ixEp,
      "--term-partitions", "2"), spark)
    Main.run(Seq("bm25-append", "--in", c2, "--path", ixEp,
      "--epoch", "a1", "--term-partitions", "2"), spark)
    val out4 = outDir("cli-bm25-out4")
    Main.run(Seq("bm25-search", "--path", ixEp, "--query", "spark",
      "--out", out4), spark)
    val epoch = spark.read.parquet(out4).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(epoch == oneShot, s"epoch-grown serve must equal one-shot: $epoch")
    Main.run(Seq("bm25-compact", "--path", ixEp, "--term-partitions", "2"), spark)
    val out5 = outDir("cli-bm25-out5")
    Main.run(Seq("bm25-search", "--path", ixEp, "--query", "spark",
      "--out", out5), spark)
    assert(spark.read.parquet(out5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap == oneShot)
    // phrase serving from the same compacted layout: "spark join" occurs
    // verbatim only in doc 1 ("spark join spark")
    val outP = outDir("cli-bm25-outp")
    Main.run(Seq("bm25-phrase", "--path", ixEp, "--phrase", "spark join",
      "--out", outP), spark)
    val ph = spark.read.parquet(outP).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ph == Set((1L, 1L)), s"phrase must hit doc 1 once: $ph")
    // batch serving: two queries, one pass — per-query sets equal the
    // single-query serves
    val qs = outDir("cli-bm25-queries")
    Seq((1L, "spark"), (2L, "hash lookup")).toDF("query_id", "query")
      .write.mode("overwrite").parquet(qs)
    val outB = outDir("cli-bm25-outb")
    Main.run(Seq("bm25-batch", "--path", ixEp, "--queries", qs,
      "--out", outB), spark)
    val batch = spark.read.parquet(outB).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 1L), (1L, 3L), (2L, 2L)),
      s"batch per-query hits diverge: $batch")
    // batch phrase verification: "spark join" verbatim only in doc 1,
    // "hash table" only in doc 2
    val ps = outDir("cli-bm25-phrases")
    Seq((1L, "spark join"), (2L, "hash table")).toDF("phrase_id", "phrase")
      .write.mode("overwrite").parquet(ps)
    val outPB = outDir("cli-bm25-outpb")
    Main.run(Seq("bm25-phrase-batch", "--path", ixEp, "--phrases", ps,
      "--out", outPB), spark)
    val pb = spark.read.parquet(outPB).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pb == Set((1L, 1L), (2L, 2L)), s"batch phrase hits diverge: $pb")
    // windowed near-verbatim through the CLI: terms that never share a
    // doc stay empty at any window...
    val outW = outDir("cli-bm25-outw")
    Main.run(Seq("bm25-window", "--path", ixEp, "--query", "join stream",
      "--window", "9", "--out", outW), spark)
    val wn = spark.read.parquet(outW).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wn.isEmpty, s"join and stream never share a doc here: $wn")
    // ...and a REVERSED query ("stream spark" vs doc 3's "spark stream
    // windows") still hits — the windowed form matches around the
    // anchor where bm25-phrase would demand verbatim order
    val outW2 = outDir("cli-bm25-outw2")
    Main.run(Seq("bm25-window", "--path", ixEp, "--query", "stream spark",
      "--window", "2", "--out", outW2), spark)
    val wn2 = spark.read.parquet(outW2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wn2 == Set((3L, 1L)), s"reversed windowed hits diverge: $wn2")
    val outP2 = outDir("cli-bm25-outp2")
    Main.run(Seq("bm25-phrase", "--path", ixEp, "--phrase", "stream spark",
      "--out", outP2), spark)
    assert(spark.read.parquet(outP2).count() == 0,
      "the exact-phrase form must NOT match the reversed order")
    // top-k loop: derive the impact-blocked layout from the committed
    // index, serve the pruned k-cut — equal to bm25-search's top slice
    val topkDir = outDir("cli-bm25-topkix") + "/topk"
    Main.run(Seq("bm25-topk-build", "--path", ixEp, "--out", topkDir,
      "--term-partitions", "2"), spark)
    val outT = outDir("cli-bm25-outt")
    Main.run(Seq("bm25-topk", "--path", topkDir, "--query", "spark",
      "--k", "1", "--out", outT), spark)
    val tk = spark.read.parquet(outT).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tk == Seq((1L -> 1L)), s"pruned top-1 diverges: $tk")
    // decontamination capstone: drop the docs containing 'spark join'
    // verbatim (doc 1), keep the rest
    val outD = outDir("cli-bm25-outd")
    Main.run(Seq("decontaminate-phrase", "--in", all, "--path", ixEp,
      "--phrases", ps, "--out", outD), spark)
    assert(spark.read.parquet(outD).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(3L),
      "docs 1 ('spark join') and 2 ('hash table') must be dropped")
  }

  test("span-index lifecycle CLI: build → filter → merge → filter — the " +
    "boilerplate gate grows by additive merge") {
    import spark.implicits._
    val boiler = "all rights reserved contact the webmaster for takedown " +
      "requests and legal inquiries about this content"
    val corpus = Seq(
      (1L, s"first article body text with original words $boiler"),
      (2L, s"second article entirely different phrasing here $boiler")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      // boilerplate-dominated: nearly all its spans are the landed footer
      (10L, s"tiny note $boiler"),
      // fresh content, footer-free → kept
      (11L, "a long fresh report about tidal power generation economics " +
        "with enough words that no span matches the landed corpus at all")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      // near-copy of doc 11's spans — only gated if batch1's KEPT docs
      // were merged into the index between the cycles
      (20L, "a long fresh report about tidal power generation economics " +
        "with enough words that no span matches the landed corpus at all " +
        "plus one extra tail clause")
    ).toDF("doc_id", "text")
    val cdir = outDir("cli-sx-corpus"); val b1 = outDir("cli-sx-b1")
    val b2 = outDir("cli-sx-b2"); val k1 = outDir("cli-sx-kept1")
    val k2 = outDir("cli-sx-kept2")
    val ix = outDir("cli-sx-ix"); val ix2 = outDir("cli-sx-ix2")
    corpus.write.mode("overwrite").parquet(cdir)
    batch1.write.mode("overwrite").parquet(b1)
    batch2.write.mode("overwrite").parquet(b2)
    Main.run(Seq("span-index-build", "--in", cdir, "--path", ix,
      "--span-n", "6"), spark)
    Main.run(Seq("span-index-filter", "--in", b1, "--path", ix,
      "--out", k1, "--max-frac", "0.5"), spark)
    assert(spark.read.parquet(k1).select("doc_id").as[Long].collect().toSet
      == Set(11L), "the boilerplate-dominated doc must be gated, fresh kept")
    // grow the index with what was kept; width is read from the index
    Main.run(Seq("span-index-merge", "--path", ix, "--in", k1,
      "--out", ix2), spark)
    Main.run(Seq("span-index-filter", "--in", b2, "--path", ix2,
      "--out", k2, "--max-frac", "0.5"), spark)
    assert(spark.read.parquet(k2).count() == 0,
      "a span-copy of a doc kept LAST cycle must be gated this cycle")
    // ...and against the UN-merged index it passes — the merge is what
    // carries cycle-1 knowledge into cycle 2
    val k3 = outDir("cli-sx-kept3")
    Main.run(Seq("span-index-filter", "--in", b2, "--path", ix,
      "--out", k3, "--max-frac", "0.5"), spark)
    assert(spark.read.parquet(k3).select("doc_id").as[Long].collect().toSet
      == Set(20L))
  }

  test("ANN lifecycle CLI: ivf-build → ivf-query → ivf-refresh → ivf-append " +
    "→ ivf-compact — the drift-gated ingest cycle") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val centers = Seq(Array.fill(4)(8.0), Array.fill(4)(-8.0))
    // drift = cell-MEMBERSHIP change, so the planted shift must migrate
    // vectors between clouds (a rigid translation of a whole cloud keeps
    // membership and correctly reads as zero): `migrated` moves every
    // 4th row's vector from the even cloud over to the odd cloud's
    // location — 15/60 of the index changes cells
    def corpusAt(migrated: Boolean): Seq[(Long, Seq[Float])] =
      (0 until 60).map { i =>
        val c = if (i % 2 == 0 && !(migrated && i % 4 == 0)) centers(0)
                else centers(1)
        (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq)
      }
    val emb = outDir("cli-ivf-emb")
    corpusAt(migrated = false).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(emb)
    val ix = outDir("cli-ivf-ix") + "/ix"
    val hits = outDir("cli-ivf-hits")
    Main.run(Seq("ivf-build", "--in", emb, "--path", ix, "--k", "2",
      "--iters", "3"), spark)
    val queries = outDir("cli-ivf-q")
    spark.read.parquet(emb).filter($"vec_id" < 6)
      .write.mode("overwrite").parquet(queries)
    Main.run(Seq("ivf-query", "--in", queries, "--corpus", emb, "--path", ix,
      "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    val served = spark.read.parquet(hits)
    assert(served.select("query_id").distinct().as[Long].collect().toSet
      == Set(0L, 1L, 2L, 3L, 4L, 5L), "every query must answer")
    assert(served.groupBy("query_id").count().select("count").as[Long]
      .collect().forall(_ == 3), "top-3 per query")
    // refresh on the unchanged corpus: no drift, no rebuild. No --k: the
    // cell count comes from the index's riding quantizer, so a scheduler
    // cannot re-parameterize the index through a mismatched default
    val out1 = new java.io.ByteArrayOutputStream()
    Console.withOut(out1)(Main.run(Seq("ivf-refresh", "--in", emb,
      "--path", ix, "--iters", "3", "--tolerance", "0.1"), spark))
    assert(out1.toString.contains("drift=0.0000 rebuilt=false"),
      s"unchanged corpus must be a no-op: ${out1.toString}")
    // a quarter of the even cloud migrates across: drift reads their
    // mass exactly and crosses tolerance
    corpusAt(migrated = true).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(emb)
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(out2)(Main.run(Seq("ivf-refresh", "--in", emb,
      "--path", ix, "--iters", "3", "--tolerance", "0.1"), spark))
    assert(out2.toString.contains("drift=0.2500 rebuilt=true"),
      s"15/60 migrated vectors must read as drift 0.25: ${out2.toString}")
    // and the refreshed index serves the NEW corpus cleanly end to end
    Main.run(Seq("ivf-query", "--in", queries, "--corpus", emb, "--path", ix,
      "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    assert(spark.read.parquet(hits).count() == 18)
    // ingest cycle: append a new batch under a committed epoch — its rows
    // are servable immediately, labeled by the index's riding quantizer
    val batch = outDir("cli-ivf-batch")
    (100 until 106).map(i => (i.toLong,
        centers(1).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(batch)
    Main.run(Seq("ivf-append", "--in", batch, "--path", ix), spark)
    val unioned = outDir("cli-ivf-union")
    spark.read.parquet(emb).union(spark.read.parquet(batch))
      .write.mode("overwrite").parquet(unioned)
    Main.run(Seq("ivf-query", "--in", batch, "--corpus", unioned, "--path", ix,
      "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    val appendServed = spark.read.parquet(hits).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(appendServed.map(_._1) == (100L until 106L).toSet &&
      appendServed.size == 18, "appended rows must answer as queries")
    // compaction merges the build+append epochs; serving is unchanged
    Main.run(Seq("ivf-compact", "--path", ix), spark)
    Main.run(Seq("ivf-query", "--in", batch, "--corpus", unioned, "--path", ix,
      "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    assert(spark.read.parquet(hits).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      == appendServed, "serve after ivf-compact must equal serve before")
    // continuous ingest: drain a landing backlog exactly-once, rows serve
    val landing = outDir("cli-ivf-landing")
    val ckpt = outDir("cli-ivf-ckpt")
    (200 until 206).map(i => (i.toLong,
        centers(0).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(landing)
    Main.run(Seq("ivf-ingest", "--landing", landing, "--path", ix,
      "--checkpoint", ckpt, "--once"), spark)
    // a restart over the same backlog is a no-op (checkpoint + keyed epochs)
    Main.run(Seq("ivf-ingest", "--landing", landing, "--path", ix,
      "--checkpoint", ckpt, "--once"), spark)
    assert(spark.read.parquet(ix).filter($"vec_id" >= 200).count() == 6,
      "landing rows must be indexed exactly once")
    val unioned2 = outDir("cli-ivf-union2")
    spark.read.parquet(unioned).union(spark.read.parquet(landing))
      .write.mode("overwrite").parquet(unioned2)
    Main.run(Seq("ivf-query", "--in", landing, "--corpus", unioned2,
      "--path", ix, "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    assert(spark.read.parquet(hits).select("query_id").distinct().as[Long]
        .collect().toSet == (200L until 206L).toSet,
      "streamed rows must answer as queries")
    // the takedown: tombstoned ids stop appearing as neighbors
    val takedown = outDir("cli-ivf-takedown")
    Seq(200L, 201L, 202L).toDF("vec_id")
      .write.mode("overwrite").parquet(takedown)
    Main.run(Seq("ivf-delete", "--in", takedown, "--path", ix), spark)
    Main.run(Seq("ivf-query", "--in", landing, "--corpus", unioned2,
      "--path", ix, "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    assert(spark.read.parquet(hits).select("nn_id").as[Long].collect()
        .forall(id => id < 200L || id > 202L),
      "deleted ids must not serve as neighbors")
  }

  test("OPQ CLI: opq-build → opq-query → opq-append — the rotated " +
    "composition's deployment loop, pq-query on the path ≡ opq-query") {
    import spark.implicits._
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val ix = outDir("cli-opq-ix") + "/ix"
    val hits = outDir("cli-opq-hits")
    val queries = outDir("cli-opq-q")
    spark.read.parquet(emb).filter($"vec_id" < 6)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(queries)
    val base = outDir("cli-opq-base")
    spark.read.parquet(emb).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(base)
    Main.run(Seq("opq-build", "--in", base, "--path", ix, "--k", "4",
      "--iters", "3", "--opqiters", "1"), spark)
    Main.run(Seq("opq-query", "--in", queries, "--corpus", base, "--path", ix,
      "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    val served = spark.read.parquet(hits)
    assert(served.select("query_id").distinct().as[Long].collect().toSet
      == (0L until 6L).toSet, "every query must answer")
    assert(served.groupBy("query_id").count().select("count").as[Long]
      .collect().forall(_ == 3), "top-3 per query")
    // the path picks the quantizer: pq-query on an OPQ layout serves it
    // rotated, row for row what opq-query serves
    val viaPq = outDir("cli-opq-hits-pq")
    Main.run(Seq("pq-query", "--in", queries, "--corpus", base, "--path", ix,
      "--out", viaPq, "--topk", "3", "--nprobe", "2"), spark)
    assert(spark.read.parquet(viaPq).collect().map(_.toString).sorted
      .sameElements(served.collect().map(_.toString).sorted),
      "pq-query on an OPQ path must serve exactly what opq-query serves")
    // append new ids: encoded with the riding rotation + quantizers,
    // servable immediately as rank-1 exact duplicates
    val extra = outDir("cli-opq-extra")
    spark.read.parquet(queries)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
      .write.mode("overwrite").parquet(extra)
    Main.run(Seq("opq-append", "--in", extra, "--path", ix), spark)
    val corpus2 = outDir("cli-opq-corpus2")
    spark.read.parquet(base).union(spark.read.parquet(extra))
      .write.mode("overwrite").parquet(corpus2)
    Main.run(Seq("opq-query", "--in", queries, "--corpus", corpus2,
      "--path", ix, "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    val top = spark.read.parquet(hits).filter($"rank" === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("nn_id")).toMap
    (0L until 6L).foreach { q =>
      assert(top(q) == q + 5000L,
        s"appended duplicate of $q must serve at rank 1, got ${top(q)}") }
    // drift-gated refresh closes the loop: on the build corpus the
    // refit is deterministic (zero drift -> no-op), and tolerance 0
    // with the appended rows present forces the full retrain — rotation
    // included — after which serving still answers (all three
    // quantizers rebuilt consistently)
    Main.run(Seq("opq-refresh", "--in", base, "--path", ix,
      "--iters", "3", "--opqiters", "1"), spark)
    Main.run(Seq("opq-refresh", "--in", corpus2, "--path", ix,
      "--iters", "3", "--opqiters", "1", "--tolerance", "0.0"), spark)
    Main.run(Seq("opq-query", "--in", queries, "--corpus", corpus2,
      "--path", ix, "--out", hits, "--topk", "1", "--nprobe", "2"), spark)
    val topAfter = spark.read.parquet(hits).filter($"rank" === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("nn_id")).toMap
    (0L until 6L).foreach { q =>
      assert(topAfter(q) == q + 5000L,
        s"after the forced rebuild the exact duplicate must still be " +
          s"rank 1 for $q, got ${topAfter(q)}") }
    // streamed ingest into the SAME layout (the generalized sink): a
    // drained backlog lands exactly once; a restart over the same
    // backlog + checkpoint is a full no-op (keyed epochs)
    val landing = outDir("cli-opq-landing")
    val ckpt = outDir("cli-opq-ckpt")
    spark.read.parquet(queries)
      .select(($"vec_id" + 7000L).as("vec_id"), $"embedding")
      .write.mode("overwrite").parquet(landing)
    Main.run(Seq("opq-ingest", "--landing", landing, "--path", ix,
      "--checkpoint", ckpt, "--once"), spark)
    Main.run(Seq("opq-ingest", "--landing", landing, "--path", ix,
      "--checkpoint", ckpt, "--once"), spark)
    assert(spark.read.parquet(ix).filter($"vec_id" >= 7000L).count() == 6,
      "streamed rows must be indexed exactly once")
    val corpus3 = outDir("cli-opq-corpus3")
    spark.read.parquet(corpus2).union(spark.read.parquet(landing))
      .write.mode("overwrite").parquet(corpus3)
    Main.run(Seq("opq-query", "--in", queries, "--corpus", corpus3,
      "--path", ix, "--out", hits, "--topk", "2", "--nprobe", "2"), spark)
    val nn = spark.read.parquet(hits).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nn_id"))).toSet
    (0L until 6L).foreach { q =>
      assert(nn.contains((q, q + 7000L)),
        s"streamed duplicate of $q must serve in its top-2") }
  }

  test("residual-PQ CLI: pq-build → pq-query → pq-append — the learned " +
    "IVF-PQ deployment loop") {
    import spark.implicits._
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val ix = outDir("cli-pq-ix") + "/ix"
    val hits = outDir("cli-pq-hits")
    val queries = outDir("cli-pq-q")
    spark.read.parquet(emb).filter($"vec_id" < 6)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(queries)
    val base = outDir("cli-pq-base")
    spark.read.parquet(emb).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(base)
    Main.run(Seq("pq-build", "--in", base, "--path", ix, "--k", "4",
      "--iters", "3"), spark)
    Main.run(Seq("pq-query", "--in", queries, "--corpus", base, "--path", ix,
      "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    val served = spark.read.parquet(hits)
    assert(served.select("query_id").distinct().as[Long].collect().toSet
      == (0L until 6L).toSet, "every query must answer")
    assert(served.groupBy("query_id").count().select("count").as[Long]
      .collect().forall(_ == 3), "top-3 per query")
    // append new ids: they become servable as neighbors immediately
    val extra = outDir("cli-pq-extra")
    spark.read.parquet(queries)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
      .write.mode("overwrite").parquet(extra)
    Main.run(Seq("pq-append", "--in", extra, "--path", ix), spark)
    val corpus2 = outDir("cli-pq-corpus2")
    spark.read.parquet(base).union(spark.read.parquet(extra))
      .write.mode("overwrite").parquet(corpus2)
    Main.run(Seq("pq-query", "--in", queries, "--corpus", corpus2,
      "--path", ix, "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    // each appended row is its query's exact duplicate — with its cell
    // probed (identical vector → same nearest cells) it must surface as
    // the rank-1 neighbor at cosine 1
    val top = spark.read.parquet(hits).filter($"rank" === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("nn_id")).toMap
    (0L until 6L).foreach { q =>
      assert(top(q) == q + 5000L,
        s"appended duplicate of $q must serve at rank 1, got ${top(q)}") }
    // takedown + compact close the loop: the appended duplicates stop
    // serving, and the answers survive the physical rewrite
    val takedown = outDir("cli-pq-takedown")
    (5000L until 5006L).toDF("vec_id").write.mode("overwrite").parquet(takedown)
    Main.run(Seq("pq-delete", "--in", takedown, "--path", ix), spark)
    Main.run(Seq("pq-query", "--in", queries, "--corpus", corpus2,
      "--path", ix, "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    val afterDelete = spark.read.parquet(hits).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(afterDelete.forall(_._2 < 5000L),
      "deleted ids must not serve as neighbors")
    Main.run(Seq("pq-compact", "--path", ix), spark)
    Main.run(Seq("pq-query", "--in", queries, "--corpus", corpus2,
      "--path", ix, "--out", hits, "--topk", "3", "--nprobe", "2"), spark)
    assert(spark.read.parquet(hits).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      == afterDelete, "serve after pq-compact must equal serve before")
    // pq-refresh on the index's own build corpus: deterministic refit ⇒
    // zero drift, no rebuild — and the greppable trajectory line
    val refreshOut = new java.io.ByteArrayOutputStream()
    Console.withOut(refreshOut)(Main.run(Seq("pq-refresh", "--in", base,
      "--path", ix, "--iters", "3"), spark))
    assert(refreshOut.toString.contains("rebuilt=false") &&
      refreshOut.toString.contains("drift=0.0000"), refreshOut.toString)
  }

  test("curate-stream-semantic --once: semgate-init then the capstone sink — " +
    "semantic near-dups gated across the landing backlog") {
    import spark.implicits._
    val landing = outDir("cli-sem-docs"); val ev = outDir("cli-sem-eval")
    val out = outDir("cli-sem-out"); val ckpt = outDir("cli-sem-ckpt")
    val state = outDir("cli-sem-state") + "/gate"
    val seed = outDir("cli-sem-seed")
    val A: Seq[Float] = Seq.fill(6)(9.0f)
    val nearA: Seq[Float] = 9.3f +: Seq.fill(5)(9.0f)
    val B: Seq[Float] = Seq.fill(6)(-9.0f)
    Seq((100L, A), (101L, B)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(seed)
    Main.run(Seq("semgate-init", "--in", seed, "--path", state,
      "--k", "2", "--iters", "3"), spark)
    Seq(
      (1L, "a completely new report about the harvest with plenty of the " +
        "usual words in it for the quality gate to like and to keep", A),
      // semantic near-dup of doc 1 (the id rule gates the higher id)
      (2L, "another genuinely novel piece of text with plenty of ordinary " +
        "words in it to pass the quality gate comfortably", nearA),
      (3L, "a third sufficiently long and ordinary piece of writing with " +
        "plenty of the usual words for the quality gate to keep", B)
    ).toDF("doc_id", "text", "embedding")
      .write.mode("overwrite").parquet(landing)
    Seq((100L, "unique eval sequence words here")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(ev)
    Main.run(Seq("curate-stream-semantic", "--landing", landing, "--eval", ev,
      "--out", out, "--state", state, "--checkpoint", ckpt,
      "--shingle-k", "3", "--once"), spark)
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"kept: $kept")
    // the admitted vectors joined the gate's kept set
    assert(graft.streaming.SemDedupIngest.keptSet(spark, state)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  private def dropTables(): Unit =
    Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS cli_ix$s"))

  test("mm-index lifecycle CLI: build → append → ingest → delete → " +
    "compact → pairs; mm-keep") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS cli_mmix$s"))
    val N = 24
    def assetsOf(ids: Seq[Long], dir: String): String = {
      val p = outDir(dir)
      graft.operators.Multimodal.toAssets(
        ids.toDF("doc_id")
          .select(col("doc_id"),
            SparkEntry.synthImagePayload(col("doc_id")).as("img")),
        "doc_id", "img", "image/bmp")
        .write.mode("overwrite").parquet(p)
      p
    }
    val first = assetsOf(0L until 8L, "cli-mm-a")
    val second = assetsOf(8L until 16L, "cli-mm-b")
    val third = assetsOf(16L until N.toLong, "cli-mm-c")
    Main.run(Seq("mm-index-build", "--in", first, "--name", "cli_mmix",
      "--buckets", "4"), spark)
    Main.run(Seq("mm-index-append", "--in", second, "--name", "cli_mmix"), spark)
    Main.run(Seq("mm-index-ingest", "--landing", third, "--name", "cli_mmix",
      "--checkpoint", outDir("cli-mm-ckpt"), "--once"), spark)
    // the probe batch: REAL transcoded copies of every 4th base
    val batch = outDir("cli-mm-batch")
    graft.operators.Multimodal.resizeImages(
        spark.read.parquet(first).unionByName(
          spark.read.parquet(second)).unionByName(
          spark.read.parquet(third))
          .filter(pmod(col("asset_id"), lit(4)) === 0), 96, 72)
      .select((col("asset_id") + 1000L).as("asset_id"), col("content"),
        col("meta"))
      .write.mode("overwrite").parquet(batch)
    val out1 = outDir("cli-mm-pairs")
    Main.run(Seq("mm-index-pairs", "--in", batch, "--name", "cli_mmix",
      "--out", out1), spark)
    val hits1 = spark.read.parquet(out1)
      .select("new_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits1.exists { case (n, i) => n == i + 1000L },
      s"a transcoded copy must hit its indexed base: $hits1")
    // delete base 0 → its copy stops matching it
    val ids = outDir("cli-mm-del")
    Seq(0L).toDF("asset_id").write.mode("overwrite").parquet(ids)
    Main.run(Seq("mm-index-delete", "--in", ids, "--name", "cli_mmix"), spark)
    Main.run(Seq("mm-index-compact", "--name", "cli_mmix"), spark)
    val out2 = outDir("cli-mm-pairs2")
    Main.run(Seq("mm-index-pairs", "--in", batch, "--name", "cli_mmix",
      "--out", out2), spark)
    val hits2 = spark.read.parquet(out2)
      .select("new_id", "index_id").as[(Long, Long)].collect().toSet
    assert(hits2 == hits1.filterNot(_._2 == 0L),
      "the tombstoned base must stop matching, everything else unchanged")
    // mm-keep over a corpus with a planted transcode copy
    val keepIn = outDir("cli-mm-keepin")
    spark.read.parquet(first).unionByName(
        graft.operators.Multimodal.resizeImages(
          spark.read.parquet(first).filter(col("asset_id") === 5), 128, 96)
          .select((col("asset_id") + 500L).as("asset_id"), col("content"),
            col("meta")))
      .write.mode("overwrite").parquet(keepIn)
    val keepOut = outDir("cli-mm-keep")
    Main.run(Seq("mm-keep", "--in", keepIn, "--out", keepOut), spark)
    val kept = spark.read.parquet(keepOut).as[Long].collect().toSet
    assert(kept.contains(5L) && !kept.contains(505L),
      s"the planted copy must be dropped, its base kept: $kept")
    assert((0L until 8L).forall(kept.contains), s"bases survive: $kept")
    Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS cli_mmix$s"))
  }

  test("curate-stream --once: landing backlog curated through the streaming flow") {
    import spark.implicits._
    val landing = outDir("cli-stream-docs"); val ev = outDir("cli-stream-eval")
    val out = outDir("cli-stream-curated"); val ckpt = outDir("cli-stream-ckpt")
    val good = "the quick brown fox jumps over the lazy dog near the river " +
      "and it naps in the sun for a while mail me at a@b.co"
    Seq(
      (1L, good, java.sql.Timestamp.valueOf("2013-01-01 10:00:00")),
      (2L, good, java.sql.Timestamp.valueOf("2013-01-01 10:00:05")), // exact dup
      (3L, "the totally unique eval sequence inside the train and the rest",
        java.sql.Timestamp.valueOf("2013-01-01 10:00:10")), // contaminated
      (4L, "!!! ??? ###", java.sql.Timestamp.valueOf("2013-01-01 10:00:15")) // low quality
    ).toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(landing)
    Seq((100L, "unique eval sequence words here")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(ev)
    Main.run(Seq("curate-stream", "--landing", landing, "--eval", ev,
      "--out", out, "--checkpoint", ckpt, "--shingle-k", "3", "--once"), spark)
    val back = spark.read.parquet(out)
    val kept = back.select("doc_id").as[Long].collect().toSet
    // exactly ONE of the exact-dup pair survives; which one is delivery
    // order within the micro-batch, which a file source does not promise
    assert(kept.size == 1 && kept.subsetOf(Set(1L, 2L)), s"kept: $kept")
    val r = back.collect().head
    assert(r.getAs[String]("redacted").contains("<EMAIL>"))
    assert(Set("train", "val", "test").contains(r.getAs[String]("split")))
  }

  test("compact --once drains the landing backlog exactly-once and exits") {
    val landing = outDir("cli-landing")
    val out = outDir("cli-compacted")
    val ckpt = outDir("cli-ckpt")
    val fresco = Pipeline.step1(spark,
      tmpCsv("b.csv",
        "jobID,node,timestamp,device,rd_sectors,wr_sectors",
        s"job9,N1,$T 10:00:00,sda,0,0",
        s"job9,N1,$T 10:01:00,sda,2048,2048"),
      tmpCsv("c.csv",
        "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,softirq",
        s"job9,N1,$T 10:00:00,cpu0,1,0,0,9,0,0,0",
        s"job9,N1,$T 10:01:00,cpu0,2,0,0,18,0,0,0"),
      tmpCsv("l.csv",
        "jobID,node,timestamp,read_bytes,write_bytes",
        s"job9,N1,$T 10:00:00,0,0",
        s"job9,N1,$T 10:01:00,1024,1024"),
      tmpCsv("m.csv",
        "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
        s"job9,N1,$T 10:00:00,1048576,524288,524288,0"))
    fresco.write.mode("overwrite").parquet(landing)
    val n = fresco.count()

    Main.run(Seq("compact", "--landing", landing, "--out", out,
      "--checkpoint", ckpt, "--once"), spark)
    assert(spark.read.parquet(out).count() == n)

    // a second drain with the same checkpoint must not duplicate rows
    Main.run(Seq("compact", "--landing", landing, "--out", out,
      "--checkpoint", ckpt, "--once"), spark)
    assert(spark.read.parquet(out).count() == n)
  }

  test("bad CLI input fails fast with usage") {
    intercept[IllegalArgumentException](Main.run(Seq("nope"), spark))
    intercept[IllegalArgumentException](Main.run(Seq("step3", "--in", "x"), spark))
    intercept[IllegalArgumentException](Main.run(Seq("step3", "--in"), spark))
    // a flag where a value was expected must error, not bind "--once" as
    // the checkpoint path
    intercept[IllegalArgumentException](Main.run(
      Seq("compact", "--landing", "l", "--out", "o", "--checkpoint", "--once"), spark))
  }

  test("quality CLI: quality-train → quality-score — the trained gate loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val labeled = (0 until 120).map { i =>
      val y = i % 2
      val cls = if (y == 1) "alpha bravo quality prose" else "omega zulu junk noise"
      (i.toLong, s"$cls common token$i", y)
    }.toDF("doc_id", "text", "label")
    val in = outDir("qc-in"); val model = outDir("qc-model")
    val out = outDir("qc-out"); val kept = outDir("qc-kept")
    labeled.write.mode("overwrite").parquet(in)
    Main.run(Seq("quality-train", "--in", in, "--path", model,
      "--dim", "4096", "--iters", "25"), spark)
    Main.run(Seq("quality-score", "--in", in, "--path", model,
      "--out", out), spark)
    val scored = spark.read.parquet(out)
      .select("doc_id", "margin_q", "p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(scored.length == 120)
    scored.foreach { case (id, mq, p) =>
      assert((mq > 0) == (id % 2 == 1), s"doc $id margin_q $mq")
      assert((p > 0.5) == (id % 2 == 1), s"doc $id p $p")
    }
    // the gating form: --threshold keeps exactly the high-p half
    Main.run(Seq("quality-score", "--in", in, "--path", model,
      "--out", kept, "--threshold", "0.5"), spark)
    val keptIds = spark.read.parquet(kept)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == (0 until 120).filter(_ % 2 == 1).map(_.toLong).toSet)
    // the served weights are the committed fixed-point form: scoring the
    // same input twice is bit-identical (exact integer margins)
    val again = outDir("qc-again")
    Main.run(Seq("quality-score", "--in", in, "--path", model,
      "--out", again), spark)
    val a = spark.read.parquet(out).select("doc_id", "margin_q")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = spark.read.parquet(again).select("doc_id", "margin_q")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
