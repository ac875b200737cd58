package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Specs for the training-data pipeline operators (dedup, similarity,
  * text analysis, multimodal plumbing). */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  /** All messages down an exception's cause chain — raise_error surfaces
    * wrapped differently across local/cluster paths, so guards are
    * asserted against the whole chain. */
  private def msgChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  /** Recursive file lister, shared by the reliable-checkpoint tests. */
  private def ckptFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap(f =>
      if (f.isDirectory) ckptFiles(f) else Seq(f))

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "spark shuffles partitions across the cluster"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "completely different words here entirely")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 4)
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("doc_id") == 1L)
  }

  test("word shingles: distinct k-grams") {
    val sh = Dedup.wordShingles(docs.filter($"doc_id" === 1), "doc_id", "text", 3)
      .collect().map(_.getString(1)).toSet
    assert(sh.contains("the quick brown"))
    assert(sh.contains("the lazy dog"))
    assert(sh.size == 7) // 9 tokens → 7 trigrams, all distinct
  }

  test("jaccard pairs finds near-dups and exact dups") {
    val pairs = Dedup.jaccardPairs(
        Dedup.wordShingles(docs, "doc_id", "text", 3), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) == 1.0) // exact dup
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(pairs.contains((2L, 4L)))
    assert(pairs.size == 3)
  }

  test("minhash-LSH pipeline reproduces exact jaccard pairs at high threshold") {
    val sh = Dedup.wordShingles(docs, "doc_id", "text", 3)
    val lsh = Dedup.minhashDuplicates(sh, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.jaccardPairs(sh, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh == exact)
  }

  test("hashedWordShingles == hashShingles(wordShingles) — fixture, edge cases, real data") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edge = Seq((1L, ""), (2L, "   "), (3L, "hi"), (4L, "one two"),
      (5L, "a  b\tc\nd a  b\tc")).toDF("doc_id", "text")
    for (d <- Seq(docs, edge)) {
      assert(asSet(Dedup.hashedWordShingles(d, "doc_id", "text")) ==
        asSet(Dedup.hashShingles(Dedup.wordShingles(d, "doc_id", "text"))))
    }
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(asSet(Dedup.hashedWordShingles(real, "doc_id", "text")) ==
      asSet(Dedup.hashShingles(Dedup.wordShingles(real, "doc_id", "text"))))
    // SQL registration
    docs.createOrReplaceTempView("shdocs")
    val viaSql = spark.sql(
      "SELECT doc_id, explode(shingle_hashes(text, 3)) AS shingle FROM shdocs")
    assert(asSet(viaSql) == asSet(Dedup.hashedWordShingles(docs, "doc_id", "text")))
  }

  test("duplicateClusters: transitive chains collapse to the min id") {
    // chain 1-2-6 (via pairs (1,2),(2,6)), island (8,9), singleton 3 absent
    val pairs = Seq((1L, 2L), (2L, 6L), (8L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("duplicateClusters frees every superseded round's checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a 60-node chain forces several contraction rounds
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(pairs).count() == 60)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the FINAL round's checkpoint may remain (it backs the returned
    // frame); all superseded rounds must have been unpersisted eagerly
    assert(added.size <= 1, s"leaked checkpoint blocks: $added")
  }

  test("reliable-checkpoint mode: same clusters, rounds persisted to the checkpoint dir") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(ckptDir.getAbsolutePath)
    spark.conf.set(Dedup.ReliableCheckpointKey, "true")
    try {
      val pairs = Seq((1L, 2L), (2L, 6L), (8L, 9L)).toDF("id_a", "id_b")
      val got = Dedup.duplicateClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 8L -> 8L, 9L -> 8L))
      // evidence the rounds actually went through the reliable path
      assert(ckptFiles(ckptDir).nonEmpty, "no checkpoint files written")
    } finally spark.conf.set(Dedup.ReliableCheckpointKey, "false")
  }

  test("reliable-checkpoint CC signature is single-fire: exact count, xor not self-cancelled") {
    // reliable checkpoint() can recompute the plan to write its files; if
    // observe() accumulators rode that plan they would fire per compute —
    // count doubles and the xor cancels to 0, silently degrading the CC
    // convergence test to count-only (ADVICE r4, high). The signature must
    // be the frame's true (n, xor) in BOTH modes.
    val edges = Seq((3L, 1L), (5L, 2L), (7L, 4L)).toDF("u", "v")
    val expectedX = edges
      .agg(coalesce(bit_xor(xxhash64($"u", $"v")), lit(0L)))
      .collect()(0).getLong(0)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-sig")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set(Dedup.ReliableCheckpointKey, "true")
    try {
      val (ck, sig) = Dedup.checkpointWithSignature(edges)
      assert(sig._1 == 3L, s"count must be single-fire, got ${sig._1}")
      assert(sig._2 == expectedX && sig._2 != 0L,
        s"xor must not self-cancel, got ${sig._2}")
      assert(ck.count() == 3)
    } finally spark.conf.set(Dedup.ReliableCheckpointKey, "false")
    // and the default localCheckpoint mode reports the same signature
    val (_, sigLocal) = Dedup.checkpointWithSignature(edges)
    assert(sigLocal == ((3L, expectedX)))
  }

  test("duplicateClustersWithRounds: round count grows ~log, not linearly, with chain length") {
    def rounds(n: Long): Int = {
      val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val (out, r) = Dedup.duplicateClustersWithRounds(pairs)
      assert(out.filter($"cluster_rep" === 0L).count() == n) // one component
      r
    }
    val r16 = rounds(16)
    val r128 = rounds(128) // 8× the diameter
    assert(r128 <= r16 + 4, // O(log n): doubling the chain adds ~1 round
      s"rounds grew too fast: chain16=$r16 chain128=$r128")
  }

  test("CC rounds: per-round edge SETS match a strict set-semantics " +
    "driver replay (pins the r20 largeStar dedup removal)") {
    // r20 dropped largeStar's trailing distinct (its only consumer,
    // smallStar, is duplicate-blind up to its own final distinct). This
    // replay applies BOTH stars with strict set semantics at every step
    // — if the engine's multiset shortcut changed any round's edge set,
    // the per-round counts (the committed trace) or the final clusters
    // would diverge here.
    def largeStarRef(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      val sym = edges ++ edges.map { case (u, v) => (v, u) }
      val m = sym.groupBy(_._1).map { case (u, es) =>
        u -> math.min(u, es.map(_._2).min) }
      sym.collect { case (u, v) if v > u => (v, m(u)) }
    }
    def smallStarRef(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      val mins = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
      (edges.map { case (u, v) => (v, mins(u)) } ++ mins.toSet)
        .filter { case (a, b) => a != b }
    }
    // a chain (deep), a fan-in triangle (duplicate-heavy under largeStar:
    // several u's point their v at the same min), and a self-pair to drop
    val pairs = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 22L), (21L, 22L), (20L, 21L), (30L, 30L)))
      .toDF("id_a", "id_b")
    val (out, rounds, trace) = Dedup.duplicateClustersWithTrace(pairs)
    var ref = ((0L until 9L).map(i => (i + 1, i)) ++
      Seq((22L, 20L), (22L, 21L), (21L, 20L))).toSet // canonical u > v
    val refTrace = scala.collection.mutable.ArrayBuffer(ref.size.toLong)
    (1 to rounds).foreach { _ =>
      ref = smallStarRef(largeStarRef(ref))
      refTrace += ref.size.toLong
    }
    assert(trace == refTrace.toSeq, s"trace=$trace ref=$refTrace")
    // fixed point: every edge is (member, component root)
    val got = out.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ((0L to 9L).map(_ -> 0L) ++
      Seq(20L, 21L, 22L).map(_ -> 20L)).toMap)
  }

  test("simhash: identical texts distance 0; near-dups within small hamming") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(4L))
    val d12 = java.lang.Long.bitCount(h(1L) ^ h(2L))
    assert(d12 <= 10, s"near-dup simhash distance $d12")
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.9f, 0.1f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force top-k: nearest first, self excluded, ties by id") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("nn_id") == 1L) // closest
    assert(out(0).getAs[Int]("rank") == 1)
    assert(math.abs(out(0).getAs[Double]("cosine") - 0.9 / math.sqrt(0.82)) < 1e-9)
  }

  test("ivf top-k only searches the query's partition") {
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", "label", 4)
      .collect().map(_.getAs[Long]("nn_id")).toSet
    assert(out == Set(1L, 4L)) // label-0 corpus only
  }

  test("cosine pairs: symmetric threshold filter") {
    val out = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L), (2L, 3L)))
  }

  test("semDedup: cluster-bounded removal, keep-lowest, cross-cluster isolation") {
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    // chain 0°~8°~16° (adjacent within τ=cos10°, ends not; 16°→44° is
    // cos28° < τ so the chain can't reach the straddle pair); 44°/46°
    // straddle the 45° Voronoi edge of the two centroids at cos2° ≈ 0.999
    val emb = Seq((1L, v(0)), (2L, v(8)), (3L, v(16)), (4L, v(44)), (5L, v(46)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val tau = math.cos(math.toRadians(10))
    val out = Similarity.withSemDupFlag(emb, "vec_id", "embedding", cents, tau)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("coarse"), r.getAs[Boolean]("kept")))).toMap
    assert(out(1L) == ((0, true)))
    assert(out(2L) == ((0, false))) // dup of 1
    // 3 is NOT a dup of 1 (cos40° < τ) but dies to 2 anyway — dropping a
    // doc never revives its victims (one-pass dominated rule)
    assert(out(3L) == ((0, false)))
    // 4~5 at cos2° ≫ τ, but the pair spans the cluster edge: both kept —
    // the SemDeDup trade (cluster-bounded candidates), not a bug
    assert(out(4L) == ((0, true)) && out(5L) == ((1, true)))
    val kept = Similarity.semDedup(emb, "vec_id", "embedding", cents, tau)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(kept == Set(1L, 4L, 5L))
    intercept[IllegalArgumentException] {
      Similarity.semDedup(emb, "vec_id", "embedding", cents, 0.0) }
  }

  test("semDedup centroid-dist rule: farthest-from-centroid survives, " +
    "exact ties fall back to id, id rule unchanged") {
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val emb = Seq((1L, v(0)), (2L, v(8)), (3L, v(16)), (4L, v(44)), (5L, v(46)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val tau = math.cos(math.toRadians(10))
    // same chain as the id-rule test, priority INVERTED along it: 16° is
    // farthest from centroid (1,0), so 3 dominates 2 dominates 1 — the
    // paper keeps the cluster's most marginal point, and the answer is
    // demonstrably different from the id rule's {1,4,5}
    val kept = Similarity.semDedup(emb, "vec_id", "embedding", cents, tau,
        keepBy = "centroid_dist")
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(kept == Set(3L, 4L, 5L), s"farthest must win the chain: $kept")
    // schema parity with the id rule: the helper's dist column is dropped
    val out = Similarity.withSemDupFlag(emb, "vec_id", "embedding", cents,
      tau, keepBy = "centroid_dist")
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "coarse", "kept"))
    // v(8) and v(-8) sit at the BIT-EXACT same squared distance to
    // (1, 0) ((−sin8)² ≡ sin8², same summation order) → dominance falls
    // to the smaller id
    val tie = Seq((10L, v(8)), (11L, v(-8))).toDF("vec_id", "embedding")
    val tieKept = Similarity.semDedup(tie, "vec_id", "embedding",
        Array(Array(1.0, 0.0)), math.cos(math.toRadians(20)),
        keepBy = "centroid_dist")
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(tieKept == Set(10L), s"exact tie must fall back to id: $tieKept")
    intercept[IllegalArgumentException] {
      Similarity.semDedup(emb, "vec_id", "embedding", cents, tau,
        keepBy = "farthest") }
  }

  test("semDedup LSH path: sized geometry ≡ exact; starved geometry only " +
    "ever keeps MORE (missed candidates leave docs standing)") {
    // planted near-dups in 8 dims: base vectors + tiny-perturbation
    // copies (cos ≈ 1), two well-separated clusters
    val rng = new scala.util.Random(7)
    def unit(seed: Array[Double]) = {
      val n = math.sqrt(seed.map(x => x * x).sum); seed.map(_ / n).toSeq
    }
    val bases = (0 until 20).map { i =>
      val center = if (i % 2 == 0) Array(5.0, 0, 0, 0, 0, 0, 0, 0)
        else Array(0, 5.0, 0, 0, 0, 0, 0, 0)
      unit(center.zipWithIndex.map { case (c, _) => c + rng.nextGaussian() })
    }
    val emb = (bases.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      bases.zipWithIndex.map { case (v, i) =>
        (100L + i, unit(v.toArray.map(_ + 1e-3 * rng.nextGaussian())).toSeq) })
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0, 0, 0, 0, 0, 0, 0),
      Array(0.0, 1, 0, 0, 0, 0, 0, 0))
    val tau = 0.98
    val exact = Similarity.withSemDupFlag(emb, "vec_id", "embedding", cents, tau)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    // the planted copies die to their originals
    assert((0 until 20).forall(i => exact(i.toLong)))
    assert(exact.count(!_._2) >= 15, s"plant must bite: $exact")
    val (bands, bits) = Similarity.lshGeometryFor(40L, tau)
    val lsh = Similarity.withSemDupFlagLsh(emb, "vec_id", "embedding", cents,
        tau, bands, bits)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(lsh == exact, "sized geometry must reproduce the exact form")
    // starved geometry (1 band × 16 bits): misses only ever KEEP more
    val starved = Similarity.withSemDupFlagLsh(emb, "vec_id", "embedding",
        cents, tau, bands = 1, bitsPerBand = 16)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    exact.foreach { case (id, k) => if (k) assert(starved(id),
      s"exact keeps $id; a candidate MISS cannot flip a keep to a drop") }
  }

  test("lshBucket: deterministic, bucket-equal for identical vectors") {
    val b = vecs.select($"vec_id", Similarity.lshBucket($"embedding", 3, 16).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = vecs.select($"vec_id", Similarity.lshBucket($"embedding", 3, 16).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == b2) // deterministic across runs
    // opposite vectors land in complementary buckets, never the same
    assert(b(0L) != b(4L))
    intercept[IllegalArgumentException](Similarity.lshBucket($"embedding", 3, 0))
    // dimension drift fails fast instead of silently truncating (recall
    // loss with no error would be the worst candidate-generator bug)
    val e = intercept[Exception](
      vecs.select(Similarity.lshBucket($"embedding", 5, 16)).collect())
    assert(e.getMessage != null || e.getCause != null) // wrapped SparkException
  }

  test("lshCosinePairs reproduces exact cosinePairs at high threshold") {
    val lsh = Similarity.lshCosinePairs(vecs, "vec_id", "embedding", dims = 3, minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh == exact) // at cos ≈ 0.994, P[miss] per pair < 1e-14 over 24 bands
    assert(lsh.keySet == Set((0L, 1L), (2L, 3L)))
  }

  test("lshGeometryFor: bits tracks log2(n); recall intact under sized geometry") {
    val (b1k, bits1k) = Similarity.lshGeometryFor(1000, 0.95)
    assert(bits1k == 10)
    val (b1m, bits1m) = Similarity.lshGeometryFor(1L << 20, 0.95)
    assert(bits1m == 20 && b1m > b1k) // narrower bands need more of them
    assert(Similarity.lshGeometryFor(10, 0.95)._2 == 8)           // floor
    assert(Similarity.lshGeometryFor(Long.MaxValue, 0.95)._2 == 24) // cap
    intercept[IllegalArgumentException](Similarity.lshGeometryFor(0, 0.95))
    intercept[IllegalArgumentException](Similarity.lshGeometryFor(10, 1.0))
    // the sized geometry still reproduces the exact pair set
    val (bands, bits) = Similarity.lshGeometryFor(5, 0.9)
    val lsh = Similarity.lshCosinePairs(vecs, "vec_id", "embedding", dims = 3,
        minCosine = 0.9, bands = bands, bitsPerBand = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((0L, 1L), (2L, 3L)))
  }

  test("legacy conf key spark.graft.dedup.reliableCheckpoint still engages reliable mode") {
    // renaming the key must not silently downgrade an existing deployment
    // to localCheckpoint — the old name keeps working
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-legacy").toFile
    spark.sparkContext.setCheckpointDir(ckptDir.getAbsolutePath)
    // an explicitly-set NEW key wins over the legacy one (earlier tests
    // leave it at "false") — clear it so the legacy fallback is what's read
    spark.conf.unset(graft.operators.Materialize.ReliableCheckpointKey)
    spark.conf.set(graft.operators.Materialize.LegacyReliableCheckpointKey, "true")
    try {
      val pairs = Seq((1L, 2L), (2L, 6L)).toDF("id_a", "id_b")
      assert(Dedup.duplicateClusters(pairs).count() == 3)
      assert(ckptFiles(ckptDir).nonEmpty,
        "legacy key must still route through reliable checkpoint files")
    } finally spark.conf.unset(graft.operators.Materialize.LegacyReliableCheckpointKey)
  }

  test("reliable-checkpoint mode: lshCosinePairs same pairs, index persisted to the checkpoint dir") {
    // the cosine-LSH index must honor the SAME durability switch as the
    // shingle-dedup pipeline (Materialize) — before the hoist it
    // hard-coded localCheckpoint and lost blocks on executor loss
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-lsh").toFile
    spark.sparkContext.setCheckpointDir(ckptDir.getAbsolutePath)
    spark.conf.set(Dedup.ReliableCheckpointKey, "true")
    try {
      val lsh = Similarity.lshCosinePairs(vecs, "vec_id", "embedding", dims = 3, minCosine = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == Set((0L, 1L), (2L, 3L)))
      assert(ckptFiles(ckptDir).nonEmpty, "LSH index not written to the checkpoint dir")
    } finally spark.conf.set(Dedup.ReliableCheckpointKey, "false")
  }

  test("quantizeInt8: half-up codes, ±127 saturation, zero vector, fail-fast edges") {
    // 62.5 pins HALF-UP (half-even would give 62); ±maxAbs pins saturation
    val d = Seq(
      (1L, Array(127.0f, -127.0f, 62.5f, 0.0f)), // scale exactly 1.0
      (2L, Array(0.0f, 0.0f))                    // zero vector
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(d, "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("q8_scale"), r.getAs[Seq[Int]]("q8")))).toMap
    assert(out(1L) == ((1.0, Seq(127, -127, 63, 0))))
    assert(out(2L) == ((0.0, Seq(0, 0)))) // zero vector: scale 0, zero codes
    // all codes in [-127, 127] and |dequant error| <= scale/2 on real data
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantizeInt8(real, "embedding")
      .select($"q8_scale", explode($"q8").as("code"))
    assert(q.filter($"code" < -127 || $"code" > 127).count() == 0)
    // empty array fails fast (not a silent null scale)
    val eEmpty = intercept[Exception](Similarity.quantizeInt8(
      Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding"), "embedding")
      .select("q8_scale").collect())
    assert(messages(eEmpty).contains("quantize_int8"), messages(eEmpty))
    // null element fails fast; NULL array row stays NULL
    val nd = spark.sql(
      """SELECT 1L AS vec_id, array(1.0D, CAST(NULL AS DOUBLE)) AS embedding
        |UNION ALL SELECT 2L, CAST(NULL AS ARRAY<DOUBLE>)""".stripMargin)
    val eNull = intercept[Exception](Similarity.quantizeInt8(
      nd.filter($"vec_id" === 1), "embedding").select("q8").collect())
    assert(messages(eNull).contains("quantize_int8"), messages(eNull))
    val nullRow = Similarity.quantizeInt8(nd.filter($"vec_id" === 2), "embedding")
      .select("q8_scale", "q8").collect()(0)
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
  }

  test("ivfTopKQuantized == exact ivfTopK (recall 1.0 via exact re-scoring)") {
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), math.rint(r.getAs[Double]("cosine") * 1e9)))).toMap
    // fixture vectors
    val exactF = asMap(Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", "label", 2))
    val q8F = asMap(Similarity.ivfTopKQuantized(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", "label", 2))
    assert(q8F == exactF)
    // real embeddings at sf0.001, the q_ann_ivf_q8 shape
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.filter($"vec_id" < 20)
    val exactR = asMap(Similarity.ivfTopK(real, queries, "vec_id", "embedding", "label", 3))
    val q8R = asMap(Similarity.ivfTopKQuantized(real, queries, "vec_id", "embedding",
      "label", 3, candidateFactor = 4))
    assert(q8R == exactR, "quantized index + exact re-scoring must reproduce exact top-k")
  }

  test("parquet-round-tripped quantized index serves bit-identical top-k to the inline path") {
    // the deployment shape: build the int8 index ONCE, persist, serve query
    // batches from the read-back frame — must equal inline re-quantization
    // down to the cosine bits (int codes survive parquet exactly)
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.filter($"vec_id" < 20)
    val ixPath = java.nio.file.Files.createTempDirectory("graft-q8ix").toString + "/ix"
    Similarity.buildQuantizedIndex(real, "vec_id", "embedding", "label")
      .write.parquet(ixPath)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn_id"), r.getAs[Double]("cosine"))).sortBy(t => (t._1, t._2))
    val inline = rows(Similarity.ivfTopKQuantized(real, queries,
      "vec_id", "embedding", "label", 3))
    val served = rows(Similarity.ivfTopKQuantized(spark.read.parquet(ixPath),
      real, queries, "vec_id", "embedding", "label", 3, candidateFactor = 4))
    assert(served.sameElements(inline),  // exact Double equality — BIT-identical
      "served top-k must be bit-identical to the inline quantized path")
  }

  test("IVF-PQ: codebook geometry, byte-ranged codes, ADC shortlist + " +
    "exact re-scoring reproduces exact top-k, parquet round-trip, guards") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.trainPq(real, "vec_id", "embedding", m = 8, ksub = 16,
      iters = 3)
    assert(cb.m == 8 && cb.ksub == 16 && cb.dsub == 8 && cb.dims == 64)
    val enc = Similarity.encodePq(real, "embedding", cb)
      .select("pq_codes").collect().map(_.getSeq[Int](0))
    assert(enc.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)),
      "codes must be one byte-ranged entry per subspace")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), math.rint(r.getAs[Double]("cosine") * 1e9)))).toMap
    // ZERO-QUANTIZATION-ERROR fixture: every subspace's subvectors come
    // from an alphabet of exactly ksub entries, so the per-subspace
    // codebooks reproduce the inputs EXACTLY and ADC equals the true
    // squared-L2 — the algebra of shortlist + re-scoring is then pinned
    // with no recall slack, even at candidateFactor = 1
    // unit-norm alphabet → every planted vector has norm √2, so the
    // squared-L2 shortlist order coincides with the cosine rescore
    // order (d² = 2·(√2)²·(1 − cos)/... monotone) — the equal-norm
    // regime where ADC exactness transfers to the cosine top-k
    val alphabet = Seq((1.0, 0.0), (0.0, 1.0), (0.6, 0.8), (-1.0, 0.0))
    val planted = (for (a <- alphabet.indices; b <- alphabet.indices
                        if a != 3 || b != 3) yield {
      val (x1, x2) = alphabet(a); val (y1, y2) = alphabet(b)
      ((a * 4 + b).toLong, Array(x1, x2, y1, y2), 0)
    }).toDF("vec_id", "embedding", "label")
    val cbP = Similarity.trainPq(planted, "vec_id", "embedding", m = 2,
      ksub = 4, iters = 3)
    val plantedQ = planted.filter($"vec_id" < 6)
    val exactP = asMap(Similarity.ivfTopK(planted, plantedQ, "vec_id",
      "embedding", "label", 3))
    val pqP = asMap(Similarity.ivfTopKPq(
      Similarity.buildPqIndex(planted, "vec_id", "embedding", "label", cbP),
      planted, plantedQ, "vec_id", "embedding", "label", cbP, 3,
      candidateFactor = 1))
    assert(pqP == exactP,
      "zero-error codebooks must make the PQ path reproduce exact top-k " +
        "with no shortlist slack")
    // real near-random embeddings: a corpus-covering shortlist makes the
    // PQ path degenerate to exact (the rescore-tail equivalence)...
    val queries = real.filter($"vec_id" < 20)
    val exact = asMap(Similarity.ivfTopK(real, queries, "vec_id", "embedding",
      "label", 3))
    val ix = Similarity.buildPqIndex(real, "vec_id", "embedding", "label", cb)
    val pqWide = asMap(Similarity.ivfTopKPq(ix, real, queries, "vec_id",
      "embedding", "label", cb, 3, candidateFactor = 64))
    assert(pqWide == exact,
      "a corpus-covering shortlist must degenerate PQ serving to exact top-k")
    // ...and at the tight default factor recall is the honest PQ story:
    // near-random vectors have rank-3 cosine gaps below the quantization
    // error, so candidateFactor (and nprobe) are the accuracy dials, not
    // free exactness — assert a floor, not perfection
    def neighbors(m: Map[(Long, Int), (Long, Double)]) =
      m.toSeq.groupMap(_._1._1)(_._2._1).view.mapValues(_.toSet).toMap
    val pqTight = neighbors(asMap(Similarity.ivfTopKPq(ix, real, queries,
      "vec_id", "embedding", "label", cb, 3, candidateFactor = 4)))
    val exactN = neighbors(exact)
    val recall = exactN.map { case (q, nns) =>
      (pqTight.getOrElse(q, Set.empty) & nns).size.toDouble / nns.size
    }.sum / exactN.size
    assert(recall >= 0.5, f"recall@3 $recall%.2f collapsed - PQ shortlist broken")
    // the deployment shape: codes persisted once, served from parquet —
    // integer codes round-trip exactly, so serving is bit-identical
    val ixPath = java.nio.file.Files.createTempDirectory("graft-pqix")
      .toString + "/ix"
    ix.write.parquet(ixPath)
    val served = asMap(Similarity.ivfTopKPq(spark.read.parquet(ixPath), real,
      queries, "vec_id", "embedding", "label", cb, 3, candidateFactor = 64))
    assert(served == pqWide)
    // geometry guards: non-dividing m, byte-overflowing ksub, ragged input
    intercept[IllegalArgumentException] {
      Similarity.trainPq(real, "vec_id", "embedding", m = 7) }
    intercept[IllegalArgumentException] {
      Similarity.trainPq(real, "vec_id", "embedding", ksub = 300) }
    val ragged = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
    val eRagged = intercept[Exception] {
      Similarity.encodePq(ragged, "embedding", cb).collect() }
    assert(messages(eRagged).contains("encode_pq"), messages(eRagged))
  }

  test("OPQ: learned rotation is orthogonal and refit-deterministic, cuts " +
    "quantization error vs plain PQ, identity rotation degenerates the " +
    "serve path to plain PQ bit-identically") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (rot, cb) = Similarity.trainOpq(real, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 3, opqIters = 2)
    val d = 64
    assert(rot.length == d && rot.forall(_.length == d) &&
      cb.m == 8 && cb.ksub == 16 && cb.dims == d)
    // orthogonality: R·Rᵀ = I (rows orthonormal) — the property that
    // makes the true cosine rotation-invariant, so exact re-scoring in
    // the original space stays correct
    for (i <- 0 until d; j <- i until d) {
      val dotv = (0 until d).map(k => rot(i)(k) * rot(j)(k)).sum
      assert(math.abs(dotv - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"R·Rᵀ is not I at ($i,$j): $dotv")
    }
    // refit determinism per layout — the kmeansFit contract extended
    // through the Jacobi/Procrustes stages
    val (rot2, cb2) = Similarity.trainOpq(real, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 3, opqIters = 2)
    assert(rot2.zip(rot).forall { case (a, b) => a.sameElements(b) })
    assert(cb2.codebooks.zip(cb.codebooks).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // quantization error (the Ge et al. objective): mean squared
    // reconstruction error of R·v under the OPQ codebooks must not
    // exceed plain PQ's on raw v — measured over the whole corpus with
    // a plain-Scala codec (independent of the engine's encode exprs)
    val cbP = Similarity.trainPq(real, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 3)
    val vecs = real.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def matVec(m: Array[Array[Double]], x: Array[Double]) =
      m.map(row => row.zip(x).map { case (a, b) => a * b }.sum)
    def mse(xs: Seq[Array[Double]], c: Similarity.PqCodebooks): Double = {
      val errs = xs.map { x =>
        (0 until c.m).map { j =>
          val sub = x.slice(j * c.dsub, (j + 1) * c.dsub)
          c.codebooks(j).map(cent =>
            cent.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }
      errs.sum / errs.size
    }
    val msePq = mse(vecs.toSeq, cbP)
    val mseOpq = mse(vecs.toSeq.map(matVec(rot, _)), cb)
    assert(mseOpq <= msePq + 1e-12,
      f"OPQ must not raise quantization error: opq $mseOpq%.6f vs pq $msePq%.6f")
    // identity rotation: the OPQ serve path IS the plain-PQ path —
    // bit-identical shortlist, cosines and ranks (pins the plumbing:
    // rotation application, ADC table, rescore join)
    val eye = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val queries = real.filter($"vec_id" < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn_id"), r.getAs[Double]("cosine"))).sortBy(t => (t._1, t._2))
    val viaOpq = rows(Similarity.ivfTopKOpq(
      Similarity.buildOpqIndex(real, "vec_id", "embedding", "label", eye, cbP),
      real, queries, "vec_id", "embedding", "label", eye, cbP, 3))
    val viaPq = rows(Similarity.ivfTopKPq(
      Similarity.buildPqIndex(real, "vec_id", "embedding", "label", cbP),
      real, queries, "vec_id", "embedding", "label", cbP, 3))
    assert(viaOpq.sameElements(viaPq),
      "identity-rotation OPQ serving must be bit-identical to plain PQ")
    // guards: rotation/codebook dims must agree
    intercept[IllegalArgumentException] {
      Similarity.buildOpqIndex(real, "vec_id", "embedding", "label",
        Array.tabulate(8, 8)((i, j) => if (i == j) 1.0 else 0.0), cbP)
    }
  }

  test("learned OPQ layout: identity rotation ≡ the plain learned-PQ " +
    "layout bit-for-bit, the path picks the quantizer kind, appends grow " +
    "the index with the riding quantizers") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val d = 64
    val eye = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val cents = Similarity.kmeansFit(real, "vec_id", "embedding", k = 4, iters = 3)
    val cb = Similarity.trainPqResidual(real, "vec_id", "embedding", cents,
      m = 8, ksub = 16, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-opq-learned").toFile
    dir.deleteOnExit()
    val opqPath = new java.io.File(dir, "opq").getAbsolutePath
    val pqPath = new java.io.File(dir, "pq").getAbsolutePath
    // identity rotation: the rotated space IS the original space, so the
    // OPQ layout must serve bit-identically to the plain learned-PQ
    // layout built from the same quantizers (pins rotation application,
    // probe labeling, residual ADC and the rescore join end to end)
    Similarity.writeLearnedIndex(real, "vec_id", "embedding", opqPath,
      Similarity.IvfQuantizer(cents, Some(cb), Some(eye)))
    Similarity.writeLearnedIndex(real, "vec_id", "embedding", pqPath,
      Similarity.IvfQuantizer(cents, Some(cb)))
    val queries = real.filter($"vec_id" < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn_id"), r.getAs[Double]("cosine"))).sortBy(t => (t._1, t._2))
    val viaOpq = rows(Similarity.serveLearnedIndex(opqPath, real, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val viaPq = rows(Similarity.serveLearnedIndex(pqPath, real, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    assert(viaOpq.sameElements(viaPq),
      "identity-rotation OPQ layout must serve bit-identically to plain PQ")
    // the path picks the quantizer, so the quantizer-mismatch class is
    // unconstructable: a plain layout loads without a rotation, an OPQ
    // layout with its own, and no caller chooses which
    val loadedPq = Similarity.loadLearnedIndex(spark, pqPath)
    val loadedOpq = Similarity.loadLearnedIndex(spark, opqPath)
    assert(loadedPq.kind == Similarity.IvfKind.Pq && loadedPq.rotation.isEmpty)
    assert(loadedOpq.kind == Similarity.IvfKind.Opq &&
      loadedOpq.rotation.get.map(_.toSeq).toSeq == eye.map(_.toSeq).toSeq)
    // append with the riding quantizers: a clone of vector 0 under a new
    // id must become vec 0's rank-1 neighbor (cosine 1)
    val v0 = real.filter($"vec_id" === 0)
      .select($"embedding").collect()(0).getSeq[Float](0)
    Similarity.appendToLearnedIndex(
      Seq((90001L, v0)).toDF("vec_id", "embedding"), opqPath,
      "vec_id", "embedding")
    val corpusPlus = real.select($"vec_id", $"embedding")
      .unionByName(Seq((90001L, v0)).toDF("vec_id", "embedding"))
    val after = rows(Similarity.serveLearnedIndex(opqPath, corpusPlus,
      queries.filter($"vec_id" === 0), "vec_id", "embedding", k = 1, nprobe = 2))
    assert(after.head._3 == 90001L && math.abs(after.head._4 - 1.0) < 1e-9,
      s"appended clone must serve as the exact nearest neighbor: ${after.toSeq}")
  }

  test("residual IVF-PQ: origin-centroid degeneracy to plain PQ, all-cell " +
    "probing + corpus-covering shortlist = brute-force exact, lower " +
    "distortion than raw codebooks at identical geometry, dims guard") {
    import org.apache.spark.sql.functions.{element_at, lit, typedlit, zip_with}
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.filter($"vec_id" < 10)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), r.getAs[Double]("cosine")))).toMap
    // 1) ONE centroid at the origin: residuals ARE the raw vectors, so
    //    the per-subspace fits see identical values under identical seeds
    //    (md5 of vec_id) — codebooks, codes, and the whole served answer
    //    must be BIT-identical to the plain-PQ path over one cell
    val origin = Array(Array.fill(64)(0.0))
    val cbRaw = Similarity.trainPq(real, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 3)
    val cbRes = Similarity.trainPqResidual(real, "vec_id", "embedding",
      origin, m = 8, ksub = 16, iters = 3)
    assert(cbRes.codebooks.flatten.flatten.toSeq ==
      cbRaw.codebooks.flatten.flatten.toSeq,
      "origin-centroid residual fits must reproduce the raw-vector codebooks")
    val one = real.withColumn("one", lit(0))
    val plain = asMap(Similarity.ivfTopKPq(
      Similarity.buildPqIndex(one, "vec_id", "embedding", "one", cbRaw),
      one, one.filter($"vec_id" < 10), "vec_id", "embedding", "one",
      cbRaw, 3, candidateFactor = 4))
    val degen = asMap(Similarity.ivfTopKPqResidual(
      Similarity.buildPqIndexResidual(real, "vec_id", "embedding", origin, cbRes),
      real, queries, "vec_id", "embedding", origin, cbRes, 3,
      nprobe = 1, candidateFactor = 4))
    assert(degen == plain,
      "origin-centroid residual serving must be bit-identical to plain PQ")
    // 2) learned cells, probing EVERY cell with a corpus-covering
    //    shortlist: quantization then affects nothing — the exact-cosine
    //    rescore of all candidates IS brute force (rescore-tail
    //    equivalence, the residual twin of the plain-PQ pin above)
    val cents = Similarity.kmeansFit(real, "vec_id", "embedding", k = 4, iters = 3)
    val cbR = Similarity.trainPqResidual(real, "vec_id", "embedding", cents,
      m = 8, ksub = 16, iters = 3)
    val ix = Similarity.buildPqIndexResidual(real, "vec_id", "embedding",
      cents, cbR)
    val wide = asMap(Similarity.ivfTopKPqResidual(ix, real, queries,
      "vec_id", "embedding", cents, cbR, 3, nprobe = 4,
      candidateFactor = 200))
    val exact = asMap(Similarity.bruteForceTopK(real, queries, "vec_id",
      "embedding", 3))
    assert(wide == exact,
      "all-cell probing with a corpus-covering shortlist must degenerate " +
        "residual-PQ serving to brute-force exact top-k")
    // 3) the Jégou 2011 §V-C claim, measured: mean own-code ADC (= squared
    //    reconstruction error) must be LOWER with residual codebooks than
    //    with raw-vector codebooks at identical m/ksub — the cell
    //    positions stop consuming codebook budget
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    val labeled = Similarity.withCoarseLabel(real, "embedding", cents)
      .withColumn("__res", zip_with($"embedding".cast("array<double>"),
        element_at(centLit, $"coarse".cast("int") + 1), (a, b) => a - b))
    def distortion(df: org.apache.spark.sql.DataFrame, vcol: String,
                   cb: Similarity.PqCodebooks): Double =
      Similarity.encodePq(df, vcol, cb)
        .select(graft.functions.Adc.lookup(
          graft.functions.Adc.table(org.apache.spark.sql.functions.col(vcol)
            .cast("array<double>"), cb.codebooks),
          $"pq_codes".cast("array<int>"), cb.m, cb.ksub).as("d"))
        .agg(org.apache.spark.sql.functions.avg($"d")).head().getDouble(0)
    val rawDist = distortion(real, "embedding", cbRaw)
    val resDist = distortion(labeled, "__res", cbR)
    assert(resDist < rawDist,
      f"residual codebooks must cut distortion: residual $resDist%.4f " +
        f"vs raw $rawDist%.4f at identical geometry")
    // 4) centroid/codebook dims mismatch fails loudly before any scan
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKPqResidual(ix, real, queries, "vec_id", "embedding",
        Array(Array.fill(32)(0.0)), cbR, 3) }
  }

  test("learned residual-PQ layout: pruned serving ≡ inline, appends are " +
    "epoch-committed and crashed appends invisible, missing commit " +
    "markers refuse loudly") {
    import org.apache.spark.sql.functions.{col, lit}
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = real.filter($"vec_id" < 10)
    val cents = Similarity.kmeansFit(real, "vec_id", "embedding", k = 4,
      iters = 3)
    val cb = Similarity.trainPqResidual(real, "vec_id", "embedding", cents,
      m = 8, ksub = 16, iters = 3)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), r.getAs[Double]("cosine")))).toMap
    val oldRows = real.filter($"vec_id" % 2 === 0)
    val newRows = real.filter($"vec_id" % 2 =!= 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-pq-layout").toString + "/ix"
    Similarity.writeLearnedIndex(oldRows, "vec_id", "embedding", path,
      Similarity.IvfQuantizer(cents, Some(cb)))
    // pruned, epoch-filtered, quantizers-from-the-path serving must be
    // BIT-identical to the inline frame path over the same rows (codes
    // are integers; pruning is exact — the ADC join is on the cell)
    val served = asMap(Similarity.serveLearnedIndex(path, real, queries,
      "vec_id", "embedding", 3, nprobe = 2, candidateFactor = 4))
    val inline = asMap(Similarity.ivfTopKPqResidual(
      Similarity.buildPqIndexResidual(oldRows, "vec_id", "embedding",
        cents, cb),
      real, queries, "vec_id", "embedding", cents, cb, 3, nprobe = 2,
      candidateFactor = 4))
    assert(served == inline,
      "layout serving must be bit-identical to the inline residual path")
    // append the other half under a fresh committed epoch: serving now
    // answers exactly as an inline index over the FULL corpus
    Similarity.appendToLearnedIndex(newRows, path, "vec_id", "embedding")
    val servedAll = asMap(Similarity.serveLearnedIndex(path, real, queries,
      "vec_id", "embedding", 3, nprobe = 2, candidateFactor = 4))
    val inlineAll = asMap(Similarity.ivfTopKPqResidual(
      Similarity.buildPqIndexResidual(real, "vec_id", "embedding", cents, cb),
      real, queries, "vec_id", "embedding", cents, cb, 3, nprobe = 2,
      candidateFactor = 4))
    assert(servedAll == inlineAll,
      "appended rows must serve exactly as a full inline index")
    // a crashed append = data files at an epoch _epochs never listed —
    // rows must be INVISIBLE to serving, and a retry is exactly-once
    Similarity.buildPqIndexResidual(
        real.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"),
        "vec_id", "embedding", cents, cb)
      .withColumn("build_id", lit(424242L))
      .repartition(col("coarse"))
      .write.mode("append").partitionBy("coarse").parquet(path)
    assert(asMap(Similarity.serveLearnedIndex(path, real, queries, "vec_id",
        "embedding", 3, nprobe = 2, candidateFactor = 4)) == servedAll,
      "orphan rows from a crashed append must not serve")
    // takedown: a tombstoned id stops serving as a neighbor immediately
    val victim = servedAll((0L, 1))._1
    Similarity.deleteFromLearnedIndex(Seq(victim).toDF("vec_id"), path, "vec_id")
    val afterDelete = asMap(Similarity.serveLearnedIndex(path, real, queries,
      "vec_id", "embedding", 3, nprobe = 2, candidateFactor = 4))
    assert(!afterDelete.values.exists(_._1 == victim),
      s"tombstoned id $victim must not serve as a neighbor")
    // compaction: answers unchanged, the deletion and the orphans become
    // PHYSICAL (no uncommitted build_id, no tombstoned/orphan id left in
    // any data file), the quantizer sidecars survive
    Similarity.compactLearnedIndex(spark, path, "vec_id")
    assert(asMap(Similarity.serveLearnedIndex(path, real, queries, "vec_id",
        "embedding", 3, nprobe = 2, candidateFactor = 4)) == afterDelete,
      "serve after compaction must equal serve before")
    val survivors = spark.read.parquet(path)
    assert(survivors.filter($"build_id" === 424242L).isEmpty &&
      survivors.filter($"vec_id" === victim).isEmpty &&
      survivors.filter($"vec_id" >= 1000000L).isEmpty,
      "compaction must GC orphans and make the deletion physical")
    // a half-committed layout refuses loudly: kill the codebook marker
    assert(new java.io.File(s"$path/_pq_codebooks/_SUCCESS").delete())
    val e = intercept[Exception] {
      Similarity.serveLearnedIndex(path, real, queries, "vec_id", "embedding", 3) }
    assert(messages(e).contains("residual codebooks did not"), messages(e))
  }

  test("refreshPqIndex: coarse drift detection on the residual-PQ layout — " +
    "no-op under tolerance, above it retrains BOTH quantizers at the " +
    "index's own geometry and re-encodes the corpus") {
    val rnd = new scala.util.Random(17)
    val centers = Seq(Array.fill(8)(9.0), Array.fill(8)(-9.0),
      Array.tabulate(8)(i => if (i % 2 == 0) 9.0 else -9.0))
    def cloud(ctr: Array[Double]): Seq[Float] =
      ctr.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    val corpus = (0 until 90).map(i => (i.toLong, cloud(centers(i % 3))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 3,
      iters = 4)
    val cb = Similarity.trainPqResidual(corpus, "vec_id", "embedding", cents,
      m = 4, ksub = 8, iters = 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-refresh").toString + "/ix"
    Similarity.writeLearnedIndex(corpus, "vec_id", "embedding", dir,
      Similarity.IvfQuantizer(cents, Some(cb)))
    // unchanged corpus: deterministic refit ⇒ zero drift, no rewrite
    val r1 = Similarity.refreshLearnedIndex(dir, corpus, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05)
    assert(r1 == Similarity.IvfRefresh(0.0, rebuilt = false),
      s"an unchanged corpus must read zero drift and skip the rebuild: $r1")
    // migration (the refreshIvfIndex scenario): a third of cloud 2's rows
    // move into cloud 0's location — cell membership changes
    val shifted = (0 until 90).map { i =>
      val c = if (i % 3 == 2 && i < 30) centers(0) else centers(i % 3)
      (i.toLong, cloud(c))
    }.toDF("vec_id", "embedding")
    val r2 = Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05)
    assert(r2.rebuilt && r2.drift >= 0.1,
      s"10/90 rows moved cells - drift must cross the 0.05 tolerance: $r2")
    // the rebuild kept the index's own PQ geometry and re-encoded: serving
    // is bit-identical to an inline residual index at the refit quantizers
    val reloaded = Similarity.loadLearnedIndex(spark, dir)
    val (newCents, newCb) = (reloaded.centroids, reloaded.codebooks.get)
    assert(newCb.codebooks.length == 4 && newCb.codebooks.head.length == 8,
      "refresh must keep the index's own m/ksub geometry")
    val queries = shifted.filter($"vec_id" < 6)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), r.getAs[Double]("cosine")))).toMap
    val served = asMap(Similarity.serveLearnedIndex(dir, shifted, queries,
      "vec_id", "embedding", 3, nprobe = 2, candidateFactor = 4))
    val inline = asMap(Similarity.ivfTopKPqResidual(
      Similarity.buildPqIndexResidual(shifted, "vec_id", "embedding",
        newCents, newCb),
      shifted, queries, "vec_id", "embedding", newCents, newCb, 3,
      nprobe = 2, candidateFactor = 4))
    assert(served == inline,
      "post-refresh serving must answer from the refit quantizers, re-encoded")
    // the rebuild converged: a second refresh on the same corpus is clean
    val r3 = Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05)
    assert(r3 == Similarity.IvfRefresh(0.0, rebuilt = false),
      s"refresh after rebuild must be a no-op: $r3")
    intercept[IllegalArgumentException](Similarity.refreshLearnedIndex(dir,
      shifted, "vec_id", "embedding", driftTolerance = 1.5))
    intercept[IllegalArgumentException](Similarity.refreshLearnedIndex(dir,
      shifted, "vec_id", "embedding", m = -1))
  }

  test("fitSampleRows: the sampled no-op refresh reads a bounded row " +
    "count, rebuild decisions agree with the full fit on the planted " +
    "migration, and a triggered rebuild commits the FULL-corpus fit") {
    val rnd = new scala.util.Random(53)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
    def cloud(ctr: Array[Double]): Seq[Float] =
      ctr.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    // parquet-backed corpus so inputMetrics.recordsRead observes every
    // scan (a LocalTableScan reports none)
    val tmp = java.nio.file.Files.createTempDirectory("fit-sample").toString
    (0 until 90).map(i => (i.toLong, cloud(centers(i % 3))))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/corpus")
    val corpus = spark.read.parquet(s"$tmp/corpus")
    val cents = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 3, iters = 4)
    val dir = s"$tmp/ix"
    Similarity.writeLearnedIndex(corpus, "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))

    def recordsRead(run: => Unit): Long = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          Option(te.taskMetrics).foreach(m =>
            n.addAndGet(m.inputMetrics.recordsRead))
      }
      spark.sparkContext.addSparkListener(l)
      try {
        run
        // listener bus is async — wait until the event stream drains
        var last = -1L; var stable = 0
        while (stable < 5) {
          Thread.sleep(100)
          val cur = n.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
      } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }

    // 1) no-op agreement at both dial positions, and the cost claim:
    //    the full fit scans the corpus every Lloyd iteration; the
    //    sampled fit pays one sampling pass then iterates on the
    //    bounded materialized rows — decisively fewer records at iters=8
    val fullReads = recordsRead {
      val r = Similarity.refreshLearnedIndex(dir, corpus, "vec_id", "embedding",
        iters = 8, driftTolerance = 0.05)
      assert(r == Similarity.IvfRefresh(0.0, rebuilt = false), s"$r")
    }
    val sampledReads = recordsRead {
      val r = Similarity.refreshLearnedIndex(dir, corpus, "vec_id", "embedding",
        iters = 8, driftTolerance = 0.05, fitSampleRows = 30)
      assert(r == Similarity.IvfRefresh(0.0, rebuilt = false),
        s"well-separated clouds must read zero drift under the sampled fit: $r")
    }
    assert(sampledReads < fullReads,
      s"the sampled no-op refresh must read fewer rows " +
        s"(sampled=$sampledReads, full=$fullReads)")
    // 2) planted migration: the sampled probe reaches the same rebuild
    //    decision as the full fit, and the committed quantizer is the
    //    FULL-corpus refit, not the probe's sample fit
    (0 until 90).map { i =>
      val c = if (i % 3 == 2 && i < 30) centers(0) else centers(i % 3)
      (i.toLong, cloud(c))
    }.toDF("vec_id", "embedding").write.parquet(s"$tmp/shifted")
    val shifted = spark.read.parquet(s"$tmp/shifted")
    val r2 = Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05, fitSampleRows = 30)
    assert(r2.rebuilt && r2.drift >= 0.1,
      s"the sampled probe must still flag the 10/90 migration: $r2")
    assert(Similarity.loadLearnedIndex(spark, dir).centroids.map(_.toSeq).toSeq ==
      Similarity.kmeansFit(shifted, "vec_id", "embedding", k = 3, iters = 4)
        .map(_.toSeq).toSeq,
      "a triggered rebuild must commit the full-corpus fit")
    // 3) post-rebuild the sampled cycle is clean again
    val r3 = Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05, fitSampleRows = 30)
    assert(r3 == Similarity.IvfRefresh(0.0, rebuilt = false), s"$r3")
    // 4) the dial exists on the whole refresh family: sampled no-ops on
    //    the residual-PQ and OPQ layouts read clean too
    val cb = Similarity.trainPqResidual(shifted, "vec_id", "embedding",
      Similarity.loadLearnedIndex(spark, dir).centroids, m = 2, ksub = 8, iters = 3)
    val pqDir = s"$tmp/pq"
    Similarity.writeLearnedIndex(shifted, "vec_id", "embedding", pqDir,
      Similarity.IvfQuantizer(Similarity.loadLearnedIndex(spark, dir).centroids, Some(cb)))
    val rPq = Similarity.refreshLearnedIndex(pqDir, shifted, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05, fitSampleRows = 30)
    assert(rPq == Similarity.IvfRefresh(0.0, rebuilt = false), s"$rPq")
    val d = 6
    val rot = Array.tabulate(d, d)((i, j) => if (j == d - 1 - i) 1.0 else 0.0)
    val rotated = shifted
      .select($"vec_id", $"embedding".cast("array<double>").as("__v"))
      .select($"vec_id", Similarity.rotateExpr($"__v", rot).as("rv"))
    val rotCents = Similarity.kmeansFit(rotated, "vec_id", "rv", k = 3, iters = 4)
    val rotCb = Similarity.trainPqResidual(rotated, "vec_id", "rv", rotCents,
      m = 2, ksub = 8, iters = 3)
    val opqDir = s"$tmp/opq"
    Similarity.writeLearnedIndex(shifted, "vec_id", "embedding", opqDir,
      Similarity.IvfQuantizer(rotCents, Some(rotCb), Some(rot)))
    val rOpq = Similarity.refreshLearnedIndex(opqDir, shifted, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05, fitSampleRows = 30)
    assert(rOpq == Similarity.IvfRefresh(0.0, rebuilt = false), s"$rOpq")
    intercept[IllegalArgumentException](Similarity.refreshLearnedIndex(dir,
      shifted, "vec_id", "embedding", fitSampleRows = -1))
  }

  test("sampleStratified: per-stratum fractions, determinism, null strata, salt re-deal") {
    val d = (0L until 400L).map(i =>
      (i, if (i % 4 == 3) null else s"s${i % 4}")).toDF("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val out = TextAnalysis.sampleStratified(d, "doc_id", "source",
      Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0), default = 0.2)
    val got = ids(out)
    // fraction 1.0 keeps the stratum wholesale, 0.0 drops it entirely
    assert((0L until 400L by 4).forall(got.contains))
    assert(!(2L until 400L by 4).exists(got.contains))
    // 0.5 thins s1 without emptying it; NULL strata take the default
    val s1 = got.count(_ % 4 == 1)
    assert(s1 > 0 && s1 < 100, s"s1 kept $s1 of 100")
    val nulls = got.count(_ % 4 == 3)
    assert(nulls > 0 && nulls < 60, s"null-strata kept $nulls of 100")
    // deterministic: identical re-run, membership unchanged
    assert(ids(TextAnalysis.sampleStratified(d, "doc_id", "source",
      Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0), default = 0.2)) == got)
    // a different salt re-deals membership (same mechanism as hashSplit)
    assert(ids(TextAnalysis.sampleStratified(d, "doc_id", "source",
      Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0), default = 0.2,
      salt = "v2")) != got)
    intercept[IllegalArgumentException](TextAnalysis.sampleStratified(
      d, "doc_id", "source", Map("s0" -> 1.5)))
  }

  test("new text ops on an empty corpus: empty result, no errors") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(TextAnalysis.topTokens(empty, "text", 5).count() == 0)
    assert(TextAnalysis.topTokensByGroup(empty, "text", "lang", 5).count() == 0)
    assert(TextAnalysis.packBins(empty, "doc_id", "text", 128).count() == 0)
    assert(TextAnalysis.sampleStratified(empty, "doc_id", "lang",
      Map("en" -> 0.5)).count() == 0)
  }

  test("dedup index: build once, serve new batches — parquet round-trip " +
    "bit-identical, estimate tracks exact jaccard") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (2L, "spark shuffles partitions across the cluster under adaptive query " +
        "execution while the scheduler assigns tasks to executors and the " +
        "shuffle service streams blocks between stages"),
      (3L, "completely different words live here entirely on their own today")
    ).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    // new batch: an exact dup of 1, a near-dup of 2 (one word changed), a novel doc
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (11L, "spark shuffles partitions across the network under adaptive query " +
        "execution while the scheduler assigns tasks to executors and the " +
        "shuffle service streams blocks between stages"),
      (12L, "nothing in the corpus resembles this sentence about gardening tools")
    ).toDF("doc_id", "text")
    val hits = Dedup.dedupAgainstIndex(batch, index, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.map(h => (h._1, h._2)).toSet == Set((10L, 1L), (11L, 2L)),
      s"hits: ${hits.toSeq}")
    val exactDup = hits.find(_._1 == 10L).get
    assert(exactDup._3 == 1.0, "identical text must estimate jaccard 1.0")
    // the signature estimate tracks the exact jaccard of the near-dup pair
    val exactJ = Dedup.jaccardFor(
        Seq((11L, 2L)).toDF("id_a", "id_b"),
        Dedup.hashedWordShingles(batch.union(corpus), "doc_id", "text"))
      .collect().head.getDouble(2)
    val estJ = hits.find(_._1 == 11L).get._3
    assert(math.abs(estJ - exactJ) < 0.15,
      s"estimate $estJ should track exact $exactJ (128 hashes)")
    // serving from a parquet round-trip is bit-identical (integer sigs)
    val dir = java.nio.file.Files.createTempDirectory("dedup-index").toString
    index.write.mode("overwrite").parquet(dir)
    val reHits = Dedup.dedupAgainstIndex(batch, spark.read.parquet(dir),
        "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(reHits == hits.toSet)
    // the filtered batch is what lands: hits removed, novel doc kept
    assert(Dedup.filterAgainstIndex(batch, index, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSeq == Seq(12L))
    // geometry rides WITH the index: a 64-hash / k=5 index still serves
    // correctly because the batch signs at the INDEX's geometry — a
    // width/hash-count mismatch would estimate an exact dup near zero and
    // silently disable dedup, the failure the derivation forbids
    val smallIx = Dedup.buildDedupIndex(corpus, "doc_id", "text",
      shingleK = 5, numHashes = 64)
    val h2 = Dedup.dedupAgainstIndex(batch, smallIx, "doc_id", "text",
        minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(h2.exists(h => h._1 == 10L && h._2 == 1L && h._3 == 1.0),
      s"exact dup must estimate 1.0 at the index's own geometry: ${h2.toSeq}")
    // a MIXED-width index — constructable via the documented unionByName
    // growth pattern at a forgotten non-default shingleK — must fail
    // loudly, not estimate ~0 against half the corpus
    val mixed = index.unionByName(Dedup.buildDedupIndex(
      Seq((20L, "a freshly appended document about entirely new material"))
        .toDF("doc_id", "text"),
      "doc_id", "text", shingleK = 5))
    assert(msgChain(intercept[Exception](
        Dedup.dedupAgainstIndex(batch, mixed, "doc_id", "text").collect()))
      .contains("mixed shingle widths"))
  }

  test("banded index serving: bucketed layout, identical hits, index side " +
    "joins without an exchange") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (2L, "spark shuffles partitions across the cluster under adaptive query " +
        "execution while the scheduler assigns tasks to executors"),
      (3L, "completely different words live here entirely on their own today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (12L, "nothing in the corpus resembles this sentence about gardening tools")
    ).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    Dedup.writeBandedIndex(index, "ix_spec", buckets = 4)
    try {
      val served = Dedup.dedupAgainstBandedIndex(batch, "ix_spec",
        "doc_id", "text", minJaccard = 0.5)
      def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // same result as the unbucketed serving path
      assert(hits(served) ==
        hits(Dedup.dedupAgainstIndex(batch, index, "doc_id", "text", minJaccard = 0.5)))
      assert(hits(served).map(h => (h._1, h._2)) == Set((10L, 1L)))
      // the layout's point: bucketed scans serve the join — the batch side
      // exchanges on the collision key, the index side must NOT. At spec
      // scale AQE broadcasts the tiny sides (hiding all exchanges), so
      // force shuffle joins for the plan assertion — at corpus scale
      // nothing is broadcastable and this IS the plan.
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqeThr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val shuffled = Dedup.dedupAgainstBandedIndex(batch, "ix_spec",
          "doc_id", "text", minJaccard = 0.5)
        shuffled.count()
        val phys = shuffled.queryExecution.executedPlan.toString
        assert(phys.contains("Bucketed: true"), s"bucketed scan not used:\n$phys")
        val bhExchanges = "Exchange hashpartitioning\\(bh".r
          .findAllIn(phys).size
        assert(bhExchanges == 1,
          s"expected ONE bh exchange (batch side only), got $bhExchanges:\n$phys")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeThr)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS ix_spec_bands")
      spark.sql("DROP TABLE IF EXISTS ix_spec_sigs")
      spark.sql("DROP TABLE IF EXISTS ix_spec_meta")
    }
  }

  test("banded index append: serve-after-append ≡ serve-after-full-rebuild, " +
    "uncommitted epochs invisible, crashed rebuild fails loudly") {
    val corpusA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (2L, "spark shuffles partitions across the cluster under adaptive query " +
        "execution while the scheduler assigns tasks to executors"),
      (3L, "completely different words live here entirely on their own today")
    ).toDF("doc_id", "text")
    val corpusB = Seq(
      (4L, "a gardening manual describes pruning shears and trowels in detail " +
        "for the serious allotment keeper"),
      (5L, "entirely novel appended content about deep sea creatures and their " +
        "bioluminescent signalling habits")
    ).toDF("doc_id", "text")
    // batch hits one doc from the BASE build and one from the APPEND —
    // both epochs must serve
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (11L, "a gardening manual describes pruning shears and trowels in detail " +
        "for the serious allotment keeper"),
      (12L, "nothing in the corpus resembles this sentence about orbital mechanics")
    ).toDF("doc_id", "text")
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      Dedup.writeBandedIndex(
        Dedup.buildDedupIndex(corpusA, "doc_id", "text"), "ix_app", buckets = 4)
      Dedup.appendToBandedIndex(corpusB, "ix_app", "doc_id", "text")
      val served = hits(Dedup.dedupAgainstBandedIndex(batch, "ix_app",
        "doc_id", "text", minJaccard = 0.5))
      assert(served.map(h => (h._1, h._2)) == Set((10L, 1L), (11L, 4L)),
        s"append must serve both epochs: $served")
      // ≡ a full rebuild over the union
      Dedup.writeBandedIndex(
        Dedup.buildDedupIndex(corpusA.unionByName(corpusB), "doc_id", "text"),
        "ix_fullre", buckets = 4)
      assert(served == hits(Dedup.dedupAgainstBandedIndex(batch, "ix_fullre",
        "doc_id", "text", minJaccard = 0.5)))
      // a SECOND append: three committed epochs serve together, and the
      // earlier epochs keep serving unchanged
      val corpusC = Seq((6L, "measurements of tidal currents near the " +
        "estuary mouth recorded hourly by the small autonomous buoy fleet"))
        .toDF("doc_id", "text")
      Dedup.appendToBandedIndex(corpusC, "ix_app", "doc_id", "text")
      val probe2 = Seq((13L, "measurements of tidal currents near the " +
        "estuary mouth recorded hourly by the small autonomous buoy fleet"))
        .toDF("doc_id", "text")
      val h3 = hits(Dedup.dedupAgainstBandedIndex(probe2, "ix_app",
        "doc_id", "text", minJaccard = 0.5))
      assert(h3.map(h => (h._1, h._2)) == Set((13L, 6L)),
        s"the second append's epoch must serve: $h3")
      assert(hits(Dedup.dedupAgainstBandedIndex(batch, "ix_app",
        "doc_id", "text", minJaccard = 0.5)) == served,
        "earlier epochs must keep serving after further appends")
      // serving stays one-sided after TWO appends: bucketed scans (now 3
      // files per bucket), exactly ONE bh exchange — the batch side
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqeThr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val shuffled = Dedup.dedupAgainstBandedIndex(batch, "ix_app",
          "doc_id", "text", minJaccard = 0.5)
        shuffled.count()
        val phys = shuffled.queryExecution.executedPlan.toString
        assert(phys.contains("Bucketed: true"), s"bucketed scan not used:\n$phys")
        assert("Exchange hashpartitioning\\(bh".r.findAllIn(phys).size == 1,
          s"expected ONE bh exchange (batch side only) after append:\n$phys")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeThr)
      }
      // crash semantics 1: orphan rows at an epoch _meta never committed
      // (a crashed append's partial write) must not change serving
      val orphanRows = spark.table("ix_app_bands").limit(3).collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(orphanRows),
          spark.table("ix_app_bands").schema)
        .withColumn("build_id", lit(999L))
        .write.mode("append").bucketBy(4, "bh").sortBy("bh")
        .saveAsTable("ix_app_bands")
      assert(hits(Dedup.dedupAgainstBandedIndex(batch, "ix_app",
        "doc_id", "text", minJaccard = 0.5)) == served,
        "uncommitted orphan rows must be invisible to serving")
      // crash semantics 2: a stale _meta over rebuilt tables (rebuild
      // crashed between table overwrites and the meta write) fails loudly
      spark.createDataFrame(Seq(Tuple1(12345L))).toDF("build_id")
        .write.mode("overwrite").saveAsTable("ix_app_meta")
      assert(msgChain(intercept[Exception](
          Dedup.dedupAgainstBandedIndex(batch, "ix_app", "doc_id", "text")))
        .contains("no committed rows"))
      // and append refuses the same corrupted state instead of growing it
      assert(msgChain(intercept[Exception](
          Dedup.appendToBandedIndex(corpusB, "ix_app", "doc_id", "text")))
        .contains("no committed rows"))
      // and COMPACTION refuses it too — merging would filter every
      // (uncommitted) row out, commit an empty epoch as the only served
      // one, and GC the sole copies of the data
      assert(msgChain(intercept[Exception](
          Dedup.compactBandedIndex(spark, "ix_app")))
        .contains("no committed rows"))
    } finally {
      Seq("ix_app", "ix_fullre").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_sigs")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      }
    }
  }

  test("banded index compaction: serve-after-compact ≡ serve-before, one " +
    "committed epoch, files-per-bucket back to ~1, crashed-append garbage " +
    "collected, append-after-compact still serves") {
    val corpusA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (2L, "spark shuffles partitions across the cluster under adaptive query " +
        "execution while the scheduler assigns tasks to executors"),
      (3L, "completely different words live here entirely on their own today")
    ).toDF("doc_id", "text")
    val corpusB = Seq(
      (4L, "a gardening manual describes pruning shears and trowels in detail " +
        "for the serious allotment keeper")).toDF("doc_id", "text")
    val corpusC = Seq(
      (5L, "measurements of tidal currents near the estuary mouth recorded " +
        "hourly by the small autonomous buoy fleet")).toDF("doc_id", "text")
    // batch hits docs from the base build AND from both appends — every
    // epoch must survive the merge
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (11L, "a gardening manual describes pruning shears and trowels in detail " +
        "for the serious allotment keeper"),
      (12L, "measurements of tidal currents near the estuary mouth recorded " +
        "hourly by the small autonomous buoy fleet"),
      (13L, "nothing in the corpus resembles this sentence about orbital mechanics")
    ).toDF("doc_id", "text")
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def dataFiles(table: String): Seq[java.io.File] = {
      val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
        .getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        .location.toString))
      Option(loc.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    }
    val buckets = 4
    try {
      Dedup.writeBandedIndex(
        Dedup.buildDedupIndex(corpusA, "doc_id", "text"), "ix_cmp",
        buckets = buckets)
      Dedup.appendToBandedIndex(corpusB, "ix_cmp", "doc_id", "text")
      Dedup.appendToBandedIndex(corpusC, "ix_cmp", "doc_id", "text")
      // a crashed append's orphan rows (epoch never committed): must not
      // serve before OR after compaction, and compaction must GC its files
      val orphanRows = spark.table("ix_cmp_bands").limit(3).collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(orphanRows),
          spark.table("ix_cmp_bands").schema)
        .withColumn("build_id", lit(999L))
        .write.mode("append").bucketBy(buckets, "bh").sortBy("bh")
        .saveAsTable("ix_cmp_bands")
      val before = hits(Dedup.dedupAgainstBandedIndex(batch, "ix_cmp",
        "doc_id", "text", minJaccard = 0.5))
      assert(before.map(h => (h._1, h._2)) ==
        Set((10L, 1L), (11L, 4L), (12L, 5L)), s"pre-compact serve: $before")
      val filesBefore = dataFiles("ix_cmp_bands").size
      assert(filesBefore > buckets,
        s"3 epochs + orphans should exceed $buckets files, got $filesBefore")

      Dedup.compactBandedIndex(spark, "ix_cmp")

      // identical hits AND estimates; exactly ONE committed epoch
      assert(hits(Dedup.dedupAgainstBandedIndex(batch, "ix_cmp",
        "doc_id", "text", minJaccard = 0.5)) == before)
      assert(spark.table("ix_cmp_meta").count() == 1,
        "compaction must leave exactly one committed epoch")
      // files-per-bucket back to ~1 — the merged epoch is repartitioned
      // bucket-aligned, so each table holds at most `buckets` data files
      Seq("ix_cmp_bands", "ix_cmp_sigs").foreach { t =>
        val n = dataFiles(t).size
        assert(n <= buckets && n >= 1,
          s"$t should hold <= $buckets files after compaction, got $n")
      }
      // the crashed append's rows were uncommitted → filtered from the
      // merge, and its files were in the GC snapshot → physically gone
      assert(spark.table("ix_cmp_bands")
        .filter(col("build_id") === 999L).count() == 0,
        "compaction must garbage-collect uncommitted orphan rows")
      // the layout survives: bucketed scans, ONE bh exchange (batch side)
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqeThr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val shuffled = Dedup.dedupAgainstBandedIndex(batch, "ix_cmp",
          "doc_id", "text", minJaccard = 0.5)
        shuffled.count()
        val phys = shuffled.queryExecution.executedPlan.toString
        assert(phys.contains("Bucketed: true"), s"bucketed scan not used:\n$phys")
        assert("Exchange hashpartitioning\\(bh".r.findAllIn(phys).size == 1,
          s"expected ONE bh exchange after compaction:\n$phys")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeThr)
      }
      // the lifecycle continues: append AFTER compaction serves alongside
      // the merged epoch
      val corpusD = Seq((6L, "fresh post-compaction content regarding " +
        "alpine glacier mass balance surveys")).toDF("doc_id", "text")
      Dedup.appendToBandedIndex(corpusD, "ix_cmp", "doc_id", "text")
      val probe = Seq((14L, "fresh post-compaction content regarding " +
        "alpine glacier mass balance surveys")).toDF("doc_id", "text")
      val after = hits(Dedup.dedupAgainstBandedIndex(
        probe.unionByName(batch), "ix_cmp", "doc_id", "text", minJaccard = 0.5))
      assert(after.map(h => (h._1, h._2)) ==
        before.map(h => (h._1, h._2)) + ((14L, 6L)),
        s"append after compaction must serve both epochs: $after")
      // and a second compaction folds those two epochs back to one
      Dedup.compactBandedIndex(spark, "ix_cmp")
      assert(hits(Dedup.dedupAgainstBandedIndex(
        probe.unionByName(batch), "ix_cmp", "doc_id", "text",
        minJaccard = 0.5)) == after)
      assert(spark.table("ix_cmp_meta").count() == 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ix_cmp_bands")
      spark.sql("DROP TABLE IF EXISTS ix_cmp_sigs")
      spark.sql("DROP TABLE IF EXISTS ix_cmp_meta")
    }
  }

  test("deleteFromBandedIndex: tombstoned docs stop matching, re-append " +
    "wins, compaction makes the deletion physical") {
    val t1 = "the quick brown fox jumps over the lazy dog near the old river bank"
    val t2 = "spark shuffles partitions across the cluster under adaptive " +
      "query execution while the scheduler assigns tasks to executors"
    val corpusA = Seq((1L, t1), (2L, t2),
      (3L, "completely different words live here entirely on their own today")
    ).toDF("doc_id", "text")
    val batch = Seq((10L, t1), (11L, t2)).toDF("doc_id", "text")
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def serve() = hits(Dedup.dedupAgainstBandedIndex(batch, "ix_del",
      "doc_id", "text", minJaccard = 0.5))
    try {
      Dedup.writeBandedIndex(
        Dedup.buildDedupIndex(corpusA, "doc_id", "text"), "ix_del", buckets = 4)
      assert(serve() == Set((10L, 1L), (11L, 2L)))
      // the takedown: ids only, no text — doc 1 stops matching
      Dedup.deleteFromBandedIndex(Seq(Tuple1(1L)).toDF("doc_id"),
        "ix_del", "doc_id")
      assert(serve() == Set((11L, 2L)), "a tombstoned doc must stop matching")
      // a crashed delete (tombstones landed, _meta commit did not) deletes
      // nothing: orphan rows at an unlisted epoch
      Seq((2L, 123L)).toDF("sh_id", "build_id")
        .write.mode("append").saveAsTable("ix_del_tombs")
      assert(serve() == Set((11L, 2L)),
        "a crashed delete's orphan tombstones must not delete anything")
      // epoch-scoped: re-appending the deleted doc serves the NEW rows
      Dedup.appendToBandedIndex(Seq((1L, t1)).toDF("doc_id", "text"),
        "ix_del", "doc_id", "text")
      assert(serve() == Set((10L, 1L), (11L, 2L)),
        "a re-appended doc must match again")
      // compaction: deletion physical, tombstone table dropped, serving
      // unchanged; the superseded build-epoch row of doc 1 is gone and
      // only its re-appended row remains
      Dedup.compactBandedIndex(spark, "ix_del")
      assert(serve() == Set((10L, 1L), (11L, 2L)),
        "serve after compaction must equal serve before")
      assert(!spark.catalog.tableExists("ix_del_tombs"),
        "compaction must drop the tombstone table")
      assert(spark.table("ix_del_sigs").count() == 3,
        "one sig row per surviving doc after compaction")
    } finally {
      Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ix_del$s"))
    }
  }

  test("appendToBandedIndexIdempotent: a committed key no-ops, keys " +
    "survive compaction") {
    val t1 = "the quick brown fox jumps over the lazy dog near the old river bank"
    val corpusA = Seq((1L, t1)).toDF("doc_id", "text")
    val corpusB = Seq((2L, "entirely novel appended content about deep sea " +
      "creatures and their bioluminescent signalling habits")).toDF("doc_id", "text")
    val batch = Seq((10L, t1), (11L, "entirely novel appended content about " +
      "deep sea creatures and their bioluminescent signalling habits"))
      .toDF("doc_id", "text")
    def serve() = Dedup.dedupAgainstBandedIndex(batch, "ix_idem",
      "doc_id", "text", minJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      Dedup.writeBandedIndex(
        Dedup.buildDedupIndex(corpusA, "doc_id", "text"), "ix_idem", buckets = 4)
      assert(Dedup.appendToBandedIndexIdempotent(corpusB, "ix_idem",
        "doc_id", "text", "k1"), "first delivery must append")
      val after = serve()
      assert(after == Set((10L, 1L), (11L, 2L)))
      // the foreachBatch replay shape: same key → no-op, no duplicate rows
      assert(!Dedup.appendToBandedIndexIdempotent(corpusB, "ix_idem",
        "doc_id", "text", "k1"), "a committed key must no-op")
      assert(serve() == after)
      assert(spark.table("ix_idem_sigs").count() == 2,
        "a replayed batch must not add signature rows")
      // keys survive compaction, re-pointed at the merged epoch
      Dedup.compactBandedIndex(spark, "ix_idem")
      assert(!Dedup.appendToBandedIndexIdempotent(corpusB, "ix_idem",
        "doc_id", "text", "k1"), "keys must survive compaction")
      assert(serve() == after, "serve after compaction must equal before")
    } finally {
      Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ix_idem$s"))
    }
  }

  test("kmeansFit: deterministic learned IVF — planted clusters recovered, " +
    "learned-partition ivfTopK equals brute force") {
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array.fill(8)(10.0),
      Array.fill(8)(-10.0),
      Array.tabulate(8)(i => if (i % 2 == 0) 10.0 else -10.0))
    val data = (0 until 300).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat).toSeq)
    }
    val df = data.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 5)
    assert(cents.length == 3)
    // purity: each planted cluster maps to exactly ONE learned label and
    // the three labels are distinct (farthest-first seeding makes this
    // deterministic — random init could drop two seeds in one cluster)
    val labeled = Similarity.withCoarseLabel(df, "embedding", cents)
    val lab = labeled.select($"vec_id", $"coarse").collect()
      .map(r => (r.getLong(0) % 3, r.getInt(1)))
    val byPlanted = lab.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byPlanted.values.forall(_.size == 1), s"impure clusters: $byPlanted")
    assert(byPlanted.values.flatten.toSet.size == 3, s"merged clusters: $byPlanted")
    // deterministic: identical re-fit bit for bit
    val refit = Similarity.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 5)
    assert(cents.map(_.toSeq).toSeq == refit.map(_.toSeq).toSeq)
    // the learned coarse partition serves ivfTopK exactly like the
    // caller-supplied label on well-separated data: equals brute force
    val queries = df.filter($"vec_id" < 9)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val learned = Similarity.ivfTopK(labeled,
      Similarity.withCoarseLabel(queries, "embedding", cents),
      "vec_id", "embedding", "coarse", 3)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 3)
    assert(key(learned) == key(exact))
    // degenerate inputs fail fast
    intercept[IllegalArgumentException](
      Similarity.kmeansFit(df, "vec_id", "embedding", k = 0))
    intercept[IllegalArgumentException](Similarity.kmeansFit(
      Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3))
  }

  test("kmeansFit: sampled seeding — a sample smaller than the corpus still " +
    "recovers planted clusters, refit-deterministic; labelers fail fast") {
    val rnd = new scala.util.Random(23)
    val centers = Seq(Array.fill(6)(8.0), Array.fill(6)(-8.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 8.0 else -8.0))
    val df = (0 until 240).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.4).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // 24-row sample is a strict SUBSET of the 240-row corpus — the scale
    // path: one TakeOrdered scan + driver-local Gonzalez, zero per-seed jobs
    val cents = Similarity.kmeansFit(df, "vec_id", "embedding", k = 3,
      iters = 5, sampleRows = 24)
    val lab = Similarity.withCoarseLabel(df, "embedding", cents)
      .select($"vec_id", $"coarse").collect()
      .map(r => (r.getLong(0) % 3, r.getInt(1)))
    val byPlanted = lab.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byPlanted.values.forall(_.size == 1), s"impure clusters: $byPlanted")
    assert(byPlanted.values.flatten.toSet.size == 3, s"merged clusters: $byPlanted")
    // bit-identical refit on the same layout, sampled seeder included
    val refit = Similarity.kmeansFit(df, "vec_id", "embedding", k = 3,
      iters = 5, sampleRows = 24)
    assert(cents.map(_.toSeq).toSeq == refit.map(_.toSeq).toSeq)
    // the md5-prefix sample is partition-independent: SEEDING survives a
    // repartition even though Lloyd's distributed sums don't promise
    // bit-identity — so cluster assignments (not bits) must agree
    val cents2 = Similarity.kmeansFit(df.repartition(7), "vec_id", "embedding",
      k = 3, iters = 5, sampleRows = 24)
    val lab2 = Similarity.withCoarseLabel(df, "embedding", cents2)
      .select($"vec_id", $"coarse").collect()
      .map(r => (r.getLong(0) % 3, r.getInt(1)))
    val byPlanted2 = lab2.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byPlanted2.values.forall(_.size == 1) &&
      byPlanted2.values.flatten.toSet.size == 3,
      s"repartitioned fit lost cluster purity: $byPlanted2")
    // sampleRows must admit k seeds
    intercept[IllegalArgumentException](Similarity.kmeansFit(
      df, "vec_id", "embedding", k = 3, iters = 1, sampleRows = 2))
    // serving labelers enforce the dense-vector policy instead of
    // silently mislabeling: null and ragged embeddings raise on BOTH paths
    val bad = Seq((1L, Option(Seq(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f))),
      (2L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    assert(msgChain(intercept[Exception](
        Similarity.withCoarseLabel(bad, "embedding", cents).collect()))
      .contains("null or empty embedding"))
    val ragged = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(msgChain(intercept[Exception](
        Similarity.withCoarseLabel(ragged, "embedding", cents).collect()))
      .contains("ragged embedding"))
    assert(msgChain(intercept[Exception](
        Similarity.withProbeLabels(ragged, "embedding", cents, 2).collect()))
      .contains("ragged embedding"))
    intercept[IllegalArgumentException](
      Similarity.withCoarseLabel(df, "embedding", Array(Array(1.0), Array(1.0, 2.0))))
  }

  test("kmeansFit: driver-byte guard bounds sampleRows x dims BEFORE the " +
    "collect, naming both dials") {
    val df = (0 until 50).map(i => (i.toLong, Seq.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    // 50M rows x 8 dims x 8 B = 3.2 GB >> the 256 MiB bound; the guard
    // must fire from the limit(1) dims probe, never from an OOM'd collect
    val e = msgChain(intercept[IllegalArgumentException](Similarity.kmeansFit(
      df, "vec_id", "embedding", k = 2, iters = 1, sampleRows = 50000000)))
    assert(e.contains("sampleRows") && e.contains("dims"),
      s"remediation must name both dials: $e")
    assert(e.contains("MiB"), s"guard should state the bound: $e")
    // under the bound, the same corpus fits fine
    assert(Similarity.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 1,
      sampleRows = 10).length == 2)
    // the byte guard's dims probe must route through the null guard: a
    // null first embedding produces the designed raise, not a bare NPE
    // from reading a null size
    val nullFirst = Seq((1L, Option.empty[Seq[Float]]),
      (2L, Option(Seq(1.0f, 2.0f)))).toDF("vec_id", "embedding")
    assert(msgChain(intercept[Exception](Similarity.kmeansFit(
        nullFirst, "vec_id", "embedding", k = 1, iters = 1)))
      .contains("null or empty embedding"))
  }

  test("assignmentDrift: planted drift reads as the shifted cluster's mass, " +
    "unshifted centroids read as zero") {
    val rnd = new scala.util.Random(31)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0))
    // 240 vectors, alternating clouds — cloud 1 holds exactly half the mass
    val df = (0 until 240).map { i =>
      val c = centers(i % 2)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Array(Array.fill(6)(9.0), Array.fill(6)(-9.0))
    val index = Similarity.withCoarseLabel(df, "embedding", cents)
      .select($"vec_id", $"embedding", $"coarse")
    // same centroids the labels came from: nothing drifted
    assert(Similarity.assignmentDrift(index, "vec_id", "embedding", "coarse",
      cents) == 0.0)
    // centroid 1 moved far away: every cloud-1 vector's nearest centroid
    // is now centroid 0 — drift == cloud 1's mass exactly
    val shifted = Array(Array.fill(6)(9.0), Array.fill(6)(500.0))
    assert(Similarity.assignmentDrift(index, "vec_id", "embedding", "coarse",
      shifted) == 0.5)
    // the sample is a deterministic md5-prefix subset: a partial sample
    // still measures, and repartitioning cannot change which rows it reads
    val sub = Similarity.assignmentDrift(index, "vec_id", "embedding",
      "coarse", shifted, sampleRows = 60)
    assert(sub == Similarity.assignmentDrift(index.repartition(7), "vec_id",
      "embedding", "coarse", shifted, sampleRows = 60))
    assert(sub > 0.3 && sub < 0.7, s"60-row sample should straddle 0.5: $sub")
    // corrupted index rows fail loudly, never read as "no drift"
    val nullLabel = df.select($"vec_id", $"embedding",
      lit(null).cast("int").as("coarse"))
    assert(msgChain(intercept[Exception](Similarity.assignmentDrift(
        nullLabel, "vec_id", "embedding", "coarse", cents)))
      .contains("null stored label"))
    val ragged = Seq((1L, Seq(1.0f, 2.0f), 0)).toDF("vec_id", "embedding", "coarse")
    assert(msgChain(intercept[Exception](Similarity.assignmentDrift(
        ragged, "vec_id", "embedding", "coarse", cents)))
      .contains("ragged embedding"))
    intercept[IllegalArgumentException](Similarity.assignmentDrift(
      index, "vec_id", "embedding", "coarse", cents, sampleRows = 0))
    assert(msgChain(intercept[Exception](Similarity.assignmentDrift(
        index.limit(0), "vec_id", "embedding", "coarse", cents)))
      .contains("empty index"))
  }

  test("withProbeLabels: nprobe=2 recovers the cross-cell neighbor nprobe=1 misses") {
    // two cells; the query lives in cell 0 by L2 but its COSINE-nearest
    // corpus vector lives in cell 1 — the boundary case multi-probe exists
    // for. Single probe returns the in-cell vector; two probes return the
    // true (brute-force) neighbor.
    val cents = Array(Array(10.0, 0.0), Array(-10.0, 0.0))
    val corpus = Seq(
      (1L, Seq(9.0f, 1.0f)),   // cell 0
      (2L, Seq(-0.1f, 1.0f))   // cell 1; cosine-nearest to the query
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(0.5f, 0.86f))).toDF("vec_id", "embedding")
    val labeledCorpus = Similarity.withCoarseLabel(corpus, "embedding", cents)
    // sanity: the fixture really straddles the edge
    assert(labeledCorpus.select("vec_id", "coarse").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == Map(1L -> 0, 2L -> 1))
    def top1(nprobe: Int) = Similarity.ivfTopK(labeledCorpus,
        Similarity.withProbeLabels(queries, "embedding", cents, nprobe),
        "vec_id", "embedding", "coarse", 1)
      .select("nn_id").as[Long].collect().toSeq
    assert(top1(1) == Seq(1L), "single probe is confined to the query's own cell")
    assert(top1(2) == Seq(2L), "two probes must recover the cross-cell neighbor")
    assert(top1(2) == Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 1).select("nn_id").as[Long].collect().toSeq)
    intercept[IllegalArgumentException](
      Similarity.withProbeLabels(queries, "embedding", cents, 3))
    intercept[IllegalArgumentException](
      Similarity.withProbeLabels(queries, "embedding", cents, 0))
  }

  test("multi-probe × quantized index: nprobe=2 against a buildQuantizedIndex " +
    "frame recovers the cross-cell neighbor nprobe=1 misses, no probe dups") {
    // same boundary fixture as the withProbeLabels spec: the query's
    // cosine-nearest corpus vector lives across the Voronoi edge — now
    // served from the persisted int8 index, the composition a real
    // deployment runs (quantize once, probe many)
    val cents = Array(Array(10.0, 0.0), Array(-10.0, 0.0))
    val corpus = Seq(
      (1L, Seq(9.0f, 1.0f)),   // cell 0
      (2L, Seq(-0.1f, 1.0f)),  // cell 1; cosine-nearest to the query
      (3L, Seq(8.0f, -2.0f))   // cell 0 filler so k=2 has depth in-cell
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(0.5f, 0.86f))).toDF("vec_id", "embedding")
    val labeled = Similarity.withCoarseLabel(corpus, "embedding", cents)
    // the index round-trips through parquet — integer codes, exact
    val dir = java.nio.file.Files.createTempDirectory("q8-probe-ix").toString
    Similarity.buildQuantizedIndex(labeled, "vec_id", "embedding", "coarse")
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    def serve(nprobe: Int, k: Int) = Similarity.ivfTopKQuantized(
      index, labeled,
      Similarity.withProbeLabels(queries, "embedding", cents, nprobe),
      "vec_id", "embedding", "coarse", k, candidateFactor = 4)
    assert(serve(1, 1).select("nn_id").as[Long].collect().toSeq == Seq(1L),
      "single probe is confined to the query's own cell")
    assert(serve(2, 1).select("nn_id").as[Long].collect().toSeq == Seq(2L),
      "two probes must recover the cross-cell neighbor from the quantized index")
    // equals brute force at full depth, and the probe fan-out must NOT
    // duplicate pairs through the re-scoring join (the rank window would
    // otherwise carry the same neighbor at ranks 1 and 2)
    val two = serve(2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(two.map(t => (t._1, t._2)).distinct.length == two.length,
      s"duplicate (query, neighbor) pairs from the probe fan-out: ${two.toSeq}")
    assert(two.map(_._3).sorted.toSeq == Seq(1, 2))
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(two.toSet == exact,
      "multi-probe quantized serving must equal the exact top-k here")
  }

  test("partition-pruned IVF serving: writeIvfIndex layout reads only the " +
    "probed cells, results identical to the full-index serve") {
    val rnd = new scala.util.Random(31)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
    val corpus = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 3, iters = 4)
    val labeled = Similarity.withCoarseLabel(corpus, "embedding", cents)
    val dir = java.nio.file.Files.createTempDirectory("ivf-ix").toString
    Similarity.writeIvfIndex(
      Similarity.buildQuantizedIndex(labeled, "vec_id", "embedding", "coarse"),
      dir, "coarse")
    // queries from ONE planted cluster, single-probe labels → one cell probed
    val queries = Similarity.withCoarseLabel(
      corpus.filter($"vec_id" % 3 === 0 && $"vec_id" < 9), "embedding", cents)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val pruned = Similarity.ivfTopKQuantizedPruned(dir, labeled, queries,
      "vec_id", "embedding", "coarse", k = 3)
    val full = Similarity.ivfTopKQuantized(spark.read.parquet(dir), labeled,
      queries, "vec_id", "embedding", "coarse", k = 3, candidateFactor = 4)
    assert(key(pruned) == key(full),
      "dropping unprobed cells must not change the answer")
    assert(key(pruned).map(_._1) == queries.select("vec_id").as[Long].collect().toSet)
    // the layout's point: the cell filter prunes at the FILE level — the
    // pruned read lists a strict subset of the index's files, and the
    // scan carries a partition filter on the cell column
    val cell = queries.select("coarse").distinct().as[Int].collect().toSeq
    assert(cell.size == 1, s"fixture should probe exactly one cell: $cell")
    val cellFiles = spark.read.parquet(s"$dir/coarse=${cell.head}")
      .inputFiles.length
    val totalFiles = spark.read.parquet(dir).inputFiles.length
    assert(cellFiles > 0 && cellFiles < totalFiles,
      s"expected a per-cell file subset, got $cellFiles of $totalFiles")
    pruned.count()
    val phys = pruned.queryExecution.executedPlan.toString
    assert(phys.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]*coarse".r.findFirstIn(phys).isDefined,
      s"index scan must carry a coarse partition filter:\n$phys")
    // multi-probe composes identically on the pruned path
    val probed = Similarity.withProbeLabels(
      corpus.filter($"vec_id" % 3 === 0 && $"vec_id" < 9), "embedding", cents, 2)
    assert(key(Similarity.ivfTopKQuantizedPruned(dir, labeled, probed,
        "vec_id", "embedding", "coarse", k = 3)) ==
      key(Similarity.ivfTopKQuantized(spark.read.parquet(dir), labeled, probed,
        "vec_id", "embedding", "coarse", k = 3, candidateFactor = 4)))
    // duplicate query ids are legal ONLY as probe fan-out (identical
    // vector per id — the multi-probe serve above): CONFLICTING vectors
    // under one id raise instead of a silently arbitrary answer
    val conflict = probed.unionByName(probed.limit(1)
      .select($"vec_id",
        transform($"embedding", x => x + lit(1.0f)).as("embedding"), $"coarse"))
    assert(msgChain(intercept[Exception](
        Similarity.ivfTopKQuantized(spark.read.parquet(dir), labeled, conflict,
          "vec_id", "embedding", "coarse", 3, 4).collect()))
      .contains("conflicting vectors"))
    // a crashed writeIvfIndex overwrite (no _SUCCESS marker) must refuse
    // to serve — a partial directory would silently drop cells
    val marker = new java.io.File(dir, "_SUCCESS")
    assert(marker.exists(), "fixture assumes the default committer's marker")
    assert(marker.delete())
    assert(msgChain(intercept[IllegalArgumentException](
        Similarity.ivfTopKQuantizedPruned(dir, labeled, queries,
          "vec_id", "embedding", "coarse", k = 3)))
      .contains("_SUCCESS"))
  }

  test("learned-IVF lifecycle: quantizer rides with the index, serve is " +
    "self-contained, drift gates the rebuild") {
    val rnd = new scala.util.Random(47)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
    def cloud(ctr: Array[Double]): Seq[Float] =
      ctr.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    val corpus = (0 until 90).map(i => (i.toLong, cloud(centers(i % 3))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(corpus, "vec_id", "embedding", k = 3, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-learned").toString
    Similarity.writeLearnedIndex(corpus, "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))
    // the quantizer round-trips exactly (doubles, parquet, cid order)
    assert(Similarity.loadLearnedIndex(spark, dir).centroids.map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq)
    // ...and the data read never sees the riding _centroids/_epochs
    // directories — only the data columns plus the epoch stamp
    assert(spark.read.parquet(dir).columns.sorted.toSeq ==
      Seq("build_id", "coarse", "q8", "q8_scale", "vec_id"))
    // self-contained serve ≡ the caller-threaded in-memory learned path
    val queries = corpus.filter($"vec_id" < 9)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val served = Similarity.serveLearnedIndex(dir, corpus, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val threaded = Similarity.ivfTopKQuantized(
      Similarity.buildQuantizedIndex(
        Similarity.withCoarseLabel(corpus, "embedding", cents),
        "vec_id", "embedding", "coarse"),
      corpus,
      Similarity.withProbeLabels(queries, "embedding", cents, nprobe = 2),
      "vec_id", "embedding", "coarse", 3, candidateFactor = 4)
    assert(key(served) == key(threaded),
      "serveIvfIndex must equal the in-memory learned path on one quantizer")
    // unchanged corpus: deterministic refit ⇒ zero drift, no write
    val marker = new java.io.File(dir, "_SUCCESS")
    val mtime = marker.lastModified()
    // no k passed: the default derives it from the riding quantizer
    val r1 = Similarity.refreshLearnedIndex(dir, corpus, "vec_id", "embedding",
      iters = 4, driftTolerance = 0.05)
    assert(r1 == Similarity.IvfRefresh(0.0, rebuilt = false),
      s"an unchanged corpus must read zero drift and skip the rebuild: $r1")
    assert(marker.lastModified() == mtime, "no-op refresh must not rewrite")
    // the corpus shifts by MIGRATION (a third of cloud 2's rows move
    // into cloud 0's location — cell membership changes; a rigid
    // translation of a whole cloud keeps membership and correctly reads
    // as zero), so the migrated mass must read as drift
    val shifted = (0 until 90).map { i =>
      val c = if (i % 3 == 2 && i < 30) centers(0) else centers(i % 3)
      (i.toLong, cloud(c))
    }.toDF("vec_id", "embedding")
    val r2 = Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding",
      k = 3, iters = 4, driftTolerance = 0.05)
    assert(r2.rebuilt && r2.drift >= 0.1,
      s"10/90 rows moved cells - drift must cross the 0.05 tolerance: $r2")
    // the rebuild converged: a second refresh on the same corpus is clean,
    // and serving now answers from the NEW quantizer
    val r3 = Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding",
      k = 3, iters = 4, driftTolerance = 0.05)
    assert(r3 == Similarity.IvfRefresh(0.0, rebuilt = false),
      s"refresh after rebuild must be a no-op: $r3")
    val cents2 = Similarity.kmeansFit(shifted, "vec_id", "embedding", k = 3, iters = 4)
    assert(key(Similarity.serveLearnedIndex(dir, shifted, shifted.filter($"vec_id" < 9),
        "vec_id", "embedding", k = 3, nprobe = 2)) ==
      key(Similarity.ivfTopKQuantized(
        Similarity.buildQuantizedIndex(
          Similarity.withCoarseLabel(shifted, "embedding", cents2),
          "vec_id", "embedding", "coarse"),
        shifted,
        Similarity.withProbeLabels(shifted.filter($"vec_id" < 9), "embedding",
          cents2, nprobe = 2),
        "vec_id", "embedding", "coarse", 3, candidateFactor = 4)),
      "post-rebuild serving must answer from the refit quantizer")
    // crash between the data write and the quantizer write: data marker
    // exists, _centroids' doesn't — every entry point refuses loudly
    val qMarker = new java.io.File(s"$dir/_centroids", "_SUCCESS")
    assert(qMarker.exists(), "fixture assumes the committer's marker")
    assert(qMarker.delete())
    Seq(
      () => Similarity.loadLearnedIndex(spark, dir).centroids,
      () => Similarity.serveLearnedIndex(dir, shifted, queries, "vec_id", "embedding", 3),
      () => Similarity.refreshLearnedIndex(dir, shifted, "vec_id", "embedding", 3)
    ).foreach { f =>
      assert(msgChain(intercept[IllegalArgumentException](f()))
        .contains("writeLearnedIndex"), "half-committed index must refuse")
    }
    // an index written WITHOUT a riding quantizer refuses the
    // self-contained serve and names the caller-managed alternative
    val plain = java.nio.file.Files.createTempDirectory("ivf-plain").toString
    Similarity.writeIvfIndex(
      Similarity.buildQuantizedIndex(
        Similarity.withCoarseLabel(corpus, "embedding", cents),
        "vec_id", "embedding", "coarse"),
      plain, "coarse")
    assert(msgChain(intercept[IllegalArgumentException](
        Similarity.serveLearnedIndex(plain, corpus, queries, "vec_id", "embedding", 3)))
      .contains("ivfTopKQuantizedPruned"))
  }

  test("learned-IVF ingest lifecycle: epoch-committed appends serve like a " +
    "rebuild, crashed appends are invisible, compaction restores the layout") {
    val rnd = new scala.util.Random(53)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
    def cloud(ctr: Array[Double]): Seq[Float] =
      ctr.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    def mk(ids: Range) = ids.map(i => (i.toLong, cloud(centers(i % 3))))
      .toDF("vec_id", "embedding")
    // mk draws its noise EAGERLY per call (the Seq is built before toDF),
    // so each frame below is stable and `all` is their exact union
    val base = mk(0 until 60)
    val batch1 = mk(60 until 75)
    val batch2 = mk(75 until 90)
    val all = base.union(batch1).union(batch2)
    val cents = Similarity.kmeansFit(base, "vec_id", "embedding", k = 3, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-ingest").toString
    Similarity.writeLearnedIndex(base, "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))
    val queries = base.filter($"vec_id" < 9)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    def dataFiles(cell: Int): Int =
      new java.io.File(s"$dir/coarse=$cell").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    // THE GAP this lifecycle closes: rows arriving after the build are
    // unservable — candidates come from the index, not the corpus arg
    val before = key(Similarity.serveLearnedIndex(dir, all, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    assert(before.forall(_._2 < 60),
      "un-appended rows must not be served as neighbors")
    Similarity.appendToLearnedIndex(batch1, dir, "vec_id", "embedding")
    Similarity.appendToLearnedIndex(batch2, dir, "vec_id", "embedding")
    // serve-after-appends ≡ a full rebuild over the union with the SAME
    // quantizer (labels and codes are deterministic per vector, so the
    // two layouts hold identical rows)
    val rebuilt = java.nio.file.Files.createTempDirectory("ivf-rebuilt").toString
    Similarity.writeLearnedIndex(all, "vec_id", "embedding", rebuilt,
      Similarity.IvfQuantizer(cents))
    val after = key(Similarity.serveLearnedIndex(dir, all, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    assert(after == key(Similarity.serveLearnedIndex(rebuilt, all, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)),
      "serve after N appends must equal serve after a same-centroid rebuild")
    assert(after.exists(_._2 >= 60), "appended rows must now be servable")
    // one data file per cell per write: build + 2 appends = 3
    assert((0 until 3).forall(dataFiles(_) == 3),
      s"expected 3 files/cell after build+2 appends: ${(0 until 3).map(dataFiles)}")
    // the committed-epoch predicate rides the SCAN, alongside the cell
    // partition filter — row-group stats skip uncommitted files; no
    // post-scan filter stage, no extra shuffle
    val planned = Similarity.serveLearnedIndex(dir, all, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    planned.count()
    val phys = planned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*coarse".r.findFirstIn(phys).isDefined,
      s"serve scan must carry the coarse partition filter:\n$phys")
    assert("PushedFilters: \\[[^\\]]*build_id".r.findFirstIn(phys).isDefined,
      s"serve scan must push the committed-epoch filter:\n$phys")
    // a CRASHED append — data landed, the _epochs commit didn't — is
    // invisible to serving (and to the drift sample): orphan rows at an
    // unlisted epoch
    Similarity.buildQuantizedIndex(
        Similarity.withCoarseLabel(mk(90 until 96), "embedding", cents),
        "vec_id", "embedding", "coarse")
      .withColumn("build_id", org.apache.spark.sql.functions.lit(123L))
      .repartition(org.apache.spark.sql.functions.col("coarse"))
      .write.mode("append").partitionBy("coarse").parquet(dir)
    assert(key(Similarity.serveLearnedIndex(dir, all, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)) == after,
      "a crashed append's orphan rows must not serve")
    // compaction: merges the committed epochs, GCs the orphans, restores
    // ~one file per cell, and serving is unchanged
    Similarity.compactLearnedIndex(spark, dir, "vec_id")
    assert(key(Similarity.serveLearnedIndex(dir, all, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)) == after,
      "serve after compaction must equal serve before")
    assert(spark.read.parquet(s"$dir/_epochs").count() == 1,
      "compaction must leave exactly one committed epoch")
    assert((0 until 3).forall(dataFiles(_) == 1),
      s"expected 1 file/cell after compaction: ${(0 until 3).map(dataFiles)}")
    assert(spark.read.parquet(dir).filter($"vec_id" >= 90).count() == 0,
      "compaction must GC the crashed append's orphan rows")
    // the id-uniqueness precondition is enforced at compaction, where the
    // full read is already paid: a re-appended id raises instead of
    // serving two versions forever
    Similarity.appendToLearnedIndex(batch1.limit(3), dir, "vec_id", "embedding")
    assert(msgChain(intercept[IllegalArgumentException](
        Similarity.compactLearnedIndex(spark, dir, "vec_id")))
      .contains("duplicate id"))
    // append refuses a path with no commit record (plain writeIvfIndex
    // layout) before writing anything into it
    val plain = java.nio.file.Files.createTempDirectory("ivf-plain2").toString
    Similarity.writeIvfIndex(
      Similarity.buildQuantizedIndex(
        Similarity.withCoarseLabel(base, "embedding", cents),
        "vec_id", "embedding", "coarse"),
      plain, "coarse")
    assert(msgChain(intercept[IllegalArgumentException](
        Similarity.appendToLearnedIndex(batch1, plain, "vec_id", "embedding")))
      .contains("writeLearnedIndex"))
  }

  test("deleteFromIvfIndex: tombstoned rows stop serving, re-append wins, " +
    "compaction makes the deletion physical") {
    val rnd = new scala.util.Random(67)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
    def cloud(ctr: Array[Double]): Seq[Float] =
      ctr.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    val baseRows = (0 until 60).map(i => (i.toLong, cloud(centers(i % 3))))
    val base = baseRows.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(base, "vec_id", "embedding", k = 3, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-del").toString
    Similarity.writeLearnedIndex(base, "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))
    val queries = base.filter($"vec_id" < 9)
    def served(corpus: org.apache.spark.sql.DataFrame): Set[Long] =
      Similarity.serveLearnedIndex(dir, corpus, queries,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select("nn_id").collect().map(_.getLong(0)).toSet
    // the takedown: ids 30..39 must stop appearing as neighbors, and the
    // answer must equal a rebuild over the corpus WITHOUT them
    val victims = base.filter($"vec_id" >= 30 && $"vec_id" < 40)
    assert(served(base).exists(id => id >= 30 && id < 40),
      "fixture: victims should be serving before the delete")
    Similarity.deleteFromLearnedIndex(victims.select("vec_id"), dir, "vec_id")
    val afterDelete = served(base)
    assert(!afterDelete.exists(id => id >= 30 && id < 40),
      "tombstoned rows must not serve")
    val survivors = base.filter($"vec_id" < 30 || $"vec_id" >= 40)
    val rebuilt = java.nio.file.Files.createTempDirectory("ivf-del-rb").toString
    Similarity.writeLearnedIndex(survivors, "vec_id", "embedding",
      rebuilt, Similarity.IvfQuantizer(cents))
    assert(afterDelete == Similarity.serveLearnedIndex(rebuilt, base, queries,
        "vec_id", "embedding", 3, 2)
        .select("nn_id").collect().map(_.getLong(0)).toSet,
      "serve-after-delete must equal a rebuild without the victims")
    // a crashed delete (tombstones landed, commit record did not) is
    // invisible: orphan tombstone rows at an unlisted epoch delete nothing
    base.filter($"vec_id" < 3).select($"vec_id")
      .withColumn("build_id", org.apache.spark.sql.functions.lit(123L))
      .write.mode("append").parquet(s"$dir/_tombstones")
    assert(served(base) == afterDelete,
      "a crashed delete's orphan tombstones must not delete anything")
    // tombstones are EPOCH-SCOPED: re-appending a deleted id serves the
    // NEW row (its epoch postdates the tombstone). Re-added id 30 is a
    // near-duplicate of query 0's vector, so it MUST rank as query 0's
    // top neighbor — direct visibility, not just rebuild-equality
    val readd = ((30L, baseRows(0)._2.map(_ + 0.01f)) +:
        (31 until 33).map(i => (i.toLong, cloud(centers(i % 3)))))
      .toDF("vec_id", "embedding")
    Similarity.appendToLearnedIndex(readd, dir, "vec_id", "embedding")
    val corpusReadd = survivors.union(readd)
    val afterReadd = served(corpusReadd)
    assert(afterReadd.contains(30L), "a re-appended id must serve again")
    val rebuiltReadd = java.nio.file.Files
      .createTempDirectory("ivf-del-rb2").toString
    Similarity.writeLearnedIndex(corpusReadd, "vec_id", "embedding",
      rebuiltReadd, Similarity.IvfQuantizer(cents))
    assert(afterReadd == Similarity.serveLearnedIndex(rebuiltReadd, corpusReadd,
        queries, "vec_id", "embedding", 3, 2)
        .select("nn_id").collect().map(_.getLong(0)).toSet,
      "delete + re-append must equal a rebuild over the final corpus")
    // compaction: deletion becomes physical, tombstones GC'd, the
    // delete-then-re-append history compacts cleanly (no duplicate raise)
    Similarity.compactLearnedIndex(spark, dir, "vec_id")
    assert(served(corpusReadd) == afterReadd,
      "serve after compaction must equal serve before")
    assert(spark.read.parquet(dir)
        .filter($"vec_id" >= 33 && $"vec_id" < 40).count() == 0,
      "compaction must physically drop tombstoned rows")
    assert(spark.read.parquet(dir)
        .filter($"vec_id" >= 30 && $"vec_id" < 33).count() == 3,
      "compaction must keep the re-added rows")
    assert(!new java.io.File(s"$dir/_tombstones").exists() ||
      new java.io.File(s"$dir/_tombstones").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) == 0,
      "compaction must GC the tombstone files")
    // deleting on a plain (non-learned) layout refuses up front
    assert(msgChain(intercept[IllegalArgumentException](
        Similarity.deleteFromLearnedIndex(victims.select("vec_id"),
          java.nio.file.Files.createTempDirectory("ivf-del-plain").toString,
          "vec_id")))
      .contains("_SUCCESS"))
  }

  test("appendToIvfIndexIdempotent: a committed key no-ops, a crashed " +
    "attempt retries exactly-once, keys survive compaction") {
    val rnd = new scala.util.Random(59)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
      Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
    def cloud(ctr: Array[Double]): Seq[Float] =
      ctr.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    def mk(ids: Range) = ids.map(i => (i.toLong, cloud(centers(i % 3))))
      .toDF("vec_id", "embedding")
    val base = mk(0 until 60)
    val b1 = mk(60 until 70)
    val b2 = mk(70 until 80)
    val cents = Similarity.kmeansFit(base, "vec_id", "embedding", k = 3, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-idem").toString
    Similarity.writeLearnedIndex(base, "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))
    val queries = base.filter($"vec_id" < 9)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    def serveAll(corpus: org.apache.spark.sql.DataFrame) =
      key(Similarity.serveLearnedIndex(dir, corpus, queries,
        "vec_id", "embedding", k = 3, nprobe = 2))
    assert(Similarity.appendToLearnedIndex(b1, dir,
      "vec_id", "embedding", Some("k1")), "first delivery must append")
    val afterB1 = serveAll(base.union(b1))
    // the foreachBatch replay shape: same key, same rows — must no-op
    assert(!Similarity.appendToLearnedIndex(b1, dir,
      "vec_id", "embedding", Some("k1")), "a committed key must no-op")
    assert(serveAll(base.union(b1)) == afterB1,
      "a replayed batch must not change what serves")
    // a CRASHED first attempt (data landed, commit record did not): the
    // orphan rows are invisible, and the keyed retry re-appends and
    // commits — rows serve exactly once
    Similarity.buildQuantizedIndex(
        Similarity.withCoarseLabel(b2, "embedding", cents),
        "vec_id", "embedding", "coarse")
      .withColumn("build_id", org.apache.spark.sql.functions.lit(999L))
      .repartition(org.apache.spark.sql.functions.col("coarse"))
      .write.mode("append").partitionBy("coarse").parquet(dir)
    assert(Similarity.appendToLearnedIndex(b2, dir,
      "vec_id", "embedding", Some("k2")), "an uncommitted key must retry")
    val afterB2 = serveAll(base.union(b1).union(b2))
    val rebuilt = java.nio.file.Files.createTempDirectory("ivf-idem-rb").toString
    Similarity.writeLearnedIndex(base.union(b1).union(b2),
      "vec_id", "embedding", rebuilt, Similarity.IvfQuantizer(cents))
    assert(afterB2 == key(Similarity.serveLearnedIndex(rebuilt,
        base.union(b1).union(b2), queries, "vec_id", "embedding", 3, 2)),
      "the retried batch must serve exactly once (== same-centroid rebuild)")
    // compaction folds the batches in but KEEPS their keys (re-pointed at
    // the merged epoch): a replay from before the compaction still reads
    // as already-delivered — and the orphan from the crashed attempt was
    // GC'd, so the uniqueness probe inside compact passes
    Similarity.compactLearnedIndex(spark, dir, "vec_id")
    assert(!Similarity.appendToLearnedIndex(b1, dir,
      "vec_id", "embedding", Some("k1")), "keys must survive compaction")
    assert(!Similarity.appendToLearnedIndex(b2, dir,
      "vec_id", "embedding", Some("k2")), "keys must survive compaction")
    assert(serveAll(base.union(b1).union(b2)) == afterB2,
      "serve after compaction must equal serve before")
  }

  test("simhashPairsPartitioned: saturation regime — identical pairs, candidate " +
    "volume cut by the length partition") {
    // emulate n ≫ 2^width cheaply by SHRINKING the chunk width: 16 bands of
    // 4 bits give a 16-value per-chunk bucket space, which a 600-doc corpus
    // saturates the way the production 4×16-bit geometry saturates past
    // ~65k docs — same regime, unit-test scale
    val rnd = new scala.util.Random(7)
    val n = 600
    val base = (0 until n).map { i =>
      val words = (0 until 5 + (i % 40)).map(_ => s"w${rnd.nextInt(5000)}")
      (i.toLong, words.mkString(" "))
    }
    // planted exact dup (hamming 0, same token count) — must survive both paths
    val d = (base :+ ((n.toLong, base.head._2))).toDF("doc_id", "text")
    val h = Dedup.simhashWithTokenCount(d, "doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toSet
    val plain = pairSet(Dedup.simhashPairs(
      h.select("sh_id", "simhash"), maxHamming = 3, bands = 16))
    val part = pairSet(Dedup.simhashPairsPartitioned(
      h, "n_tokens", bucketWidth = 5, maxHamming = 3, bands = 16))
    assert(plain.contains((0L, n.toLong, 0)), "planted exact dup must be found")
    assert(part == plain, "the partition must not change the pair set here " +
      "(every hamming<=3 pair sits within one bucketWidth of token count)")
    // the bound the partition buys: raw candidate volume (the actual cost
    // driver, pre-verify pre-distinct) drops by the populated-bucket factor
    val candPlain = Dedup.simhashBandJoin(
      h.select("sh_id", "simhash"), 16, None).count()
    val candPart = Dedup.simhashBandJoin(h, 16, Some(("n_tokens", 5L))).count()
    assert(candPart * 2 < candPlain,
      s"partitioned candidates ($candPart) must be well under plain ($candPlain)")
    intercept[IllegalArgumentException](Dedup.simhashPairsPartitioned(
      h, "n_tokens", bucketWidth = 0))
    // a null length would bucket to a null sub-key that joins nothing —
    // the row would silently vanish from every pair; fail loudly instead
    assert(msgChain(intercept[Exception](Dedup.simhashPairsPartitioned(
        Seq((1L, 5L, Option(10L)), (2L, 5L, Option.empty[Long]))
          .toDF("sh_id", "simhash", "n_tokens"),
        "n_tokens", bucketWidth = 8).collect()))
      .contains("null n_tokens"))
  }

  test("topTokensByGroup: skewed group — salted survivors bounded by k·salts, " +
    "result matches the naive single-window rank") {
    // skew fixture: one dominant group carries a vocabulary two orders
    // larger than the other (the one-language-is-90%-of-the-web shape)
    val big = (0 until 400).map(i => (i.toLong, "big", s"tok$i and tok$i again"))
    val small = Seq((9000L, "small", "x y"), (9001L, "small", "x"))
    val d = (big ++ small).toDF("doc_id", "lang", "text")
    val k = 5; val salts = 8
    val out = TextAnalysis.topTokensByGroup(d, "text", "lang", k, salts)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    // independent reference: the naive (skew-unsafe) single-window rank
    val counts = d.select($"lang", explode(TextAnalysis.tokens($"text")).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy($"n".desc, $"token")
    val ref = counts.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(out == ref, "two-stage top-k must be exact, not approximate")
    // the bound that makes it skew-safe: the per-group final sort sees at
    // most k·salts survivors, never the group's full histogram (big has
    // 402 distinct tokens; its survivor set must be ≤ 40)
    val surv = TextAnalysis.saltedTopKSurvivors(counts, "lang", k, salts)
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(surv("big") <= k.toLong * salts, s"survivors: $surv")
    assert(surv("small") <= k.toLong * salts)
    intercept[IllegalArgumentException](
      TextAnalysis.topTokensByGroup(d, "text", "lang", k, salts = 0))
  }

  test("topTokensByGroup: per-group ranks, group isolation, tie-break") {
    val d = Seq((1L, "en", "b a a"), (2L, "fr", "x x y"), (3L, "en", "c b"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.topTokensByGroup(d, "text", "lang", 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(out == Set(
      ("en", "a", 2L, 1), ("en", "b", 2L, 2), // a<b on the count tie
      ("fr", "x", 2L, 1), ("fr", "y", 1L, 2)))
    intercept[IllegalArgumentException](TextAnalysis.topTokensByGroup(d, "text", "lang", 0))
  }

  test("packBins: greedy spillover fill matches a driver-side reference packer") {
    val docs = (0L until 60L)
      .map(i => (i, Seq.fill(((i % 7) + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packBins(docs, "doc_id", "text", capacity = 10, shards = 4)
      .select("doc_id", "n_tokens", "bin").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // independent reference: same deal-order-fill rule, plain Scala
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ref = (0L until 60L).map { i =>
      val h = md5hex(i.toString)
      (i, ((i % 7) + 1).toInt, h, java.lang.Long.parseLong(h.take(8), 16) % 4)
    }.groupBy(_._4).flatMap { case (shard, ds) =>
      var cum = 0L
      ds.sortBy(d => (d._3, d._1)).map { d =>
        val bin = shard * (1L << 40) + cum / 10
        cum += d._2
        (d._1, d._2, bin)
      }
    }.toSet
    assert(out == ref)
    intercept[IllegalArgumentException](
      TextAnalysis.packBins(docs, "doc_id", "text", capacity = 0))
  }

  test("topTokens: frequency order, deterministic tie-break, blanks ignored") {
    val d = Seq((1L, "b a a"), (2L, "  "), (3L, "c b"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.topTokens(d, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 2L), ("b", 2L))) // c=1 cut; a before b on the tie
    intercept[IllegalArgumentException](TextAnalysis.topTokens(d, "text", 0))
  }

  test("blank documents: no tokens, no shingles, no phantom duplicates") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "real text here")).toDF("doc_id", "text")
    assert(TextAnalysis.withTokenCounts(d, "text").filter($"doc_id" < 3)
      .collect().forall(_.getAs[Int]("n_tokens") == 0))
    assert(Dedup.wordShingles(d, "doc_id", "text").filter($"sh_id" < 3).count() == 0)
    assert(Dedup.jaccardPairs(Dedup.wordShingles(d, "doc_id", "text"), 0.1).count() == 0)
  }

  test("short documents still dedup via whole-text char shingle") {
    val d = Seq((1L, "hi"), (2L, "hi"), (3L, "yo")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(Dedup.shingles(d, "doc_id", "text", 3), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("contamination counts shared n-grams; decontaminate removes exactly the hits") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the fence"), // shares "the quick brown"
      (2L, "entirely unrelated content goes here"),
      (3L, "benchmark question one verbatim copy")       // exact eval text
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "the quick brown dog"),
      (101L, "benchmark question one verbatim copy")
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, eval_, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(1L) == 1L) // only "the quick brown"
    assert(hits(3L) == 3L) // 5 tokens → 3 trigrams, all shared
    assert(!hits.contains(2L))
    val clean = Dedup.decontaminate(train, eval_, "doc_id", "text", 3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(clean == Set(2L))
    // shuffle-join fallback (eval too big to broadcast): same answer
    val hits2 = Dedup.contamination(train, eval_, "doc_id", "text", 3,
        broadcastEval = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits2 == hits)
  }

  test("spanStats: cross-document shared spans counted, within-doc repetition " +
    "ignored, short docs span whole-text, filter drops flagged docs") {
    val docs = Seq(
      (1L, "a b c d"),             // spans {a b c, b c d} — both also in doc 4
      (2L, "x y z a b c"),         // 4 spans, only "a b c" shared (docs 1/4)
      (3L, "p q r s"),             // unique vocabulary — nothing shared
      (4L, "a b c d"),             // exact copy of doc 1
      (5L, "m n o m n o m n o"),   // internal repetition only: distinct
                                   // spans {m n o, n o m, o m n} occur in
                                   // NO other doc — shared_frac must be 0
      (6L, "solo")                 // < n tokens → whole text is one span
    ).toDF("doc_id", "text")
    val got = Dedup.spanStats(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_shared_spans"),
          r.getAs[Double]("shared_frac")))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((4L, 1L, 0.25)))
    assert(got(3L) == ((2L, 0L, 0.0)))
    assert(got(4L) == ((2L, 2L, 1.0)))
    assert(got(5L) == ((3L, 0L, 0.0))) // the cross-document semantic
    assert(got(6L) == ((1L, 0L, 0.0)))
    val kept = Dedup.dropSpanDuplicatedDocs(docs, "doc_id", "text", n = 3,
        maxSharedFrac = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(2L, 3L, 5L, 6L))
    // duplicating the short doc makes its single whole-text span shared
    val withDup = docs.union(Seq((7L, "solo")).toDF("doc_id", "text"))
    val short = Dedup.spanStats(withDup, "doc_id", "text", n = 3)
      .filter($"doc_id".isin(6L, 7L)).collect()
      .map(_.getAs[Double]("shared_frac")).toSeq
    assert(short == Seq(1.0, 1.0))
  }

  test("Pipeline.curate maxSharedSpanFrac: the batch boilerplate stage drops " +
    "footer-dominated docs doc-level near-dup keeps; off by default") {
    val boiler = "all rights reserved contact the webmaster for takedown " +
      "requests and legal inquiries about this content"
    val docs = Seq(
      // two footer-dominated docs with DISTINCT bodies: not doc-level
      // near-dups of each other (jaccard well under 0.8), but >half of
      // each one's 8-gram spans are the shared footer
      (1L, s"short note on river heron sightings $boiler"),
      (2L, s"brief memo about orchard pruning dates $boiler"),
      (3L, "a completely free-standing report about the harvest with " +
        "plenty of the usual words in it for the quality gate to like")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "benchmark sentence unrelated to every corpus " +
      "document in all of its words")).toDF("doc_id", "text")
    def kept(maxFrac: Option[Double]) =
      Pipeline.curate(docs, eval_, maxSharedSpanFrac = maxFrac)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(None) == Set(1L, 2L, 3L),
      "default composition must stay the oracle-checked q_curate pipeline")
    assert(kept(Some(0.5)) == Set(3L),
      "the span stage must drop exactly the footer-dominated docs")
  }

  test("temperatureFractions: α-tempering, water-filling caps, edge cases") {
    import graft.operators.TextAnalysis._
    // no caps: closed-form single pass
    val f1 = temperatureFractions(Map("a" -> 1000L, "b" -> 1000L), 0.5, 1000L)
    assert(math.abs(f1("a") - 0.5) < 1e-12 && f1("a") == f1("b"))
    // α < 1 upweights the small stratum: equal α=0.5 weights at 9:1
    // sizes give the small stratum 3× the keep RATE of the large one
    val f2 = temperatureFractions(Map("big" -> 9000L, "small" -> 1000L), 0.5, 2000L)
    assert(f2("small") / f2("big") > 2.9 && f2("small") / f2("big") < 3.1)
    // capping: a stratum whose α-share exceeds its size keeps wholesale
    // and its surplus re-tempers over the rest
    val f3 = temperatureFractions(Map("tiny" -> 10L, "big" -> 10000L), 0.5, 5000L)
    assert(f3("tiny") == 1.0)
    assert(math.abs(f3("big") - 4990.0 / 10000) < 1e-12,
      s"surplus must refill the uncapped stratum: $f3")
    // degenerate strata and budgets
    assert(temperatureFractions(Map("a" -> 0L, "b" -> 5L), 0.5, 10L) ==
      Map("a" -> 0.0, "b" -> 1.0))
    // zero-size stratum on the NO-CAP (closed-form) exit: every input
    // stratum must still be covered — a caller indexing the map per
    // stratum would otherwise throw
    assert(temperatureFractions(Map("a" -> 0L, "b" -> 100L), 0.5, 10L) ==
      Map("a" -> 0.0, "b" -> 0.1))
    assert(temperatureFractions(Map("a" -> 5L), 0.5, 0L) == Map("a" -> 0.0))
    intercept[IllegalArgumentException](temperatureFractions(Map("a" -> 1L), 0.0, 1L))
    intercept[IllegalArgumentException](temperatureFractions(Map("a" -> 1L), 0.5, -1L))
    // the sampling form: kept counts land near the tempered targets and
    // membership is deterministic across runs
    val docs = (0L until 2000L).map(i =>
      (i, if (i < 1800) "big" else "small")).toDF("doc_id", "src")
    val kept = sampleByTemperature(docs, "doc_id", "src", 0.5, 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val kept2 = sampleByTemperature(docs, "doc_id", "src", 0.5, 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sorted.toSeq == kept2.sorted.toSeq)
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // targets: w = (1800^.5, 200^.5) -> shares ~ (0.75, 0.25); md5
    // cutoffs realize them within binomial noise
    assert(math.abs(bySrc("big") - 750) < 90 && math.abs(bySrc("small") - 250) < 60)
    // null strata: excluded from the weight computation instead of
    // NPE-ing as a null map key (they can never be sampled — the cutoff
    // filter's equality never matches null), and the non-null strata
    // sample exactly as if the null rows were absent
    val withNull = docs.withColumn("src",
      when(col("doc_id") % 10 === 0, lit(null: String)).otherwise(col("src")))
    val keptNull = sampleByTemperature(withNull, "doc_id", "src", 0.5, 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(keptNull.forall(_._2 != null), "null-stratum rows never sampled")
    val reference = sampleByTemperature(withNull.filter(col("src").isNotNull),
        "doc_id", "src", 0.5, 1000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(keptNull.sorted.toSeq == reference.sorted.toSeq,
      "null rows must not perturb the non-null strata's sample")
  }

  test("Pipeline.curate lmGate: the reference-LM stage drops improbable-bigram " +
    "docs the quality gate cannot see; off by default") {
    import graft.operators.LanguageModel
    val fluent = "the quick brown fox jumps over the lazy dog and the " +
      "quick brown fox jumps over the lazy dog again for the usual walk " +
      "in the morning with all of the other animals from the farm"
    // same token MULTISET scrambled: identical length/stopword/punct
    // ratios — the closed-form quality score cannot distinguish them,
    // only the LM can (its bigrams are improbable under the reference)
    val gibberish = fluent.split(" ").sorted.reverse.mkString(" ")
    val ref = Seq((50L, fluent), (51L, fluent)).toDF("doc_id", "text")
    val lm = LanguageModel.train(ref, "text")
    val xs = LanguageModel.crossEntropy(
        Seq((1L, fluent), (2L, gibberish)).toDF("doc_id", "text"),
        "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(xs(1L) < xs(2L), s"scrambling must raise xent: $xs")
    val tau = (xs(1L) + xs(2L)) / 2
    val docs = Seq((1L, fluent), (2L, gibberish)).toDF("doc_id", "text")
    val eval_ = Seq((100L, "benchmark sentence unrelated to every corpus " +
      "document in all of its words")).toDF("doc_id", "text")
    def kept(g: Option[(LanguageModel.BigramLm, Double)]) =
      Pipeline.curate(docs, eval_, lmGate = g)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(None) == Set(1L, 2L),
      "default composition must stay the oracle-checked q_curate pipeline")
    assert(kept(Some((lm, tau))) == Set(1L),
      "the LM stage must drop exactly the improbable-bigram doc")
    // schema unchanged by the gate (xent is internal to the stage)
    assert(Pipeline.curate(docs, eval_, lmGate = Some((lm, tau))).columns.toSeq ==
      Pipeline.curate(docs, eval_).columns.toSeq)
  }

  test("ShingleHashesAll: ordered positional hashes, same key space as the " +
    "distinct form, SQL-registered") {
    import graft.functions.{ShingleHashes, ShingleHashesAll}
    val text = "a b c a b c d"
    val row = Seq(text).toDF("t").select(
      ShingleHashesAll.shingleHashesAll($"t", 3).as("all"),
      ShingleHashes.shingleHashes($"t", 3).as("set"),
      // reference hash for the gram at position 2: "c a b" — Spark's
      // xxhash64 function shares the seed-42 contract
      xxhash64(lit("c a b")).as("ref")).head()
    val all = row.getSeq[Long](0)
    assert(all.length == 5, "7 tokens, k=3 -> 5 ordered grams")
    assert(all(0) == all(3), "repeated gram 'a b c' repeats its hash in order")
    assert(all(2) == row.getLong(2), "position i hashes the gram starting at i")
    assert(all.toSet == row.getSeq[Long](1).toSet,
      "ordered and distinct forms share one key space")
    // short doc: one whole-text gram at position 0
    val short = Seq("tiny pair").toDF("t")
      .select(ShingleHashesAll.shingleHashesAll($"t", 3)).head().getSeq[Long](0)
    assert(short.length == 1)
    // SQL surface ≡ Column API
    val viaSql = spark.sql(s"SELECT shingle_hashes_all('$text', 3)")
      .head().getSeq[Long](0)
    assert(viaSql == all)
  }

  test("removeDuplicatedSpans: cross-doc spans cut from every copy, " +
    "overlaps merge, within-doc repeats survive, short dups empty out") {
    val docs = Seq(
      (1L, "x y a b c z w"),       // shares "a b c" with doc 2
      (2L, "p q a b c r"),
      (3L, "standalone words entirely original here"),
      (4L, "tiny pair"),            // whole-text gram, duplicated in doc 5
      (5L, "tiny pair"),
      (6L, "m n o m n o m n o"),    // within-doc repeats only: kept whole
      (7L, "k l m2 n o2 p"),        // docs 7/8 share three OVERLAPPING
      (8L, "k l m2 n o2 q")         // grams covering tokens [0,5)
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_tokens_removed")))).toMap
    assert(got(1L) == (("x y z w", 7L, 3L)))
    assert(got(2L) == (("p q r", 6L, 3L)))
    assert(got(3L) == (("standalone words entirely original here", 5L, 0L)))
    assert(got(4L) == (("", 2L, 2L)), "duplicated short doc empties out")
    assert(got(5L) == (("", 2L, 2L)))
    assert(got(6L) == (("m n o m n o m n o", 9L, 0L)),
      "within-doc repetition alone must not trigger removal")
    assert(got(7L) == (("p", 6L, 5L)), "overlapping dup spans merge their cover")
    assert(got(8L) == (("q", 6L, 5L)))
  }

  test("span index: merge(build(A), build(B)) == build(A u B), serving scores " +
    "batch spans against the landed corpus, width rides with the index") {
    val a = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val b = Seq((3L, "a b c q"), (4L, "p q r s")).toDF("doc_id", "text")
    val full = Dedup.buildSpanIndex(a.union(b), "doc_id", "text", n = 3)
    val merged = Dedup.mergeSpanIndexes(
      Dedup.buildSpanIndex(a, "doc_id", "text", n = 3),
      Dedup.buildSpanIndex(b, "doc_id", "text", n = 3))
    // additive algebra: exact frame equality, both directions
    assert(full.exceptAll(merged).isEmpty && merged.exceptAll(full).isEmpty)
    // serving: "a b c" is indexed (docs 1 and 3); "m n o" is not; the
    // half-seen doc scores 0.5, the unseen doc 0, the all-seen doc 1.0
    val batch = Seq(
      (10L, "a b c d"),      // spans {a b c, b c d} — both indexed
      (11L, "a b c m n o"),  // 4 spans, only "a b c" indexed → 0.25
      (12L, "m n o m n o")   // 3 DISTINCT spans (trigram "m n o" repeats
                             // within-doc), nothing indexed → 0.0
    ).toDF("doc_id", "text")
    val got = Dedup.spanStatsAgainstIndex(batch, merged, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_indexed_spans"),
          r.getAs[Double]("indexed_frac")))).toMap
    assert(got(10L) == ((2L, 2L, 1.0)))
    assert(got(11L) == ((4L, 1L, 0.25)))
    assert(got(12L) == ((3L, 0L, 0.0)))
    val kept = Dedup.filterAgainstSpanIndex(batch, merged, "doc_id", "text",
        maxIndexedFrac = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(11L, 12L))
    // width mismatch is unconstructable through the API: a mixed-width
    // merge raises instead of summing counts that mean different things
    val other = Dedup.buildSpanIndex(a, "doc_id", "text", n = 2)
    val ex = intercept[IllegalArgumentException] {
      Dedup.mergeSpanIndexes(merged, other)
    }
    assert(ex.getMessage.contains("mixed span widths"))
    // ...and serving shingles the batch at the INDEX's width: a width-2
    // index scores width-2 batch spans (doc 10 has 3 bigram spans, all
    // of them present in corpus A's bigrams)
    val got2 = Dedup.spanStatsAgainstIndex(batch.filter($"doc_id" === 10L),
        other, "doc_id", "text")
      .head()
    assert(got2.getAs[Long]("n_spans") == 3L &&
      got2.getAs[Long]("n_indexed_spans") == 3L)
  }

  test("span sketch gate: ample width ≡ exact serving, tiny width never " +
    "under-gates, estimates bounded, geometry rides, plan stays narrow") {
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"), (3L, "p q r s t"),
      (4L, "u v w a b c")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d e"),       // all spans indexed
      (11L, "a b c m n o"),     // partially indexed
      (12L, "z1 z2 z3 z4 z5"),  // nothing indexed
      (13L, "")                 // zero spans: kept by every gate
    ).toDF("doc_id", "text")
    val n = 3
    val index = Dedup.buildSpanIndex(corpus, "doc_id", "text", n)
    val exact = Dedup.spanStatsAgainstIndex(batch, index, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_indexed_spans")))).toMap
    // ample width (collision-free at this scale): the sketch reproduces
    // the exact profile on every doc that HAS spans (the exploded exact
    // form omits zero-span docs; the narrow sketch form reports them
    // with n_spans 0), and the gates keep identical sets
    val ample = Dedup.spanSketchFromIndex(index, width = 1 << 16, depth = 4)
    assert(ample.n == n, "span width must ride with the sketch")
    val viaSketch = Dedup.spanStatsAgainstSketch(batch, ample, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_indexed_spans")))).toMap
    assert(exact.forall { case (id, v) => viaSketch(id) == v },
      s"ample-width sketch must match exact serving: $viaSketch vs $exact")
    assert(viaSketch(13L) == ((0L, 0L)), "zero-span doc reported, not dropped")
    def keptIds(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds(Dedup.filterAgainstSpanSketch(batch, ample,
        "doc_id", "text", maxIndexedFrac = 0.5)) ==
      keptIds(Dedup.filterAgainstSpanIndex(batch, index,
        "doc_id", "text", maxIndexedFrac = 0.5)))
    // adversarially tiny width (4 buckets for 10 distinct spans): the
    // no-false-negative direction must survive saturation — estimates
    // only overcount, so per doc the sketch's indexed count dominates
    // the exact one and the kept set shrinks (never grows)
    val tiny = Dedup.spanSketchFromIndex(index, width = 4, depth = 2)
    val viaTiny = Dedup.spanStatsAgainstSketch(batch, tiny, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_indexed_spans")).toMap
    assert(exact.forall { case (id, (_, ni)) => viaTiny(id) >= ni },
      s"a sketch must never under-gate: $viaTiny vs $exact")
    // (allowSaturated: 4 buckets over 10 spans IS the saturated state
    // the production guard refuses — this test measures its direction)
    assert(keptIds(Dedup.filterAgainstSpanSketch(batch, tiny,
        "doc_id", "text", maxIndexedFrac = 0.5, allowSaturated = true))
      .subsetOf(keptIds(Dedup.filterAgainstSpanIndex(batch, index,
        "doc_id", "text", maxIndexedFrac = 0.5))))
    // the CMS estimate bounds, deterministic for this fixture: for every
    // indexed span, true <= est <= true + 2*N1/width at width 8 (the
    // stated Cormode-Muthukrishnan bound; hashing is seed-fixed, so if
    // the bound holds here it holds forever)
    val w8 = Dedup.spanSketchFromIndex(index, width = 8, depth = 4)
    val n1 = index.agg(sum("span_docs")).head().getLong(0)
    val spans = Dedup.hashedWordShingles(corpus, "doc_id", "text", n)
      .groupBy("shingle").agg(count(lit(1)).as("true_cnt"))
      .withColumn("est", Dedup.spanSketchEstimate(w8, col("shingle")))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.forall { case (t, e) => e >= t },
      s"CMS must never undercount: ${spans.toSeq}")
    assert(spans.forall { case (t, e) => e <= t + 2.0 * n1 / 8 },
      s"fixture estimates must sit within the stated bound: ${spans.toSeq}")
    // determinism: a rebuilt sketch is bit-identical (no randomness, no
    // collect-order dependence) — the cross-JVM serving contract
    assert(Dedup.spanSketchFromIndex(index, width = 8, depth = 4)
      .counts.sameElements(w8.counts))
    // native probe ≡ the Column-form estimate it replaced, at a
    // collision-prone width: per doc, the broadcast-backed
    // SpanSketchProbe count equals size(filter(spans, est >= minDocs))
    // via spanSketchEstimate — the bit-equivalence contract the
    // q_dedup_spans_sketch fixture dump relies on
    val viaW8Native = Dedup.spanStatsAgainstSketch(batch, w8, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_indexed_spans")).toMap
    val viaW8Hof = batch.select($"doc_id",
        graft.functions.ShingleHashes.shingleHashes($"text", n).as("s"))
      .select($"doc_id", size(filter($"s",
        h => Dedup.spanSketchEstimate(w8, h) >= 1L)).cast("long").as("ni"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaW8Native == viaW8Hof,
      s"native probe diverged from the Column form: $viaW8Native vs $viaW8Hof")
    // the broadcast-backed SCALAR estimate (the fixture dump's
    // transport) is bit-equal to the literal form per hash, and a null
    // hash keeps a NULL estimate (the zero-span sentinel contract)
    val hashes = Dedup.hashedWordShingles(corpus, "doc_id", "text", n)
      .select($"shingle").distinct()
      .unionByName(Seq(Tuple1(Option.empty[Long])).toDF("shingle"))
    val both = Dedup.withSpanSketchEstimates(
        hashes.withColumn("lit", Dedup.spanSketchEstimate(w8, $"shingle")),
        w8, "shingle", "bcv")
      .collect()
    both.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(2), "null hash must keep NULL estimate")
      else assert(r.getLong(1) == r.getLong(2),
        s"broadcast estimate diverged at hash ${r.getLong(0)}")
    }
    // the gate's plan is NARROW: scanning the batch through the sketch
    // filter plans no exchange at all — the whole point at 100 TB
    val gated = Dedup.filterAgainstSpanSketch(batch, ample, "doc_id", "text")
    gated.count()
    val phys = gated.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"),
      s"the sketch gate must be a pure per-row filter:\n$phys")
  }

  test("sketch geometry is executable: sizing rule, saturation guard, " +
    "sized sketch passes where the fixed default is refused") {
    // corpus engineered so a small fixed width saturates: ~60 distinct
    // trigram spans into 16 counters → every counter hot
    val corpus = (1L to 20L)
      .map(i => (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "text")
    val index = Dedup.buildSpanIndex(corpus, "doc_id", "text", n = 3)
    val n1 = index.agg(sum("span_docs")).head().getLong(0)
    val fixed = Dedup.spanSketchFromIndex(index, width = 16, depth = 4)
    assert(fixed.n1 == n1, "every depth row must sum to N1")
    assert(fixed.saturatedFor(1L),
      f"16 counters over $n1 incidences must saturate " +
        f"(absentPassRate=${fixed.absentPassRate(1L)}%.3f)")
    val batch = Seq((100L, "q1 q2 q3 q4 q5")).toDF("doc_id", "text") // absent
    // the guard refuses the saturated gate by default, loudly...
    val ex = intercept[IllegalArgumentException] {
      Dedup.filterAgainstSpanSketch(batch, fixed, "doc_id", "text")
    }
    assert(ex.getMessage.contains("SATURATED") &&
      ex.getMessage.contains("sketchGeometryFor"))
    // ...and the measured override shows WHY: the absent doc is dropped
    assert(Dedup.filterAgainstSpanSketch(batch, fixed, "doc_id", "text",
      allowSaturated = true).count() == 0L,
      "the saturated gate drops a doc sharing nothing with the corpus")
    // the sizing rule: width = next pow2 >= 2*N1/target, depth from the
    // 2^-depth failure bound
    val (w, d) = Dedup.sketchGeometryFor(n1, targetOvercount = 1L)
    assert(w >= 2 * n1 && w == java.lang.Integer.highestOneBit(w),
      s"width $w must be a pow2 >= 2*N1=${2 * n1}")
    assert(d == 10, s"errorProb 1e-3 → depth ⌈log2(1000)⌉ = 10, got $d")
    assert(Dedup.sketchGeometryFor(1000000L, 10L, errorProb = 0.25)._2 == 2)
    // a sketch built AT the sized geometry is not saturated and serves
    // the absent doc through the gate
    val sized = Dedup.spanSketchFromIndex(index, width = w, depth = d)
    assert(!sized.saturatedFor(1L))
    assert(Dedup.filterAgainstSpanSketch(batch, sized, "doc_id", "text")
      .count() == 1L)
    intercept[IllegalArgumentException](Dedup.sketchGeometryFor(-1L, 1L))
    intercept[IllegalArgumentException](Dedup.sketchGeometryFor(10L, 0L))
    intercept[IllegalArgumentException](
      Dedup.sketchGeometryFor(10L, 1L, errorProb = 1.0))
  }

  test("bucketed span index serving: identical scores to flat serving, " +
    "index side joins without an exchange") {
    val a = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val b = Seq((3L, "a b c q"), (4L, "p q r s")).toDF("doc_id", "text")
    val flat = Dedup.buildSpanIndex(a.union(b), "doc_id", "text", n = 3)
    val batch = Seq(
      (10L, "a b c d"),      // both spans indexed → 1.0
      (11L, "a b c m n o"),  // 4 spans, one indexed → 0.25
      (12L, "m n o m n o")   // nothing indexed → 0.0
    ).toDF("doc_id", "text")
    def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_indexed_spans"), r.getAs[Double]("indexed_frac"))).toSet
    try {
      Dedup.writeSpanIndex(flat, "span_ix_spec", buckets = 4)
      val served = Dedup.spanStatsAgainstBucketedIndex(batch, "span_ix_spec",
        "doc_id", "text")
      // the layout changes the plan, never the answer
      assert(scores(served) ==
        scores(Dedup.spanStatsAgainstIndex(batch, flat, "doc_id", "text")))
      // the gate composes the same way
      assert(Dedup.filterAgainstBucketedSpanIndex(batch, "span_ix_spec",
          "doc_id", "text", maxIndexedFrac = 0.5)
        .collect().map(_.getAs[Long]("doc_id")).toSet == Set(11L, 12L))
      // the layout's point: the index is read bucket-aligned and never
      // exchanges; ONLY the batch's spans shuffle to meet it. AQE
      // broadcasts the tiny sides at spec scale (hiding all exchanges),
      // so force shuffle joins — at corpus scale nothing is
      // broadcastable and this IS the plan.
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqeThr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val shuffled = Dedup.spanStatsAgainstBucketedIndex(batch,
          "span_ix_spec", "doc_id", "text")
        shuffled.count()
        val phys = shuffled.queryExecution.executedPlan.toString
        assert(phys.contains("Bucketed: true"), s"bucketed scan not used:\n$phys")
        val shExchanges = "Exchange hashpartitioning\\(shingle".r
          .findAllIn(phys).size
        assert(shExchanges == 1,
          s"expected ONE shingle exchange (batch side only), got $shExchanges:\n$phys")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeThr)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS span_ix_spec_spans")
      spark.sql("DROP TABLE IF EXISTS span_ix_spec_meta")
    }
  }

  test("bucketed span index lifecycle: append ≡ rebuild with multi-epoch " +
    "spans counted once, compaction folds epochs to one row per span, " +
    "idempotent keys survive, crash states fail loudly") {
    val a = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val b = Seq((3L, "a b c q"), (4L, "p q r s")).toDF("doc_id", "text")
    val c = Seq((5L, "fresh appended words arrive here")).toDF("doc_id", "text")
    // "a b c" is in BOTH the base build (doc 1) and the append (doc 3):
    // two committed rows for one span — serving must count it ONCE
    val batch = Seq(
      (10L, "a b c d"),                      // 2 spans, both indexed → 1.0
      (11L, "fresh appended words arrive here"), // all from the 2nd append
      (12L, "m n o m n o")                   // unseen → 0.0
    ).toDF("doc_id", "text")
    def scores(name: String) =
      Dedup.spanStatsAgainstBucketedIndex(batch, name, "doc_id", "text")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("n_indexed_spans"))).toSet
    def dataFiles(table: String): Seq[java.io.File] = {
      val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
        .getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        .location.toString))
      Option(loc.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    }
    val buckets = 4
    try {
      Dedup.writeSpanIndex(Dedup.buildSpanIndex(a, "doc_id", "text", n = 3),
        "span_ix_lc", buckets = buckets)
      Dedup.appendToSpanIndex(b, "span_ix_lc", "doc_id", "text")
      assert(Dedup.appendToSpanIndexIdempotent(c, "span_ix_lc",
        "doc_id", "text", "cycle-1"), "first delivery must append")
      val grown = scores("span_ix_lc")
      assert(grown == Set((10L, 2L, 2L), (11L, 3L, 3L), (12L, 3L, 0L)),
        s"multi-epoch span must count once per batch span: $grown")
      // ≡ a one-shot rebuild over the union (the banded family's pin)
      Dedup.writeSpanIndex(
        Dedup.buildSpanIndex(a.union(b).union(c), "doc_id", "text", n = 3),
        "span_ix_re", buckets = buckets)
      assert(grown == scores("span_ix_re"))
      // replayed key no-ops: no new rows, serving unchanged
      val rowsBefore = spark.table("span_ix_lc_spans").count()
      assert(!Dedup.appendToSpanIndexIdempotent(c, "span_ix_lc",
        "doc_id", "text", "cycle-1"), "a committed key must no-op")
      assert(spark.table("span_ix_lc_spans").count() == rowsBefore)
      // a crashed append's orphan rows (epoch never committed) are
      // invisible to serving and garbage-collected by compaction
      Seq((123456789L, 1L, 3, 999L))
        .toDF("shingle", "span_docs", "span_n", "build_id")
        .write.mode("append").bucketBy(buckets, "shingle").sortBy("shingle")
        .saveAsTable("span_ix_lc_spans")
      assert(scores("span_ix_lc") == grown,
        "uncommitted orphan rows must be invisible to serving")
      val filesBefore = dataFiles("span_ix_lc_spans").size
      assert(filesBefore > buckets,
        s"3 epochs + orphans should exceed $buckets files, got $filesBefore")

      Dedup.compactSpanIndex(spark, "span_ix_lc")

      // identical scores; ONE committed epoch; one row per distinct span
      // (the deferred merge algebra became physical); files back to ~1
      // per bucket; the orphan epoch's rows gone
      assert(scores("span_ix_lc") == grown)
      assert(spark.table("span_ix_lc_meta").select("build_id").distinct()
        .count() == 1, "compaction must leave exactly one committed epoch")
      val spansTbl = spark.table("span_ix_lc_spans")
      assert(spansTbl.count() ==
        spansTbl.select("shingle").distinct().count(),
        "compaction must fold multi-epoch spans to one row per span")
      assert(spansTbl.filter(col("build_id") === 999L).count() == 0,
        "compaction must garbage-collect uncommitted orphan rows")
      val filesAfter = dataFiles("span_ix_lc_spans").size
      assert(filesAfter <= buckets && filesAfter >= 1,
        s"expected <= $buckets files after compaction, got $filesAfter")
      // counts MERGED, not just deduped: "a b c" sits in docs 1 (base
      // epoch) and 3 (append epoch) — its single post-compaction row must
      // sum to span_docs = 2, and it is the only cross-doc span here
      assert(spansTbl.filter(col("span_docs") === 2L).count() == 1 &&
        spansTbl.agg(max("span_docs")).head().getLong(0) == 2L,
        "compaction must sum span_docs across epochs")
      // keys survive compaction, re-pointed at the merged epoch
      assert(!Dedup.appendToSpanIndexIdempotent(c, "span_ix_lc",
        "doc_id", "text", "cycle-1"), "keys must survive compaction")
      // the lifecycle continues: append after compaction serves
      Dedup.appendToSpanIndex(
        Seq((6L, "post compaction content keeps arriving")).toDF("doc_id", "text"),
        "span_ix_lc", "doc_id", "text")
      val probe = Seq((13L, "post compaction content keeps arriving"))
        .toDF("doc_id", "text")
      val p = Dedup.spanStatsAgainstBucketedIndex(probe, "span_ix_lc",
        "doc_id", "text").head()
      assert(p.getAs[Long]("n_indexed_spans") == p.getAs[Long]("n_spans"),
        "an append after compaction must serve")
      // crash semantics: a stale _meta over a rebuilt table (rebuild
      // crashed between the table overwrite and the meta write) fails
      // loudly for serve, append and compact alike
      spark.createDataFrame(Seq(Tuple1(12345L))).toDF("build_id")
        .write.mode("overwrite").saveAsTable("span_ix_lc_meta")
      assert(msgChain(intercept[Exception](
          Dedup.spanStatsAgainstBucketedIndex(batch, "span_ix_lc",
            "doc_id", "text").collect()))
        .contains("no committed rows"))
      assert(msgChain(intercept[Exception](
          Dedup.appendToSpanIndex(c, "span_ix_lc", "doc_id", "text")))
        .contains("no committed rows"))
      assert(msgChain(intercept[Exception](
          Dedup.compactSpanIndex(spark, "span_ix_lc")))
        .contains("no committed rows"))
    } finally {
      Seq("span_ix_lc", "span_ix_re").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_spans")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      }
    }
  }

  test("hashSplit: deterministic partition into named splits, fractions honored") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.hashSplit(docs, "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = out.values.sum
    assert(out.keySet == Set("train", "val", "test")) // every row in exactly one
    assert(out("train").toDouble / n > 0.7 && out("train").toDouble / n < 0.9)
    // stable across recomputation AND partitioning (no rand() anywhere)
    val a = TextAnalysis.hashSplit(docs, "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = TextAnalysis.hashSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // a salt re-deals the assignment; bad fractions fail fast
    val salted = TextAnalysis.hashSplit(docs, "doc_id", salt = "v2")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(salted != a)
    intercept[IllegalArgumentException](
      TextAnalysis.hashSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException]( // below cutoff granularity
      TextAnalysis.hashSplit(docs, "doc_id",
        Seq("a" -> (1.0 - 1e-6), "b" -> 1e-6)))
    // a NULL id must fail fast, not silently land in the last split —
    // including the single-split config, where no cutoff comparison exists
    val withNull = spark.sql("SELECT CAST(NULL AS BIGINT) AS doc_id")
    val eNull = intercept[Exception](
      TextAnalysis.hashSplit(withNull, "doc_id").select("split").collect())
    assert(messages(eNull).contains("hash_split"), messages(eNull))
    val eNull1 = intercept[Exception](
      TextAnalysis.hashSplit(withNull, "doc_id", Seq("all" -> 1.0))
        .select("split").collect())
    assert(messages(eNull1).contains("hash_split"), messages(eNull1))
  }

  // repeated rows used to count once per repetition: the shingle join
  // multiplied |A∩B| and the row count inflated |A|, so Jaccard exceeded 1
  // or its denominator reached 0 (DIVIDE_BY_ZERO under ANSI)
  private val repText = "the quick brown fox jumps over the lazy dog near the river"
  private val nearText = "the quick brown fox jumps over the lazy cat near the river"

  private def jaccards(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("minhashDuplicates: two ids, each repeated with the same text, give one pair at 1.0") {
    val docs = Seq((1L, repText), (1L, repText), (2L, repText), (2L, repText))
      .toDF("doc_id", "text")
    assert(jaccards(Dedup.minhashDuplicates(
      Dedup.hashedWordShingles(docs, "doc_id", "text"), 0.8)) == Seq((1L, 2L, 1.0)))
  }

  test("minhashDuplicates: one repeated id scores its duplicate at 1.0, not 2.0") {
    val docs = Seq((1L, repText), (1L, repText), (2L, repText)).toDF("doc_id", "text")
    assert(jaccards(Dedup.minhashDuplicates(
      Dedup.hashedWordShingles(docs, "doc_id", "text"), 0.8)) == Seq((1L, 2L, 1.0)))
  }

  test("minhashDuplicates over per-document shingle arrays: a repeated id's " +
    "rows union; null, blank and empty documents never band") {
    val docs = Seq((1L, repText), (2L, repText.take(30)), (2L, repText.drop(20)),
      (3L, null), (4L, ""), (5L, "   "), (6L, null)).toDF("doc_id", "text")
    val arrays = Dedup.shingleHashArrays(docs, "doc_id", "text")
    assert(jaccards(Dedup.minhashDuplicates(arrays, 0.5)) ==
      jaccards(Dedup.minhashDuplicates(Dedup.hashedWordShingles(docs, "doc_id", "text"), 0.5)))
    assert(jaccards(Dedup.minhashDuplicates(arrays, 0.5)).map(p => (p._1, p._2)) == Seq((1L, 2L)))
    // without the empty-array filter, 4 and 5 would sign as all Long.MaxValue and pair
    assert(Dedup.lshCandidatePairs(Dedup.minhashSignatures(arrays), 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("buildDedupIndex signs the shingle arrays as minhashSignatures signs " +
    "the exploded rows, and drops null and blank documents") {
    val docs = Seq((1L, repText), (2L, nearText), (3L, null), (4L, ""), (5L, " \t "))
      .toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(docs, "doc_id", "text")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.select("sh_id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(index) ==
      sigs(Dedup.minhashSignatures(Dedup.hashedWordShingles(docs, "doc_id", "text"))))
    assert(sigs(index).keySet == Set(1L, 2L))
    // a blank batch document finds no blank index document to match
    val batch = Seq((10L, "  "), (11L, repText)).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(batch, index, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((11L, 1L)))
  }

  test("jaccardFor: pairs listed twice give one row per pair, scored over distinct shingles") {
    val sh = Dedup.hashedWordShingles(
      Seq((1L, repText), (2L, repText), (3L, nearText)).toDF("doc_id", "text"),
      "doc_id", "text")
    val once = jaccards(Dedup.jaccardFor(Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b"), sh))
    // 10 word 3-grams each; "cat" replaces "dog" in 3 of them: 7 / 13
    assert(once == Seq((1L, 2L, 1.0), (1L, 3L, 7.0 / 13)))
    assert(jaccards(Dedup.jaccardFor(
      Seq((1L, 2L), (1L, 3L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b"), sh)) == once)
  }

  test("jaccardPairs: one repeated id scores its duplicate at 1.0, not 2.0") {
    val docs = Seq((1L, repText), (1L, repText), (2L, repText)).toDF("doc_id", "text")
    assert(jaccards(Dedup.jaccardPairs(
      Dedup.hashedWordShingles(docs, "doc_id", "text"), 0.8)) == Seq((1L, 2L, 1.0)))
  }

  test("jaccardPairs: two ids, each repeated with the same text, give one pair at 1.0") {
    val docs = Seq((1L, repText), (1L, repText), (2L, repText), (2L, repText))
      .toDF("doc_id", "text")
    assert(jaccards(Dedup.jaccardPairs(
      Dedup.hashedWordShingles(docs, "doc_id", "text"), 0.8)) == Seq((1L, 2L, 1.0)))
  }

  test("redactPii: emails, IPv4s, phones replaced; counts audit the scrub") {
    val d = Seq(
      (1L, "mail a.user+tag@sub.example.co.uk or call 555-123-4567 from 10.0.0.1"),
      (2L, "no pii at all, just 12-34 and 1.5 numbers"),
      (3L, "two mails: x@y.io and z@w.dev")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withPiiRedaction(d, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_ips"),
          r.getAs[Int]("n_phones"), r.getAs[String]("redacted")))).toMap
    assert(out(1L) == ((1, 1, 1,
      "mail <EMAIL> or call <PHONE> from <IP>")))
    assert(out(2L) == ((0, 0, 0, "no pii at all, just 12-34 and 1.5 numbers")))
    assert(out(3L)._1 == 2)
    assert(out(3L)._4 == "two mails: <EMAIL> and <EMAIL>")
  }

  test("SQL registration: redact_pii matches the Column API chain") {
    val d = Seq((1L, "mail x@y.io, call 555-123-4567, host 10.0.0.1"))
      .toDF("id", "text")
    d.createOrReplaceTempView("piidocs")
    val viaSql = spark.sql("SELECT redact_pii(text) AS r FROM piidocs")
      .collect()(0).getString(0)
    val viaCol = d.select(TextAnalysis.redactPii($"text").as("r"))
      .collect()(0).getString(0)
    assert(viaSql == viaCol)
    assert(viaSql == "mail <EMAIL>, call <PHONE>, host <IP>")
    val badArity = intercept[Exception](spark.sql("SELECT redact_pii('a', 'b')").collect())
    assert(badArity.getMessage.contains("expects 1 arguments"))
  }

  test("text quality features on a known sentence") {
    val r = TextAnalysis.withQuality(Seq((1L, "the cat sat, on the mat!")).toDF("id", "text"), "text")
      .collect()(0)
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 24.0) < 1e-9)
    // tokens: the, cat, "sat,", on, the, "mat!" → stopwords the/on/the
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 3.0 / 6.0) < 1e-9)
    val q = r.getAs[Double]("quality_score")
    assert(q > 0.0 && q <= 1.0)
    // exact mean word length: "the cat sat, on the mat!" = 3+3+4+2+3+4 = 19
    assert(math.abs(r.getAs[Double]("mean_word_len") - 19.0 / 6.0) < 1e-9)
  }

  test("mean_word_len is exact under whitespace runs and newlines") {
    // separator runs used to be attributed to word length by the
    // (len − (nTok−1))/nTok shortcut; the token-array sum is exact
    val d = Seq(
      (1L, "ab   cd"),        // run of 3 spaces: words 2+2, mean 2.0
      (2L, "a\n\n\nbb\t\tc"), // newline/tab runs: 1+2+1, mean 4/3
      (3L, "  padded  "),     // leading/trailing runs: one 6-char word
      (4L, "")                // no tokens: 0, not NaN
    ).toDF("id", "text")
    val m = TextAnalysis.withQuality(d, "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("mean_word_len")).toMap
    assert(math.abs(m(1L) - 2.0) < 1e-9, s"got ${m(1L)}")
    assert(math.abs(m(2L) - 4.0 / 3.0) < 1e-9, s"got ${m(2L)}")
    assert(math.abs(m(3L) - 6.0) < 1e-9, s"got ${m(3L)}")
    assert(m(4L) == 0.0)
  }

  test("langid picks the language with most marker hits") {
    val d = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "el gato que vive en la casa y un perro"),
      (3L, "xyzzy plugh qwerty")).toDF("id", "text")
    val out = TextAnalysis.withLangId(d, "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("repetition stats: duplicate lines and bigrams, empty docs are 0") {
    val d = Seq(
      (1L, "spam line\nspam line\nspam line\nreal line"), // 3 of 4 lines dup
      (2L, "buy now buy now buy now"),                    // bigrams: 5, distinct 2
      (3L, "all lines distinct\nno repetition here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withRepetition(d, "text")
      .select($"doc_id", $"n_lines", $"dup_line_frac", $"dup_bigram_frac")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 == 4)
    assert(math.abs(out(1L)._2 - 0.5) < 1e-9) // 2 distinct / 4 lines
    assert(out(2L)._2 == 0.0)
    assert(math.abs(out(2L)._3 - 0.6) < 1e-9) // 2 distinct / 5 bigrams
    assert(out(3L)._2 == 0.0 && out(3L)._3 == 0.0)
    assert(out(4L) == ((0, 0.0, 0.0))) // empty: no phantom duplication
  }

  test("token chunking: stride windows, short tail kept, blank docs vanish") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, text10), (2L, "one two three"), (3L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(d, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getInt(3)))).toMap
    // doc 1: n=10, starts 0,3,6 → ceil((10-4)/3)+1 = 3 chunks
    assert(out((1L, 0)) == (("w1 w2 w3 w4", 4)))
    assert(out((1L, 1)) == (("w4 w5 w6 w7", 4)))
    assert(out((1L, 2)) == (("w7 w8 w9 w10", 4)))
    // doc 2: n=3 < chunkSize → exactly one (short) chunk
    assert(out((2L, 0)) == (("one two three", 3)))
    // blank doc contributes nothing
    assert(!out.keySet.exists(_._1 == 3L))
    assert(out.size == 4)
    intercept[IllegalArgumentException](
      TextAnalysis.chunkTokens(d, "doc_id", "text", 4, 5)) // stride > chunk
  }

  test("fingerprints: whitespace/case-insensitive md5, stable min-shingle") {
    val d = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other text"))
      .toDF("id", "text")
    val out = TextAnalysis.withFingerprints(d, "text", 4)
      .collect().map(r => r.getAs[Long]("id") -> (r.getString(2), r.getString(3))).toMap
    assert(out(1L) == out(2L)) // normalization collapses case+whitespace
    assert(out(1L) != out(3L))
  }

  test("min_shingle_md5 (r20 native kernel) ≡ the HOF " +
    "array_min(transform(..., md5(substr)))) form, edge cases included") {
    import graft.functions.MinShingleMd5.minShingleMd5
    val k = 8
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""),                       // empty: one empty shingle
      (3L, "short"),                  // shorter than k: one whole-self shingle
      (4L, "exactly8"),               // length == k: exactly one position
      (5L, "café résumé élève x"), // multi-byte chars: substr is CHARACTER-based
      (6L, "😀😁 emoji text here"), // surrogate pairs
      (7L, null.asInstanceOf[String]) // null in -> null out
    ).toDF("id", "text")
    // the r19 HOF reference, verbatim (let-bound norm, 1-indexed substr)
    val s = col("text")
    val hof = element_at(transform(array(s), t =>
      array_min(transform(
        sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
        i => md5(t.substr(i, lit(k)).cast("binary"))))), 1)
    val rows = d.select(col("id"), minShingleMd5(s, k).as("native"),
      hof.as("ref")).collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"id=${r.get(0)}: native=${r.get(1)} ref=${r.get(2)}")
    }
    assert(rows.find(_.getLong(0) == 7L).get.isNullAt(1))
  }

  test("multimodal: asset schema, deterministic features, frame sampling") {
    val assets = Multimodal.toAssets(docs, "doc_id", "text", "text/plain")
    // compare field names (nullability differs: lit() columns are non-null)
    assert(assets.schema.fieldNames.toSeq == Multimodal.assetSchema.fieldNames.toSeq)
    assert(assets.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Multimodal.metadataType.fieldNames.toSeq)
    val m = assets.filter($"asset_id" === 1).select("meta.n_bytes").collect()(0).getLong(0)
    assert(m == "the quick brown fox jumps over the lazy dog".getBytes.length)
    val f1 = Multimodal.extractFeatures(assets, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1.values.forall(_.length == 8))
    assert(f1(1L) == f1(4L)) // same bytes → same features
    assert(f1(1L) != f1(3L))
    val frames = Multimodal.sampleFrames(assets.filter($"asset_id" === 1), 8, 2)
    assert(frames.columns.toSeq == Seq("asset_id", "meta", "frame_idx", "frame"))
    assert(frames.count() >= 2)
  }

  /** A real uncompressed 24-bit bottom-up BMP with planted per-pixel
    * channel values — built with ByteBuffer, independent of both the
    * engine's column-expression builder and ImageIO's own writer, so
    * decode tests check the codec against first principles. */
  private def realBmp(w: Int, h: Int)(rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val stride = ((3 * w + 3) / 4) * 4
    val b = ByteBuffer.allocate(54 + stride * h).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (fileRow <- 0 until h; x <- 0 until w) {
      val y = h - 1 - fileRow // bottom-up row order
      val (r, g, bl) = rgb(x, y)
      b.position(54 + fileRow * stride + 3 * x)
      b.put(bl.toByte).put(g.toByte).put(r.toByte)
    }
    b.array()
  }

  test("decodePixels: real javax.imageio decode returns planted BMP values exactly") {
    val bmp = realBmp(5, 3) { (x, y) => (10 * x + y, 100 + x, 200 + y) }
    val assets = Multimodal.toAssets(
      Seq((1L, bmp), (2L, "not an image".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "p"),
      "id", "p", "image/bmp")
    val out = Multimodal.decodePixels(assets).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getInt(1) == 5 && r1.getInt(2) == 3)
    val px = r1.getSeq[Int](3)
    assert(px.length == 15)
    for (y <- 0 until 3; x <- 0 until 5) {
      val p = px(y * 5 + x) // row-major TOP-DOWN despite bottom-up storage
      assert(((p >> 16) & 0xFF) == 10 * x + y, s"r at ($x,$y)")
      assert(((p >> 8) & 0xFF) == 100 + x, s"g at ($x,$y)")
      assert((p & 0xFF) == 200 + y, s"b at ($x,$y)")
    }
    // non-decodable and null payloads keep their row, null fields
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(3))
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(3))
    // and a JDK-encoded PNG round-trips through the same decode path
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    img.setRGB(0, 0, 0xFF112233); img.setRGB(1, 1, 0xFFAABBCC)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = Multimodal.decodePixels(Multimodal.toAssets(
        Seq((7L, bos.toByteArray)).toDF("id", "p"), "id", "p", "image/png"))
      .collect()(0)
    assert(png.getInt(1) == 2 && (png.getSeq[Int](3)(0) & 0xFFFFFF) == 0x112233)
  }

  test("resizeImages: real decode+resample+re-encode; non-decodable -> null payload") {
    // 4x2 source: left half red-ish, right half blue-ish — nearest-neighbor
    // to 2x1 must pick src (0,0) and (2,0) exactly
    val bmp = realBmp(4, 2) { (x, _) => if (x < 2) (200, 10, 20) else (30, 40, 250) }
    val assets = Multimodal.toAssets(Seq(
      (1L, bmp),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "payload"), "id", "payload", "image/bmp")
    def run() = Multimodal.resizeImages(assets, 2, 1).collect()
      .map(r => r.getLong(0) -> r).toMap
    val out = run()
    assert(out.keySet == Set(1L, 2L, 3L))
    val m1 = out(1L).getStruct(2)
    assert(m1.getString(0) == "image/bmp") // re-encoded payload mime
    assert(m1.getInt(2) == 2 && m1.getInt(3) == 1) // meta reflects target dims
    assert(m1.getLong(1) == out(1L).getAs[Array[Byte]](1).length.toLong)
    // the re-encoded payload decodes back to the nearest-neighbor picks
    val round = Multimodal.decodeImage(out(1L).getAs[Array[Byte]](1)).get
    assert(round._1 == 2 && round._2 == 1)
    assert((round._3(0) & 0xFFFFFF) == (200 << 16 | 10 << 8 | 20))
    assert((round._3(1) & 0xFFFFFF) == (30 << 16 | 40 << 8 | 250))
    // deterministic re-encode: same input, same payload bytes
    assert(out(1L).getAs[Array[Byte]](1).sameElements(run()(1L).getAs[Array[Byte]](1)))
    // non-decodable payload -> null payload, original mime kept, meta updated
    assert(out(2L).isNullAt(1))
    assert(out(2L).getStruct(2).getString(0) == "image/bmp")
    assert(out(2L).getStruct(2).getInt(2) == 2 && out(2L).getStruct(2).isNullAt(1))
    // null payload stays null, metadata still updated
    assert(out(3L).isNullAt(1))
    assert(out(3L).getStruct(2).getInt(2) == 2 && out(3L).getStruct(2).isNullAt(1))
    intercept[IllegalArgumentException](Multimodal.resizeImages(assets, 0, 16))
    // Int raster overflow (65536*65536 wraps to 0) must be rejected, not
    // silently produce empty payloads
    intercept[IllegalArgumentException](Multimodal.resizeImages(assets, 65536, 65536))
  }

  test("extractFeatures: image path pools real luminance; byte path is the histogram") {
    // uniform gray 4x4 at (r,g,b)=(100,100,100): every pooled chunk's mean
    // luminance is exactly 100/255 under the BT.601 weights
    val gray = realBmp(4, 4)((_, _) => (100, 100, 100))
    val f = Multimodal.extractFeatures(Multimodal.toAssets(
        Seq((1L, gray)).toDF("id", "p"), "id", "p", "image/bmp"), 4)
      .collect()(0).getSeq[Float](1)
    assert(f.length == 4)
    f.foreach(v => assert(math.abs(v - 100.0 / 255.0) < 1e-6))
    // byte path: histogram of "aaab" mod 4 — 'a'=97 (bucket 1) x3, 'b'=98
    // (bucket 2) x1
    val g = Multimodal.extractFeatures(Multimodal.toAssets(
        Seq((2L, "aaab".getBytes("UTF-8"))).toDF("id", "p"), "id", "p",
        "text/plain"), 4)
      .collect()(0).getSeq[Float](1)
    assert(g.toSeq == Seq(0.0f, 0.75f, 0.25f, 0.0f))
  }

  test("image header parsing: PNG/GIF/BMP/JPEG dims from real byte fixtures; mime-gated") {
    import java.nio.{ByteBuffer, ByteOrder}
    // fixtures built with ByteBuffer, independent of the engine's
    // column-expression construction path
    def png(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(33).order(ByteOrder.BIG_ENDIAN)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.put(Array[Byte](8, 6, 0, 0, 0, 0, 0, 0, 0)).array()
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(13).order(ByteOrder.LITTLE_ENDIAN)
      b.put("GIF89a".getBytes).putShort(w.toShort).putShort(h.toShort)
      b.put(Array[Byte](0, 0, 0)).array()
    }
    def bmp(w: Int, hRaw: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(26).order(ByteOrder.LITTLE_ENDIAN)
      b.put("BM".getBytes).put(new Array[Byte](12))
      b.putInt(40).putInt(w).putInt(hRaw).array()
    }
    def jpeg(w: Int, h: Int, sof: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(41).order(ByteOrder.BIG_ENDIAN)
      b.put(Array(0xFF, 0xD8).map(_.toByte))                        // SOI
      b.put(Array(0xFF, 0xE0, 0x00, 0x10).map(_.toByte))            // APP0 len 16
      b.put("JFIF".getBytes).put(0.toByte).put(new Array[Byte](9))
      b.put(Array(0xFF, sof).map(_.toByte)).putShort(17)            // SOF, len 17
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      b.put(Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)).array()
    }
    val assets = Multimodal.toAssets(Seq(
      (1L, png(640, 480)),
      (2L, gif(320, 200)),
      (3L, bmp(1024, 768)),
      (4L, bmp(800, -600)), // top-down BMP: dims are |h|
      // malformed JPEG (APP0 claims length 0) → null, never a guess
      (5L, Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte) ++ new Array[Byte](30)),
      (6L, jpeg(1280, 720, 0xC0)), // baseline
      (7L, jpeg(4032, 3024, 0xC2)) // progressive
    ).toDF("id", "payload"), "id", "payload", "image/sniffed")
    val dims = assets.select($"asset_id", $"meta.width", $"meta.height")
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(dims(1L) == ((640, 480)))
    assert(dims(2L) == ((320, 200)))
    assert(dims(3L) == ((1024, 768)))
    assert(dims(4L) == ((800, 600)))
    assert(dims(5L) == ((null, null)))
    assert(dims(6L) == ((1280, 720)))
    assert(dims(7L) == ((4032, 3024)))
    // non-image mime: sniffing disabled even for REAL image bytes
    val textMime = Multimodal.toAssets(Seq((9L, png(10, 20))).toDF("id", "p"),
      "id", "p", "text/plain")
      .select($"meta.width", $"meta.height").collect()(0)
    assert(textMime.isNullAt(0) && textMime.isNullAt(1))
  }

  test("jpeg_dims segment walk: fill bytes, standalone markers, SOS/EOI cutoff, truncation") {
    import graft.functions.JpegDims.jpegDims
    def soi = Array(0xFF, 0xD8)
    def sof0(w: Int, h: Int) =
      Array(0xFF, 0xC0, 0x00, 0x0B, 8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, 1, 0x11) // 1 component, len 11
    def bytes(xs: Array[Int]*): Array[Byte] = xs.flatten.map(_.toByte).toArray
    def dimsOf(payload: Array[Byte]): Option[(Int, Int)] = {
      val r = Seq(Tuple1(payload)).toDF("p")
        .select(jpegDims($"p").as("d")).select("d.width", "d.height").collect()(0)
      if (r.isNullAt(0)) None else Some((r.getInt(0), r.getInt(1)))
    }
    // fill bytes before the marker code are legal padding
    assert(dimsOf(bytes(soi, Array(0xFF, 0xFF, 0xFF), sof0(640, 480).drop(1)))
      == Some((640, 480)))
    // standalone markers (TEM, RSTn) carry no length and must be hopped
    assert(dimsOf(bytes(soi, Array(0xFF, 0x01), Array(0xFF, 0xD5), sof0(33, 44)))
      == Some((33, 44)))
    // SOS before any SOF: dims unknowable from the header → null
    assert(dimsOf(bytes(soi, Array(0xFF, 0xDA, 0x00, 0x02), sof0(1, 1))).isEmpty)
    // EOI before any SOF → null
    assert(dimsOf(bytes(soi, Array(0xFF, 0xD9))).isEmpty)
    // SOF truncated mid-dimensions → null, not a garbage read
    assert(dimsOf(bytes(soi, Array(0xFF, 0xC0, 0x00, 0x0B, 8, 0))).isEmpty)
    // skip-segment length running past the buffer → null
    assert(dimsOf(bytes(soi, Array(0xFF, 0xFE, 0x7F, 0xFF, 1, 2))).isEmpty)
    // DHT (C4) is NOT a SOF even though it's in C0-CF; walk continues past it
    assert(dimsOf(bytes(soi, Array(0xFF, 0xC4, 0x00, 0x03, 0), sof0(12, 34)))
      == Some((12, 34)))
    // DNL-deferred height comes back as the honest 0
    assert(dimsOf(bytes(soi, sof0(100, 0))) == Some((100, 0)))
    // not a JPEG at all
    assert(dimsOf("plain text".getBytes("UTF-8")).isEmpty)
    // SQL registration ≡ Column API
    Seq((1L, bytes(soi, sof0(640, 480)))).toDF("id", "p").createOrReplaceTempView("jp")
    val viaSql = spark.sql("SELECT jpeg_dims(p) AS d FROM jp")
      .select("d.width", "d.height").collect()(0)
    assert((viaSql.getInt(0), viaSql.getInt(1)) == ((640, 480)))
  }

  test("SQL registration: lsh_band_buckets matches the Column API; bad k errors cleanly") {
    vecs.createOrReplaceTempView("lshv")
    val viaSql = spark.sql(
      "SELECT vec_id, lsh_band_buckets(CAST(embedding AS ARRAY<DOUBLE>), 3, 4, 8) AS bk FROM lshv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaCol = vecs.select($"vec_id",
        Similarity.lshBandBuckets($"embedding", 3, 4, 8).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == viaCol)
    val bad = intercept[Exception](
      spark.sql("SELECT shingle_hashes('a b c', CAST(NULL AS INT))").collect())
    assert(bad.getMessage.contains("must not be null"))
    val badArity = intercept[Exception](
      spark.sql("SELECT shingle_hashes('a b c')").collect())
    assert(badArity.getMessage.contains("expects 2 arguments"))
  }

  /** All messages down an exception's cause chain (eval errors surface
    * wrapped in SparkException, sometimes two levels deep). */
  private def messages(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
    sb.toString
  }

  test("dot_product fails fast on mismatched dims — no silent prefix product") {
    val d = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception](
      d.select(graft.functions.DotProduct.dot($"a", $"b")).collect())
    assert(messages(e).contains("mismatched dims"), messages(e))
  }

  test("null vector elements fail loudly in dot_product and lsh_band_buckets") {
    // SQL array literals with NULL declare containsNull=true — the guard path
    val d = spark.sql(
      "SELECT array(1.0D, CAST(NULL AS DOUBLE), 3.0D) AS v, array(1.0D, 2.0D, 3.0D) AS w")
    val e1 = intercept[Exception](
      d.selectExpr("dot_product(v, w)").collect())
    assert(messages(e1).contains("null element"), messages(e1))
    val e2 = intercept[Exception](
      d.selectExpr("lsh_band_buckets(v, 3, 4, 8)").collect())
    assert(messages(e2).contains("null element"), messages(e2))
    // dense nullable-typed vectors still evaluate fine (declared vs actual)
    assert(d.selectExpr("dot_product(w, w)").collect()(0).getDouble(0) == 14.0)
  }

  test("constant args out of Int range error instead of truncating") {
    // 2^32+3 wraps to 3 under toInt — must be rejected, not silently run k=3
    val e = intercept[Exception](
      spark.sql("SELECT shingle_hashes('a b c d', 4294967299)").collect())
    assert(messages(e).contains("Int range"), messages(e))
  }

  test("exact dedup composite key: two seeded hashes, no body in shuffle key") {
    // behavior is pinned by the exact-dedup test above; here pin the KEY
    // shape — two 8-byte hash columns, not the document text
    val keys = Dedup.exact(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.groupingExpressions
      }.flatten
    assert(keys.nonEmpty &&
      keys.forall(_.dataType == org.apache.spark.sql.types.LongType),
      s"group keys should be long hashes, got $keys")
    assert(keys.distinct.size == 2, s"expected 2 independent hash keys: $keys")
  }

  test("SQL registration: dot_product and simhash64 usable from spark.sql") {
    vecs.createOrReplaceTempView("v")
    val d = spark.sql(
      "SELECT dot_product(CAST(a.embedding AS ARRAY<DOUBLE>), CAST(b.embedding AS ARRAY<DOUBLE>)) AS d " +
        "FROM v a JOIN v b ON a.vec_id = 0 AND b.vec_id = 1").collect()(0).getDouble(0)
    assert(math.abs(d - 0.9) < 1e-7)
    docs.createOrReplaceTempView("d")
    val hs = spark.sql("SELECT doc_id, simhash64(text) AS h FROM d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(4L) && hs(1L) != hs(3L))
  }
}
