package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and an IVF-style partitioned variant
  * as the scale path.
  *
  * Dot products use the native codegen'd [[graft.functions.DotProduct]]
  * kernel. Scale design: brute force is O(n·q) and exists for
  * verification and small n; IVF restricts each probe to its coarse
  * partition, turning the cross join into an equi-join on the partition key
  * (shuffle-partitioned both sides, no broadcast of the corpus).
  */
object Similarity {

  /** Dot product of two double arrays — the native codegen'd
    * [[graft.functions.DotProduct]] kernel (the `zip_with`+`aggregate`
    * HOF equivalent is ~20× slower at pair scale: interpreted lambda per
    * element + an intermediate array per row). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  /** Attach `vec` (array<double>) and its L2 `norm`. */
  def withNorm(df: DataFrame, embCol: String): DataFrame = {
    val v = col(embCol).cast("array<double>")
    df.withColumn("vec", v).withColumn("norm", sqrt(dot(v, v)))
  }

  /** Cosine similarity given pre-normed frames (`vec`/`norm` on both). */
  private def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(va, vb) / (na * nb))

  /** Exact brute-force cosine top-k: for each query row, the k nearest
    * corpus rows (excluding itself). Ties break on corpus id ascending. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, embCol)
      .select(col(idCol).as("nn_id"), col("vec").as("cv"), col("norm").as("cn"))
    val q = withNorm(queries, embCol)
      .select(col(idCol).as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    rankTopK(q.crossJoin(c), k)
  }

  /** Shared scoring + ranking tail of the exact and IVF paths: score each
    * (query, candidate) row, keep the top `k` per query (ties break on
    * corpus id ascending, self-matches excluded). */
  private def rankTopK(joined: DataFrame, k: Int): DataFrame = {
    val scored = joined
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "cosine", "rank")
  }

  /** IVF-style top-k: both sides carry a coarse partition key (a cluster /
    * label / LSH-bucket column); each query only scans its own partition.
    * The cross join becomes an equi-join on the key — the 100 TB shape. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, partCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, embCol)
      .select(col(partCol).as("part"), col(idCol).as("nn_id"),
        col("vec").as("cv"), col("norm").as("cn"))
    val q = withNorm(queries, embCol)
      .select(col(partCol).as("part"), col(idCol).as("query_id"),
        col("vec").as("qv"), col("norm").as("qn"))
    rankTopK(q.join(c, Seq("part")), k)
  }

  /** Lloyd's k-means over the embedding column — trains the coarse
    * quantizer a real IVF deployment builds ONCE and serves from, so
    * [[ivfTopK]]/[[buildQuantizedIndex]] no longer depend on a
    * caller-supplied partition column. No randomness anywhere: seeding
    * and assignment are fully deterministic, and a refit on the same
    * data layout is bit-identical (spec-pinned). One honest caveat: the
    * per-cluster MEANS are distributed double sums, whose low-order bits
    * depend on partial-aggregation order — so bit-identity is NOT
    * promised across different partitionings or cluster sizes. That is
    * why the API hands back the centroid MATRIX: persist it and feed the
    * SAME matrix to corpus and queries ([[withCoarseLabel]] /
    * [[withProbeLabels]]); never re-derive centroids on one side of a
    * serving path. Seeding is farthest-first traversal (Gonzalez) over
    * a deterministic md5-prefix SAMPLE: one `TakeOrdered` scan draws the
    * `sampleRows` rows with the lowest `md5(id)` (a fixed pseudo-random
    * subset, independent of partitioning — so seeding is
    * refit-deterministic even across repartitions), then the driver runs
    * farthest-first locally from the md5-minimal row — each next seed
    * maximizes its squared-L2 distance to the chosen set, ties broken to
    * the lower md5 — so well-separated clusters each receive a seed
    * (random init can drop two seeds into one cluster, a state Lloyd
    * cannot split its way out of). The sample is what makes seeding
    * viable at corpus scale: the former full-corpus form cost `k−1`
    * complete scans — a thousand passes over a 100 TB table at the k
    * cap — where this is ONE bounded scan plus `O(sampleRows·k·dims)`
    * driver flops over `sampleRows·dims` transient doubles (the
    * MLlib-style collect-candidates-then-seed-locally shape;
    * `sampleRows` is the dial if dims is huge). The default
    * `max(10k, 100·k)` rows keeps ~100 expected sample points per true
    * cluster — plenty for seeds that Lloyd, which still sees the FULL
    * corpus, then refines; the farthest-first outlier caveat is also
    * softened, since an extreme outlier must land in the sample to claim
    * a seed. A corpus smaller than the cap is sampled in its entirety,
    * making seeding exhaustive exactly as before (the only behavioral
    * delta vs the full-corpus seeder is the distance tie-break: lower
    * md5 now, lower id before). Each of the `iters` Lloyd
    * rounds assigns per-row against centroid LITERALS (no shuffle of the
    * corpus) then recomputes means with one k-keyed aggregation — the
    * only shuffle, and map-side partials collapse it to `k·dims` doubles
    * per partition. Driver holds `k·dims` doubles (the centroid set —
    * KB, not data) plus the transient seeding sample.
    * An empty cluster keeps its previous centroid (the standard
    * Lloyd degeneracy patch, deterministic). Returns the centroid
    * matrix, row index = cluster id.
    *
    * Assignment cost is `k·dims` interpreted HOF ops per row; at serving
    * scale that is one pass over the corpus per round with `iters` fixed
    * and small. Profile before reaching for a native codegen'd argmin —
    * the aggregation shuffle is already negligible. */
  /** Upper bound on the [[kmeansFit]] seeding sample's DRIVER footprint,
    * `sampleRows · dims · 8` bytes of transient doubles (256 MiB). The fit
    * fails fast past it — naming both dials — instead of OOMing the
    * driver mid-collect. */
  val MaxSeedSampleBytes: Long = 256L << 20

  def kmeansFit(df: DataFrame, idCol: String, embCol: String, k: Int,
                iters: Int = 5, sampleRows: Int = 0): Array[Array[Double]] = {
    require(k >= 1, s"k must be positive, got $k")
    require(sampleRows == 0 || sampleRows >= k,
      s"sampleRows must be 0 (auto) or >= k, got $sampleRows for k=$k")
    // centroid-LITERAL assignment embeds k·dims constants in the plan —
    // the right shape for a COARSE quantizer (k in the tens to hundreds;
    // even 100 TB IVF deployments run k ≈ √n_partitions-scale cells, not
    // thousands). Past the cap, plan size and the k-pass seeding both
    // degrade: that regime wants a broadcast centroid TABLE + min_by
    // join, a different operator, so fail loudly instead of limping.
    require(k <= 1024, s"kmeansFit targets coarse quantizers (k <= 1024), got $k")
    require(iters >= 1, s"iters must be positive, got $iters")
    val vRaw = col(embCol).cast("array<double>")
    // fail fast on null/empty/null-element vectors from the FIRST scan —
    // the dense-vector policy of quantizeInt8/DotProduct. Seeding needs
    // the guard too: an unguarded null md5-minimal row would NPE on the
    // driver, and a null distance would slide a bad row out of (or into)
    // the farthest-first pick silently.
    val v = when(
      vRaw.isNull || size(vRaw) === 0 || exists(vRaw, _.isNull),
      raise_error(lit("kmeans_fit: null or empty embedding"))).otherwise(vRaw)
    val cap = if (sampleRows > 0) sampleRows else math.max(10000, 100 * k)
    // the sample lands on the DRIVER as ~cap·dims·8 bytes of transient
    // doubles — bound the PRODUCT before collecting, not just the row
    // count: at the auto-cap with k=1024 and dims=1024 the sample alone
    // is ~0.8 GB of driver heap, an OOM the scaladoc's "sampleRows is the
    // dial" remark used to leave the caller to discover. One limit(1)
    // probe reads dims first (a metadata-cheap job next to the fit's own
    // scans); an empty corpus skips the guard and fails on the existing
    // non-empty require below. Same fail-loudly-with-the-dials style as
    // the lshGeometryFor infeasibility guard.
    // probe with the GUARDED vector: a null/empty first row must produce
    // the designed "null or empty embedding" raise, not a bare NPE from
    // getInt on a null size
    df.select(size(v).as("d")).limit(1).collect().headOption.foreach { r =>
      val dims0 = r.getInt(0)
      val bytes = cap.toLong * dims0 * 8L
      require(bytes <= MaxSeedSampleBytes,
        f"kmeans_fit: the driver-side seeding sample would hold $cap rows x " +
          f"$dims0 dims ~= ${bytes / (1 << 20)} MiB of doubles " +
          f"(cap ${MaxSeedSampleBytes / (1 << 20)} MiB) - lower sampleRows " +
          "(the seeding-sample dial; seed quality needs only ~100 rows per " +
          "cluster) or reduce dims upstream (project the embedding) before " +
          "fitting")
    }
    // ONE TakeOrdered scan draws the md5-prefix sample. Sorted by h, so
    // sample(0) is the global md5-minimal row — the same first seed the
    // former full-corpus seeder chose (driver re-sort belt-and-braces
    // against any collect-order surprise).
    val sample = df
      .select(v.as("v"), md5(col(idCol).cast("string").cast("binary")).as("h"))
      .orderBy("h").limit(cap)
      .collect().map(r => (r.getString(1), r.getSeq[Double](0).toArray))
      .sortBy(_._1)
    require(sample.nonEmpty, "k-means needs a non-empty corpus")
    val dims = sample.head._2.length
    sample.foreach { case (_, vec) =>
      require(vec.length == dims,
        "kmeans_fit: ragged embedding (dims mismatch) in the seeding sample") }
    // ragged rows (≠ dims elements) fail against the first seed's width —
    // applied to every subsequent scan so the error names the offender
    // instead of poisoning dims or mis-accusing well-formed rows
    val vChecked = when(size(v) =!= dims,
      raise_error(lit("kmeans_fit: ragged embedding (dims mismatch)"))).otherwise(v)
    // driver-local Gonzalez over the sample with a running min-distance
    // array — O(sampleRows·k·dims) flops total, ZERO further Spark jobs
    // (vs the former k−1 full-corpus scans)
    val seeds = collection.mutable.ArrayBuffer(sample.head._2)
    val minD = Array.fill(sample.length)(Double.MaxValue)
    while (seeds.size < k) {
      val s = seeds.last
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        val vec = sample(i)._2
        var d = 0.0; var j = 0
        while (j < dims) { val t = vec(j) - s(j); d += t * t; j += 1 }
        if (d < minD(i)) minD(i) = d
        // strict > keeps the earliest (lowest-md5) row on distance ties
        if (minD(i) > bestD) { best = i; bestD = minD(i) }
        i += 1
      }
      require(bestD > 0.0,
        s"k-means needs at least $k distinct vectors for $k clusters " +
          "(within the seeding sample; raise sampleRows if the corpus has more)")
      seeds += sample(best)._2
    }
    var centroids: Array[Array[Double]] = seeds.toArray
    for (_ <- 0 until iters) {
      val sums = df
        .select(assignExpr(vChecked, centroids).as("cid"), vChecked.as("v"))
        .groupBy("cid")
        // element-wise member-vector sums as `dims` scalar sum aggregates:
        // map-side partial aggregation collapses each partition to ≤ k
        // rows, so the one shuffle carries k·dims doubles per partition —
        // never the corpus
        .agg(count(lit(1)).as("n"),
          array((0 until dims).map(j =>
            sum(element_at(col("v"), j + 1))): _*).as("vsum"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val cid = r.getInt(0); val n = r.getLong(1)
        if (n > 0) next(cid) = r.getSeq[Double](2).map(_ / n).toArray
      }
      centroids = next
    }
    centroids
  }

  /** `(squared-L2 distance, centroid id)` structs of `v` against every
    * centroid — per-row, shuffle-free; shared by assignment and the
    * multi-probe ranking. The centroid MATRIX rides as ONE `typedlit`
    * (a single Literal whose value is the nested array DATA) with a
    * two-arg `transform` supplying the centroid index — not as k·dims
    * individual literal nodes, which serialized to multi-MB task
    * binaries by k=32 and would be ~100 MB at the k=1024 cap. Same
    * interpreted-HOF arithmetic either way (the kmeansFit cost note
    * still holds); only the PLAN stops scaling with k·dims. */
  private def distStructs(v: Column, centroids: Array[Array[Double]]): Column =
    transform(typedlit(centroids.map(_.toSeq).toSeq), (c, i) =>
      struct(
        aggregate(zip_with(v, c, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d"),
        i.as("i")))

  /** Nearest-centroid id (squared-L2 argmin, ties to the lower id) against
    * literal centroids — per-row, shuffle-free, as the NATIVE codegen'd
    * [[graft.functions.NearestCentroid]] loop (identical semantics to
    * the former `array_min` over `(dist, id)` structs, bit for bit — see
    * that expression's scaladoc; the interpreted-HOF form evaluated
    * three lambdas per (row, centroid, dim) and dominated kmeansFit's
    * assignment scans and the PQ encode). The matrix rides as ONE
    * reference object, the [[distStructs]] plan-size discipline. */
  private def assignExpr(v: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.NearestCentroid.nearest(v, centroids)

  /** [[kmeansFit]]'s dense-vector fail-fast, reused by the serving-side
    * labelers: a null/empty/null-element or ragged embedding would
    * otherwise produce null distances → a null or arbitrary `coarse`
    * label, and the row would silently drop out of (or mis-bucket
    * within) IVF serving — the silent-exclusion failure class this
    * library forbids. */
  private def guardedVec(embCol: String, dims: Int, ctx: String): Column = {
    val vRaw = col(embCol).cast("array<double>")
    when(vRaw.isNull || size(vRaw) === 0 || exists(vRaw, _.isNull),
        raise_error(lit(s"$ctx: null or empty embedding")))
      .when(size(vRaw) =!= dims,
        raise_error(lit(s"$ctx: ragged embedding (dims mismatch, expected $dims)")))
      .otherwise(vRaw)
  }

  private def checkCentroids(centroids: Array[Array[Double]]): Int = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val dims = centroids.head.length
    require(dims >= 1 && centroids.forall(_.length == dims),
      "centroids must be non-empty vectors of one shared dimensionality")
    dims
  }

  /** Attach the learned coarse-partition label (`coarse`): nearest
    * [[kmeansFit]] centroid per row. Feed the SAME centroids to corpus
    * and queries and the result is [[ivfTopK]]'s `partCol` — the learned
    * IVF, end to end. Null/empty/ragged embeddings fail loudly against
    * the centroids' dims ([[kmeansFit]]'s dense-vector policy) instead
    * of silently dropping the row out of serving. */
  def withCoarseLabel(df: DataFrame, embCol: String,
                      centroids: Array[Array[Double]]): DataFrame = {
    val dims = checkCentroids(centroids)
    df.withColumn("coarse",
      assignExpr(guardedVec(embCol, dims, "with_coarse_label"), centroids))
  }

  /** [[withCoarseLabel]] plus the row's squared-L2 distance to its
    * assigned centroid (`centroid_dist`) — the quantity SemDeDup's
    * paper-exact keep rule ranks by, and a useful cluster-quality
    * diagnostic on its own. Same single `array_min` over the distance
    * structs; the two fields are one evaluation, not two scans. */
  def withCentroidDist(df: DataFrame, embCol: String,
                       centroids: Array[Array[Double]]): DataFrame = {
    val dims = checkCentroids(centroids)
    val m = array_min(distStructs(
      guardedVec(embCol, dims, "with_centroid_dist"), centroids))
    df.withColumn("coarse", m.getField("i"))
      .withColumn("centroid_dist", m.getField("d"))
  }

  /** Multi-probe QUERY labels — the IVF recall knob: each row fans out to
    * its `nprobe` nearest centroids (explode), so a boundary query whose
    * true neighbor sits across a Voronoi edge probes the adjacent cells
    * too. Corpus rows always keep their ONE [[withCoarseLabel]] cell; a
    * probed query meets each corpus row at most once (the corpus row has
    * one label), so [[ivfTopK]] needs no dedup — its per-query rank just
    * sees the union of the probed cells' candidates. Cost scales linearly
    * in `nprobe` on the QUERY side only, the classic recall/latency dial
    * of a served IVF. Ranking ties (equal distance) break to the lower
    * centroid id — deterministic. Null/empty/ragged embeddings fail
    * loudly against the centroids' dims, like [[withCoarseLabel]]. */
  def withProbeLabels(df: DataFrame, embCol: String,
                      centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    val dims = checkCentroids(centroids)
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe must be in [1, ${centroids.length}], got $nprobe")
    val v = guardedVec(embCol, dims, "with_probe_labels")
    val ranked = array_sort(distStructs(v, centroids))
    df.withColumn("coarse",
      explode(transform(slice(ranked, 1, nprobe), s => s.getField("i"))))
  }

  /** IVF centroid-drift metric — what makes the [[writeIvfIndex]] growth
    * policy ("rebuild deliberately on drift") TRIGGERABLE instead of
    * aspirational: the fraction of a deterministic sample of the labeled
    * index whose nearest centroid under `centroids` differs from its
    * STORED label. Serve-time drift ≈ 0 means the index's cell layout
    * still matches the quantizer; as the corpus grows/shifts, refit
    * centroids on the current corpus ([[kmeansFit]]) and compare against
    * the index built yesterday — the returned fraction is the share of
    * (sampled) vectors a rebuild would move to a different cell, i.e. the
    * recall erosion bound a stale layout carries. Rebuild when it crosses
    * the deployment's tolerance.
    *
    * Determinism and cost mirror [[kmeansFit]]'s seeding sample: ONE
    * `TakeOrdered` scan over the md5-prefix order (partitioning-
    * independent, so the metric is reproducible across layouts), driver
    * receives `sampleRows` booleans — never vectors, never the index.
    * Null stored labels and null/ragged embeddings fail loudly (a
    * corrupted index must not read as "no drift"). */
  def assignmentDrift(index: DataFrame, idCol: String, embCol: String,
                      labelCol: String, centroids: Array[Array[Double]],
                      sampleRows: Int = 10000): Double = {
    require(sampleRows >= 1, s"sampleRows must be positive, got $sampleRows")
    val dims = checkCentroids(centroids)
    val v = guardedVec(embCol, dims, "assignment_drift")
    val lbl = when(col(labelCol).isNull,
        raise_error(lit("assignment_drift: null stored label - corrupted index row")))
      .otherwise(col(labelCol).cast("int"))
    val rows = index
      .select(md5(col(idCol).cast("string").cast("binary")).as("h"),
        (assignExpr(v, centroids) =!= lbl).as("drifted"))
      .orderBy("h").limit(sampleRows)
      .collect()
    require(rows.nonEmpty, "assignment_drift: empty index")
    rows.count(_.getBoolean(1)).toDouble / rows.length
  }

  /** All pairs with cosine ≥ `minCosine` (embedding near-dup detection).
    * Brute force for oracle-scale; at scale, pre-bucket with random
    * hyperplane LSH and restrict pairs to equal buckets. */
  def cosinePairs(df: DataFrame, idCol: String, embCol: String,
                  minCosine: Double): DataFrame = {
    val n = withNorm(df, embCol)
    val a = n.select(col(idCol).as("id_a"), col("vec").as("va"), col("norm").as("na"))
    val b = n.select(col(idCol).as("id_b"), col("vec").as("vb"), col("norm").as("nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-level
    * near-duplicate REMOVAL with the pairwise blow-up bounded by k-means
    * clustering — the paper's core trick: cosine pairs are only computed
    * WITHIN a cluster, so the quadratic term is (n/k)² per cluster, not
    * n², and the cluster id is an equi-join key (one shuffle on
    * `coarse`, never a cross join). Keep rule (`keepBy`): a row is
    * dropped iff some SAME-cluster row with HIGHER PRIORITY sits at
    * cosine ≥ `minCosine`, where priority is
    *  - `"id"` (default): smaller id wins — the deterministic,
    *    join-expressible relaxation (any fixed priority works, and
    *    id-order is replayable in SQL independent of partitioning);
    *  - `"centroid_dist"`: the PAPER's rule — the point FARTHEST from
    *    its centroid wins (larger squared-L2 to the assigned centroid,
    *    ties to the smaller id), keeping the cluster's most marginal
    *    example as SemDeDup prescribes. Still a fixed per-row priority,
    *    so still one equi-join — the tuple (dist desc, id asc) just
    *    replaces the id comparison.
    * Chains (A~B~C, A≁C) keep only the top-priority doc's victims dead:
    * B dies to A, C dies to B — dropping a doc never revives its
    * victims, the same one-pass semantics as [[Dedup.dropSpanDuplicatedDocs]].
    *
    * 100 TB posture: clustering is the caller's [[kmeansFit]] matrix (fit
    * once, rides the pipeline); the self-join shuffles each cluster's
    * rows once; a skewed hot cluster is the one quadratic risk — raise k,
    * or swap the within-cluster pair step for [[lshCosinePairs]]
    * restricted by `coarse` (compose: both are `(id, id)` pair sources).
    * Returns the input columns + `coarse` + `kept`; [[semDedup]] is the
    * filter form. */
  def withSemDupFlag(df: DataFrame, idCol: String, embCol: String,
                     centroids: Array[Array[Double]],
                     minCosine: Double,
                     keepBy: String = "id"): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    require(keepBy == "id" || keepBy == "centroid_dist",
      s"keepBy must be 'id' or 'centroid_dist', got '$keepBy'")
    val byDist = keepBy == "centroid_dist"
    val labeled =
      if (byDist) withCentroidDist(df, embCol, centroids)
      else withCoarseLabel(df, embCol, centroids)
    val n = withNorm(labeled, embCol)
    val distA = if (byDist) Seq(col("centroid_dist").as("__da")) else Nil
    val distB = if (byDist) Seq(col("centroid_dist").as("__db")) else Nil
    val a = n.select(Seq(col("coarse"), col(idCol).as("__id_a"),
      col("vec").as("va"), col("norm").as("na")) ++ distA: _*)
    val b = n.select(Seq(col("coarse"), col(idCol).as("__id_b"),
      col("vec").as("vb"), col("norm").as("nb")) ++ distB: _*)
    // "a dominates b" under the chosen priority; both orders of a pair
    // appear under centroid_dist (no a<b pre-filter), so the join sees
    // each unordered pair twice there — the price of a non-id priority,
    // still an equi-join on the cluster key. Self-pairs need no extra
    // filter: id-order excludes equality, and an exact dist tie falls
    // to the id comparison, which a self-pair fails.
    val dominates =
      if (byDist) col("__da") > col("__db") ||
        (col("__da") === col("__db") && col("__id_a") < col("__id_b"))
      else col("__id_a") < col("__id_b")
    val losers = a.join(b, Seq("coarse"))
      .filter(dominates)
      .filter(cosine(col("va"), col("vb"), col("na"), col("nb")) >= minCosine)
      .select(col("__id_b").as(idCol)).distinct()
      .withColumn("__loser", lit(true))
    // the helper's dist column is internal — drop it for schema parity
    // with the id rule, UNLESS the caller's input already carried one
    // (then it stays, recomputed against these centroids)
    val dropDist = byDist && !df.columns.contains("centroid_dist")
    labeled.join(losers, Seq(idCol), "left")
      .withColumn("kept", col("__loser").isNull)
      .drop("__loser")
      .drop((if (dropDist) Seq("centroid_dist") else Seq.empty[String]): _*)
  }

  /** The filter form of [[withSemDupFlag]]: only the semantic-dedup
    * survivors, original columns plus their cluster id. */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
               centroids: Array[Array[Double]], minCosine: Double,
               keepBy: String = "id"): DataFrame =
    withSemDupFlag(df, idCol, embCol, centroids, minCosine, keepBy)
      .filter(col("kept")).drop("kept")

  /** [[withSemDupFlag]]'s HOT-CLUSTER scale path — the escape hatch its
    * scaladoc names, as an operator: candidate pairs come from banded
    * hyperplane LSH collisions keyed on `(coarse, band, bucket)` instead
    * of the full within-cluster pair scan, so a skewed cluster's cost is
    * its LSH-collision volume (sized via [[lshGeometryFor]] — O(bands·m)
    * for an m-row cluster), never m². The same dominated keep-rule then
    * applies to the cosine-VERIFIED candidates. Direction of error: a
    * missed candidate pair can only leave a doc STANDING, so this form
    * keeps a SUPERSET of the exact form's survivors (spec-pinned), and
    * at a [[lshGeometryFor]]-sized geometry the per-pair miss bound
    * makes the two forms agree — `q_semdedup_lsh` puts that agreement
    * under the hash gate. LSH prep is materialized once
    * ([[Materialize.eagerCheckpoint]]) because it feeds candidate
    * generation AND both verify sides. */
  def withSemDupFlagLsh(df: DataFrame, idCol: String, embCol: String,
                        centroids: Array[Array[Double]], minCosine: Double,
                        bands: Int = 24, bitsPerBand: Int = 8): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    val dims = checkCentroids(centroids)
    val labeled = withCoarseLabel(df, embCol, centroids)
    val prep = Materialize.eagerCheckpoint(
      withNorm(labeled, embCol).select(col(idCol), col("coarse"),
        col("vec"), col("norm"),
        lshBandBuckets(col("vec"), dims, bands, bitsPerBand).as("__bkts")))
    val exploded = prep.select(col(idCol), col("coarse"),
      posexplode(col("__bkts")).as(Seq("__band", "__bucket")))
    val cands = exploded.as("x").join(exploded.as("y"),
        col("x.coarse") === col("y.coarse") &&
          col("x.__band") === col("y.__band") &&
          col("x.__bucket") === col("y.__bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("__id_a"), col(s"y.$idCol").as("__id_b"))
      .distinct()
    val v = prep.select(col(idCol), col("vec"), col("norm"))
    val losers = cands
      .join(v.select(col(idCol).as("__id_a"), col("vec").as("va"),
        col("norm").as("na")), Seq("__id_a"))
      .join(v.select(col(idCol).as("__id_b"), col("vec").as("vb"),
        col("norm").as("nb")), Seq("__id_b"))
      .filter(cosine(col("va"), col("vb"), col("na"), col("nb")) >= minCosine)
      .select(col("__id_b").as(idCol)).distinct()
      .withColumn("__loser", lit(true))
    labeled.join(losers, Seq(idCol), "left")
      .withColumn("kept", col("__loser").isNull)
      .drop("__loser")
  }

  /** All `bands` LSH band buckets for a `dims`-dimensional embedding: band
    * `b` packs the sign bits of `bitsPerBand` projections against fixed ±1
    * (Rademacher) hyperplanes into one long — the native
    * [[graft.functions.LshBandBuckets]] expression, one compiled
    * multiply-add loop per row (the compose-from-built-ins form — one
    * DotProduct per bit against a literal plane array — builds a
    * plan-sized expression tree that dominated the profile). Two vectors
    * are near-dup CANDIDATES iff they collide on at least one band;
    * P[candidate] = 1-(1-p^r)^B with p = 1 - θ/π, so recall amplifies
    * with bands while near-orthogonal background pairs collide on a given
    * band with probability ~2^-r. */
  def lshBandBuckets(embCol: Column, dims: Int, bands: Int, bitsPerBand: Int): Column = {
    require(dims >= 1, s"dims must be positive, got $dims")
    require(bands >= 1, s"bands must be positive, got $bands")
    require(bitsPerBand >= 1 && bitsPerBand <= 63,
      s"bitsPerBand must be in [1, 63], got $bitsPerBand")
    graft.functions.LshBandBuckets.lshBandBuckets(
      embCol.cast("array<double>"), dims, bands, bitsPerBand)
  }

  /** Random-hyperplane LSH bucket (sign bits of `nbits` fixed ±1
    * projections packed into one long) — the single-band special case of
    * [[lshBandBuckets]]: equal buckets ⇒ candidate neighbors. */
  def lshBucket(embCol: Column, dims: Int, nbits: Int): Column =
    element_at(lshBandBuckets(embCol, dims, 1, nbits), 1)

  /** Banded-LSH cosine near-dup pairs — the 100 TB path for
    * [[cosinePairs]]'s all-pairs baseline: candidates collide on ≥ 1 of
    * `bands` buckets (a `(band, bucket)`-keyed equi-join, so only
    * colliding vectors ever meet), then exact cosine is computed for
    * candidates ONLY and filtered at `minCosine` —
    * candidate-generate-verify, like [[Dedup.minhashDuplicates]].
    * Output `(id_a, id_b, cosine)`, `id_a < id_b`, identical to
    * `cosinePairs` up to the per-pair miss probability `(1-p^r)^B`
    * (< 1e-8 at cosine 0.95 with the 24×8 default geometry). */
  def lshCosinePairs(df: DataFrame, idCol: String, embCol: String, dims: Int,
                     minCosine: Double, bands: Int = 24, bitsPerBand: Int = 8): DataFrame = {
    // NOTE on sizing: the default 24×8 geometry has 256 buckets per band,
    // so UNRELATED pairs collide at ~bands/2^bits — fine for oracle-scale
    // corpora, but candidates grow as n²·bands/2^bits, i.e. quadratic with
    // a fixed geometry (the bench_scale_embed harness measures slope ~2 at
    // 32k vectors under 24×8). Size bitsPerBand with the corpus via
    // [[lshGeometryFor]] (bits ≈ log₂ n ⇒ candidates O(bands·n), linear).
    val n = lshPrepared(df, idCol, embCol, dims, bands, bitsPerBand)
    lshVerify(n, lshCandidates(n), minCosine)
  }

  /** Stage 1 of [[lshCosinePairs]], exposed (`private[graft]`) so the
    * scale harness can time stages separately: vec+norm+band-buckets per
    * row, materialized ONCE (eager, self-cleaning) because it feeds
    * candidate generation AND both verify sides — honoring the shared
    * reliable-checkpoint mode so this path survives executor loss exactly
    * like the shingle-dedup pipeline (see Materialize). Per-row cost is
    * `bands·bitsPerBand` projections of `dims` — under [[lshGeometryFor]]
    * both factors grow with log n, the log² work term the harness's
    * stage timings attribute. */
  private[graft] def lshPrepared(df: DataFrame, idCol: String, embCol: String,
                                 dims: Int, bands: Int, bitsPerBand: Int): DataFrame =
    Materialize.eagerCheckpoint(withNorm(df, embCol)
      .select(col(idCol).as("nid"), col("vec"), col("norm"),
        lshBandBuckets(col(embCol), dims, bands, bitsPerBand).as("bk")))

  /** Stage 2 of [[lshCosinePairs]]: band explode + `(band, bucket)`
    * self-join + pair distinct — only bucket-colliding vectors ever meet. */
  private[graft] def lshCandidates(prepared: DataFrame): DataFrame = {
    val banded = prepared.select(col("nid"), posexplode(col("bk")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    banded.select(col("band"), col("bucket"), col("nid").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("nid").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Stage 3 of [[lshCosinePairs]]: exact-cosine verification of the
    * candidate pairs only, thresholded at `minCosine`. */
  private[graft] def lshVerify(prepared: DataFrame, cands: DataFrame,
                               minCosine: Double): DataFrame =
    cands
      .join(prepared.select(col("nid").as("id_a"), col("vec").as("va"), col("norm").as("na")), "id_a")
      .join(prepared.select(col("nid").as("id_b"), col("vec").as("vb"), col("norm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= minCosine)

  /** [[lshCosinePairs]] geometry sized to the corpus — the 100 TB sizing
    * rule made executable. `bitsPerBand ≈ log₂ n` keeps per-band bucket
    * count ≳ n, so the expected candidates from UNRELATED pairs stay
    * `O(bands · n)` (each vector meets ~`n/2^bits ≈ 1` others per band)
    * instead of the `O(bands · n²/2^bits)` blowup of a fixed geometry;
    * `bands` then buys recall: per-pair miss ≤ `(1 − p^bits)^bands` with
    * `p = 1 − arccos(minCosine)/π` (Goemans–Williamson sign-agreement).
    * Returns `(bands, bitsPerBand)` for the requested miss probability.
    * The verify stage is exact, so geometry affects RECALL and COST only,
    * never precision. */
  def lshGeometryFor(n: Long, minCosine: Double,
                     missProb: Double = 1e-6, maxBands: Int = 1024): (Int, Int) = {
    require(n >= 1, s"corpus size must be positive, got $n")
    require(minCosine > 0.0 && minCosine < 1.0,
      s"minCosine must be in (0, 1), got $minCosine")
    require(missProb > 0.0 && missProb < 1.0,
      s"missProb must be in (0, 1), got $missProb")
    require(maxBands >= 1, s"maxBands must be positive, got $maxBands")
    val bits = math.max(8, math.min(24,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt))
    val pBit = 1.0 - math.acos(minCosine) / math.Pi
    val pBand = math.pow(pBit, bits)
    val bands = math.max(1,
      math.ceil(math.log(missProb) / math.log1p(-pBand)).toInt)
    // low thresholds make per-band collision so improbable that recall
    // needs absurd band counts (minCosine 0.5 at 16m vectors → ~230k
    // bands, i.e. a 230k-element bucket explode per row) — at that point
    // LSH cannot prune and silently planning it would be the real bug.
    // The cap is a parameter: moderate thresholds (~0.86 at 16m vectors)
    // legitimately land just past 1024, and a caller prepared to pay for
    // the bands can raise it.
    require(bands <= maxBands,
      s"lshGeometryFor: $bands bands needed for miss<=$missProb at " +
        s"cosine>=$minCosine with $bits-bit bands (cap $maxBands) - " +
        "this similarity threshold is too low for hyperplane-LSH pruning " +
        "at this corpus size; raise minCosine, missProb, or maxBands, " +
        "or use the exact cosinePairs")
    (bands, bits)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * `s = max|xᵢ| / 127`, codes `qᵢ = floor(xᵢ/s + 0.5)` in [−127, 127]
    * (half-up via the explicit floor formula — both engines round it
    * bit-identically, unlike their `round()`s). At the 100 TB target this
    * is the storage play: 4× smaller vectors and integer SIMD distance,
    * with the scale kept alongside for dequantized exact re-scoring of
    * top candidates. Zero vectors quantize to all-zero codes with scale 0.
    * Output adds `q8` (array<int>, boxed tinyint range) and `q8_scale`. */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame = {
    val v = col(embCol).cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    // fail fast on empty or null-element vectors, matching the dense-vector
    // policy of DotProduct / LshBandBuckets — array_max would otherwise
    // yield a silent null scale and all-null codes; a NULL array row stays
    // NULL like any other expression input.
    val scale = when(v.isNull, lit(null).cast("double"))
      .when(size(v) === 0 || exists(v, _.isNull),
        raise_error(lit("quantize_int8: empty or null-element embedding")))
      .otherwise(maxAbs / 127.0)
    df.withColumn("q8_scale", scale)
      .withColumn("q8",
        when(col("q8_scale") === 0.0, transform(v, _ => lit(0)))
          .otherwise(transform(v,
            x => floor(x / col("q8_scale") + 0.5).cast("int"))))
  }

  // ---------------------------------------------------------------------
  // PRODUCT QUANTIZATION (Jégou, Douze & Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search") — the ANN memory play
  // past int8: split each vector into M subvectors, k-means a codebook
  // per subspace, store ONE code byte per subvector. At M = 8 over
  // 64-dim floats that is 8 bytes/vector vs 256 (fp32) / 72 (int8 +
  // scale) — the compression that makes billion-vector serving fit an
  // executor's memory budget. Serving is ASYMMETRIC DISTANCE (ADC):
  // the query stays full-precision and meets each corpus vector only
  // through its code's centroids, so accuracy degrades with corpus
  // quantization only, never query quantization.
  // ---------------------------------------------------------------------

  /** Per-subspace codebooks: `codebooks(j)(c)` = subspace j's centroid
    * c, every subspace `dsub`-dimensional. Trained by [[trainPq]];
    * rides the serving path as one `typedlit` (m·ksub·dsub doubles —
    * KBs, the [[distStructs]] plan-size discipline). */
  final case class PqCodebooks(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty, "PQ needs at least one subspace")
    val m: Int = codebooks.length
    val ksub: Int = codebooks.head.length
    val dsub: Int = codebooks.head.head.length
    require(ksub >= 1 && dsub >= 1 &&
      codebooks.forall(b => b.length == ksub && b.forall(_.length == dsub)),
      "PQ codebooks must be rectangular: m x ksub x dsub")
    require(ksub <= 256, s"PQ codes are byte-ranged: ksub <= 256, got $ksub")
    def dims: Int = m * dsub
  }

  /** Train PQ codebooks: one [[kmeansFit]] per subspace over the sliced
    * embedding column — M reuses of the existing deterministic Lloyd
    * machinery (same md5 seeding, same refit determinism per layout),
    * so the codebooks need no new clustering code or randomness story.
    * Cost: M × (one TakeOrdered seeding scan + `iters` assignment
    * aggregations) over the corpus — the offline train step of a PQ
    * deployment, paid once per rebuild like the coarse quantizer's fit.
    * `dims` must split evenly into `m` subspaces (pad or project
    * upstream otherwise — silent ragged splits would corrupt every
    * code). */
  def trainPq(df: DataFrame, idCol: String, embCol: String,
              m: Int = 8, ksub: Int = 16, iters: Int = 5): PqCodebooks = {
    require(m >= 1, s"m must be positive, got $m")
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2, 256], got $ksub")
    val v = col(embCol).cast("array<double>")
    val head = df.select(size(v).as("d")).limit(1).collect()
    require(head.nonEmpty, "trainPq: empty corpus")
    val dims = head.head.getInt(0)
    require(dims % m == 0,
      s"trainPq: dims $dims must split evenly into m=$m subspaces " +
        "(project or pad the embedding upstream)")
    val dsub = dims / m
    PqCodebooks((0 until m).toArray.map { j =>
      kmeansFit(
        df.select(col(idCol), slice(v, j * dsub + 1, dsub).as("__sub")),
        idCol, "__sub", ksub, iters)
    })
  }

  /** Attach the PQ code vector (`pq_codes`, array<tinyint>-ranged ints,
    * length m): per subspace the nearest codebook centroid
    * ([[assignExpr]] — squared-L2 argmin, ties to the lower code).
    * Null/empty/ragged embeddings fail loudly, the library's
    * dense-vector policy. */
  def encodePq(df: DataFrame, embCol: String, cb: PqCodebooks): DataFrame = {
    val v = guardedVec(embCol, cb.dims, "encode_pq")
    df.withColumn("pq_codes", array((0 until cb.m).map { j =>
      assignExpr(slice(v, j * cb.dsub + 1, cb.dsub), cb.codebooks(j))
    }: _*))
  }

  /** The PQ index as a persistable frame: `(idCol, partCol, pq_codes)`
    * — [[buildQuantizedIndex]]'s product-quantized sibling, 8
    * bytes/vector of payload at the M = 8 default instead of int8's
    * dims + 8. Codes are integers, so the parquet round-trip is exact. */
  def buildPqIndex(df: DataFrame, idCol: String, embCol: String,
                   partCol: String, cb: PqCodebooks): DataFrame =
    encodePq(df, embCol, cb)
      .select(col(idCol), col(partCol), col("pq_codes"))

  /** The row's residual to its coarse centroid: `v − centroid(coarse)`,
    * element-wise over the literal centroid matrix (rides the plan as
    * one small array literal; exact IEEE subtraction per element, so
    * the oracle's replay from the dumped matrix is bit-identical).
    * Residuals are what a production IVF-PQ quantizes (Jégou 2011
    * §V-C, the FAISS `IVFPQ` default): within one Voronoi cell the
    * residual cloud is centered and far tighter than the raw vectors,
    * so the SAME codebook budget spends its centroids on the
    * within-cell structure instead of re-describing cell positions —
    * lower distortion at identical bytes/vector. */
  private def residualExpr(v: Column, coarse: Column,
                           centroids: Array[Array[Double]]): Column = {
    val centLit = typedlit(centroids.map(_.toSeq).toSeq)
    zip_with(v, element_at(centLit, coarse.cast("int") + 1), (a, b) => a - b)
  }

  /** Train PQ codebooks over coarse-cell RESIDUALS — [[trainPq]] on
    * `v − centroid(coarse(v))` with labels induced by `centroids`.
    * Shares all of [[trainPq]]'s machinery and determinism story; the
    * only addition is the residual projection below the per-subspace
    * Lloyd fits. */
  def trainPqResidual(df: DataFrame, idCol: String, embCol: String,
                      centroids: Array[Array[Double]],
                      m: Int = 8, ksub: Int = 16, iters: Int = 5): PqCodebooks = {
    val dims = checkCentroids(centroids)
    val labeled = withCoarseLabel(df, embCol, centroids)
      .withColumn("__res",
        residualExpr(guardedVec(embCol, dims, "train_pq_residual"),
          col("coarse"), centroids))
    trainPq(labeled, idCol, "__res", m, ksub, iters)
  }

  /** The residual-PQ index: `(idCol, coarse, pq_codes)` where the codes
    * quantize the row's RESIDUAL to its coarse centroid. The cell id
    * must travel with the codes — a residual code is meaningless
    * without knowing which centroid it is relative to. */
  def buildPqIndexResidual(df: DataFrame, idCol: String, embCol: String,
                           centroids: Array[Array[Double]],
                           cb: PqCodebooks): DataFrame = {
    val labeled = withCoarseLabel(df, embCol, centroids)
      .withColumn("__res",
        residualExpr(guardedVec(embCol, cb.dims, "build_pq_index_residual"),
          col("coarse"), centroids))
    encodePq(labeled, "__res", cb)
      .select(col(idCol), col("coarse"), col("pq_codes"))
  }

  /** IVF top-k over a RESIDUAL-PQ index with multi-probe fan-out and
    * exact re-scoring — [[ivfTopKPq]] at production IVF-PQ semantics:
    * each query probes its `nprobe` nearest cells
    * ([[withProbeLabels]]), and within each probed cell the ADC runs
    * between the QUERY'S RESIDUAL TO THAT CELL and the candidates'
    * residual codes — the [[graft.functions.AdcTable]] precompute is
    * per (query, probed cell) row, still below the cell join, still m
    * lookups per candidate pair. Candidates from all probed cells rank
    * in ONE per-query shortlist (rounded ADC, ties to the lower id,
    * the [[ivfTopKPq]] determinism contract), then stage 2 re-scores
    * the shortlist against the full-precision corpus vectors. */
  def ivfTopKPqResidual(index: DataFrame, corpus: DataFrame,
                        queries: DataFrame, idCol: String, embCol: String,
                        centroids: Array[Array[Double]], cb: PqCodebooks,
                        k: Int, nprobe: Int = 2,
                        candidateFactor: Int = 4): DataFrame = {
    require(checkCentroids(centroids) == cb.dims,
      s"centroid dims ${centroids.head.length} != codebook dims ${cb.dims}")
    adcTopK(index, corpus, withProbeLabels(queries, embCol, centroids, nprobe),
      idCol, embCol, "coarse",
      residualExpr(guardedVec(embCol, cb.dims, "ivf_top_k_pq_residual"),
        col("coarse"), centroids),
      cb, k, candidateFactor)
  }

  // ---------------------------------------------------------------------
  // OPQ — Optimized Product Quantization (Ge, He, Ke & Sun, CVPR 2013):
  // learn an orthogonal rotation R of the embedding space BEFORE the
  // subspace split, so the PQ codebook budget stops being spent on
  // whatever correlated/unbalanced axes the raw coordinates happen to
  // have. Plain PQ's subspaces are the raw coordinate blocks — on
  // unstructured embeddings (no axis-aligned cluster structure) that is
  // the known recall ceiling; OPQ's rotation decorrelates the subspaces
  // (parametric init: PCA + eigenvalue allocation, Ge §4.2) and then
  // alternately refines R against the trained codebooks (non-parametric
  // iterations: orthogonal Procrustes, Ge §4.1), reusing the SAME
  // distributed Lloyd machinery ([[trainPq]]) for every codebook fit.
  // At serve time the rotation is one matrix-vector product per row —
  // encode and ADC both run in the rotated space, the exact re-scoring
  // stays in the ORIGINAL space (R is orthogonal, so the true cosine is
  // unchanged; re-scoring original vectors keeps the returned scores
  // bit-comparable with every other ANN family here).
  // ---------------------------------------------------------------------

  /** `R · v` as a column: one row of the rotation per output dimension,
    * each a NATIVE [[graft.functions.DotProduct]] kernel call — the
    * sequential-fold IEEE association (`((0+x₁)+x₂)+…`) DuckDB's
    * `list_sum` replays exactly, so the oracle recomputes rotated
    * vectors bit-identically from the dumped matrix.
    *
    * Shape note (r20, measured): this stays the `transform(typedlit
    * (matrix), row => dot(v, row))` HOF on purpose. The seemingly
    * codegen-friendlier flat `array(dot(v, row₁), …, dot(v, row_d))`
    * was tried in r20 and REGRESSED the OPQ family ~2.7× (q_ann_opq
    * 1.5 → 4.0 s, its served twin 1.0 → 3.2 s on the noop bench): at
    * d = 64 the 64 inlined dot loops make the whole-stage-codegen
    * method enormous — past the JIT's huge-method threshold it runs in
    * the bytecode interpreter, which is far slower than the HOF's 64
    * small, JIT-hot `DotProduct.eval` calls per row. Reverted same
    * round; plan-shape intuition lost to a measurement (guide §1.1).
    * The matrix rides the plan as ONE `typedlit` (d² doubles — 32 KB at
    * d = 64), the [[distStructs]] plan-size discipline. `v` is
    * re-evaluated once per OUTPUT dimension by the `transform` lambda —
    * pass a plain column reference (stage any guard/cast in a
    * projection below), not a heavy expression. */
  def rotateExpr(v: Column, rotation: Array[Array[Double]]): Column =
    transform(typedlit(rotation.map(_.toSeq).toSeq), (row, _) =>
      graft.functions.DotProduct.dot(v, row))

  /** The bounded md5-ordered driver sample [[kmeansFit]] seeds from,
    * shared by the OPQ trainer: deterministic (md5 of the id, driver
    * re-sort belt-and-braces), guarded by [[MaxSeedSampleBytes]] before
    * collecting. */
  private def md5Sample(df: DataFrame, idCol: String, embCol: String,
                        cap: Int, ctx: String): Array[Array[Double]] = {
    val vRaw = col(embCol).cast("array<double>")
    val v = when(
      vRaw.isNull || size(vRaw) === 0 || exists(vRaw, _.isNull),
      raise_error(lit(s"$ctx: null or empty embedding"))).otherwise(vRaw)
    df.select(size(v).as("d")).limit(1).collect().headOption.foreach { r =>
      val dims0 = r.getInt(0)
      val bytes = cap.toLong * dims0 * 8L
      require(bytes <= MaxSeedSampleBytes,
        f"$ctx: the driver-side sample would hold $cap rows x $dims0 dims " +
          f"~= ${bytes / (1 << 20)} MiB of doubles " +
          f"(cap ${MaxSeedSampleBytes / (1 << 20)} MiB) - lower sampleRows " +
          "or project the embedding before training")
    }
    val sample = df
      .select(v.as("v"), md5(col(idCol).cast("string").cast("binary")).as("h"))
      .orderBy("h").limit(cap)
      .collect().map(r => (r.getString(1), r.getSeq[Double](0).toArray))
      .sortBy(_._1).map(_._2)
    require(sample.nonEmpty, s"$ctx: empty corpus")
    val dims = sample.head.length
    sample.foreach(x => require(x.length == dims,
      s"$ctx: ragged embedding (dims mismatch) in the sample"))
    sample
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric d×d matrix —
    * deterministic fixed sweep order, returns (eigenvalues,
    * eigenvectors-as-ROWS). d is embedding width (≤ ~1k), so the O(d³)
    * driver cost is microseconds-to-ms; no LAPACK dependency surface. */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    // convergence is tested SCALE-RELATIVE: the input is an unnormalized
    // second moment (entries grow with sampleRows × |v|²), so an absolute
    // 1e-14 would never trigger and all 64 sweeps would always run
    var frob = 0.0
    var fi = 0
    while (fi < d) {
      var fj = 0
      while (fj < d) { val x = a0(fi)(fj); frob += x * x; fj += 1 }
      fi += 1
    }
    val tol = 1e-14 * math.max(frob, Double.MinPositiveValue)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vpk = v(p)(k); val vqk = v(q)(k)
              v(p)(k) = c * vpk - s * vqk
              v(q)(k) = s * vpk + c * vqk
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Ge et al.'s parametric initialization (OPQ-P, §4.2): eigenvalue
    * allocation. Eigenpairs sorted by eigenvalue DESC are dealt greedily
    * to the m subspace buckets — each to the non-full bucket with the
    * smallest current log-variance product (ties to the lower bucket) —
    * balancing the per-subspace variance products so no single codebook
    * carries the whole spectrum. Returns the rotation: eigenvector rows
    * ordered bucket by bucket. */
  private def eigenAllocate(evals: Array[Double], evecs: Array[Array[Double]],
                            m: Int): Array[Array[Double]] = {
    val d = evals.length
    val dsub = d / m
    val order = evals.indices.sortBy(i => (-evals(i), i))
    val logs = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { i =>
      var best = -1
      var bestLog = Double.MaxValue
      var b = 0
      while (b < m) {
        if (buckets(b).size < dsub && logs(b) < bestLog) {
          best = b; bestLog = logs(b)
        }
        b += 1
      }
      buckets(best) += i
      logs(best) += math.log(math.max(evals(i), 1e-300))
    }
    buckets.flatMap(_.iterator.map(evecs)).toArray
  }

  /** Train an OPQ model: the learned rotation + PQ codebooks fitted in
    * the rotated space — [[trainPq]] with Ge et al. 2013's two stages
    * in front of the subspace split:
    *
    *  1. PARAMETRIC init: second-moment matrix of a bounded md5 driver
    *     sample → Jacobi eigendecomposition → eigenvalue allocation
    *     ([[eigenAllocate]]) = R₀.
    *  2. NON-PARAMETRIC refinement (`opqIters`): fit codebooks on the
    *     ROTATED corpus with the existing distributed Lloyd
    *     ([[trainPq]] — the codebook economics and determinism story
    *     are unchanged), reconstruct the rotated sample from its codes,
    *     and re-solve R by orthogonal Procrustes (SVD of the
    *     sample×reconstruction correlation — breeze, on Spark's own
    *     classpath) so the rotation chases the quantizer and vice
    *     versa; a final [[trainPq]] re-fits codebooks under the final R.
    *
    * Cost: (opqIters + 1) × [[trainPq]] over the corpus plus O(sample·d²)
    * driver arithmetic per iteration — an offline train step, paid per
    * rebuild like every quantizer fit here. Returns `(rotation,
    * codebooks)`; both persist with the index (the serving side derives
    * nothing, the [[writeLearnedIndex]] quantizer-mismatch
    * discipline). */
  def trainOpq(df: DataFrame, idCol: String, embCol: String,
               m: Int = 8, ksub: Int = 16, iters: Int = 5,
               opqIters: Int = 2,
               sampleRows: Int = 10000): (Array[Array[Double]], PqCodebooks) = {
    require(m >= 1, s"m must be positive, got $m")
    require(opqIters >= 0, s"opqIters must be >= 0, got $opqIters")
    require(sampleRows >= 2, s"sampleRows must be >= 2, got $sampleRows")
    val sample = md5Sample(df, idCol, embCol, sampleRows, "train_opq")
    val d = sample.head.length
    require(d % m == 0,
      s"train_opq: dims $d must split evenly into m=$m subspaces")
    // second moment C = Σ v vᵀ over the sample (uncentered, like the PQ
    // it feeds: codes quantize vectors, not deviations)
    val c = Array.ofDim[Double](d, d)
    sample.foreach { x =>
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) { c(i)(j) += x(i) * x(j); j += 1 }
        i += 1
      }
    }
    var i = 0
    while (i < d) { var j = 0; while (j < i) { c(i)(j) = c(j)(i); j += 1 }; i += 1 }
    val (evals, evecs) = jacobiEigen(c)
    var rot = eigenAllocate(evals, evecs, m)
    var cb = trainPqRotated(df, idCol, embCol, rot, m, ksub, iters)
    var it = 0
    while (it < opqIters) {
      // Procrustes step on the driver sample: min_R Σ‖R·x − x̂‖² with
      // x̂ the codebook reconstruction of R·x ⇒ R = U·Vᵀ from the SVD
      // of M = Σ x̂ xᵀ
      val mMat = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      sample.foreach { x =>
        val rx = matVec(rot, x)
        val xhat = reconstruct(rx, cb)
        var a = 0
        while (a < d) {
          var b = 0
          while (b < d) { mMat(a, b) += xhat(a) * x(b); b += 1 }
          a += 1
        }
      }
      val svd = breeze.linalg.svd(mMat)
      val r = svd.U * svd.Vt
      rot = Array.tabulate(d, d)((a, b) => r(a, b))
      cb = trainPqRotated(df, idCol, embCol, rot, m, ksub, iters)
      it += 1
    }
    (rot, cb)
  }

  private def matVec(m: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val d = m.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0; var j = 0
      while (j < x.length) { s += m(i)(j) * x(j); j += 1 }
      out(i) = s; i += 1
    }
    out
  }

  /** Codebook reconstruction of a (rotated) vector: per subspace the
    * nearest centroid's values — squared-L2 argmin, ties to the lower
    * code, [[encodePq]]'s exact rule. */
  private def reconstruct(rx: Array[Double], cb: PqCodebooks): Array[Double] = {
    val out = new Array[Double](cb.dims)
    var j = 0
    while (j < cb.m) {
      var bestC = 0; var bestD = Double.MaxValue
      var cdx = 0
      while (cdx < cb.ksub) {
        var dd = 0.0; var t = 0
        while (t < cb.dsub) {
          val diff = rx(j * cb.dsub + t) - cb.codebooks(j)(cdx)(t)
          dd += diff * diff; t += 1
        }
        if (dd < bestD) { bestD = dd; bestC = cdx }
        cdx += 1
      }
      var t = 0
      while (t < cb.dsub) {
        out(j * cb.dsub + t) = cb.codebooks(j)(bestC)(t); t += 1
      }
      j += 1
    }
    out
  }

  /** [[trainPq]] in the rotated space: one distributed Lloyd per
    * subspace over `R · v` — the rotation is a projection below the
    * per-subspace fits, so the corpus-scan economics are [[trainPq]]'s
    * verbatim. */
  private def trainPqRotated(df: DataFrame, idCol: String, embCol: String,
                             rot: Array[Array[Double]], m: Int, ksub: Int,
                             iters: Int): PqCodebooks =
    trainPq(withRotated(df.select(col(idCol), col(embCol)), embCol, rot,
      "train_opq"), idCol, "__rotv", m, ksub, iters)

  /** `df` plus `__rotv` = `rotation · v`: the guard is staged in its own
    * projection (rotateExpr re-evaluates its input once per output
    * dimension). */
  private def withRotated(df: DataFrame, embCol: String,
                          rotation: Array[Array[Double]], ctx: String): DataFrame =
    df.withColumn("__gv", guardedVec(embCol, rotation.length, ctx))
      .withColumn("__rotv", rotateExpr(col("__gv"), rotation))
      .drop("__gv")

  /** The OPQ index: `(idCol, partCol, pq_codes)` where the codes
    * quantize the ROTATED vector — [[buildPqIndex]] behind the learned
    * rotation. The rotation must travel with the index (codes in a
    * rotated space are meaningless without R — the
    * [[writeLearnedIndex]] quantizer-mismatch discipline). */
  def buildOpqIndex(df: DataFrame, idCol: String, embCol: String,
                    partCol: String, rotation: Array[Array[Double]],
                    cb: PqCodebooks): DataFrame = {
    require(rotation.length == cb.dims && rotation.forall(_.length == cb.dims),
      s"rotation must be ${cb.dims}x${cb.dims} to match the codebooks")
    val rotated = df
      .withColumn("__gv", guardedVec(embCol, cb.dims, "build_opq_index"))
      .withColumn("__rotv", rotateExpr(col("__gv"), rotation))
    encodePq(rotated, "__rotv", cb)
      .select(col(idCol), col(partCol), col("pq_codes"))
  }

  /** IVF top-k over an OPQ index with exact re-scoring — [[ivfTopKPq]]
    * with both ADC sides in the ROTATED space: the per-query ADC table
    * precomputes against `R·q` (below the cell join, once per query
    * row), candidates carry rotated-space codes, and stage 2 re-scores
    * the shortlist against the ORIGINAL full-precision vectors (R is
    * orthogonal — the true cosine is rotation-invariant, and scoring
    * originals keeps returned scores bit-comparable across the ANN
    * families). Same rounded-ADC determinism contract and output
    * `(query_id, nn_id, cosine, rank)`. */
  def ivfTopKOpq(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                 idCol: String, embCol: String, partCol: String,
                 rotation: Array[Array[Double]], cb: PqCodebooks, k: Int,
                 candidateFactor: Int = 4): DataFrame = {
    require(rotation.length == cb.dims && rotation.forall(_.length == cb.dims),
      s"rotation must be ${cb.dims}x${cb.dims} to match the codebooks")
    adcTopK(index, corpus,
      withRotated(queries, embCol, rotation, "ivf_top_k_opq"),
      idCol, embCol, partCol, col("__rotv"), cb, k, candidateFactor)
  }

  // Asymmetric squared-L2 distance is served TABLE-DRIVEN (Jégou 2011
  // §V-A): graft.functions.AdcTable precomputes, once per query row
  // BELOW the cell join, the m·ksub table of subvector-to-centroid
  // distances; graft.functions.AdcTableLookup then scores each
  // (query, corpus-code) pair with m array reads instead of m·dsub
  // multiply-adds — the serving hot loop at corpus scale. Identical
  // sequential-sum IEEE order to the fused per-pair loop it replaced
  // (inner over dims ascending, outer over subspaces ascending), the
  // replayable-order discipline the q_ann_pq oracle relies on; the
  // codebook tensor rides as ONE reference object.

  /** One full-precision vector per query id, with duplicate-id conflict
    * detection — the re-scoring contract shared by [[ivfTopKQuantized]]
    * and [[ivfTopKPq]]: duplicate ids are only legal as a probe
    * fan-out (identical vector per id); genuinely different vectors
    * under one id raise instead of silently serving an arbitrary one. */
  private def uniqueQueryVectors(queries: DataFrame, idCol: String,
                                 embCol: String): DataFrame = {
    val vq = xxhash64(col(embCol).cast("array<double>"))
    withNorm(queries.groupBy(col(idCol))
        .agg(first(col(embCol)).as(embCol),
          (min(vq) =!= max(vq)).as("__conflict"))
        .select(col(idCol),
          when(col("__conflict"), raise_error(concat(
            lit("ivf_top_k: conflicting vectors for duplicate query id "),
            col(idCol).cast("string"),
            lit(" - duplicate ids are only legal as the with_probe_labels " +
              "fan-out (identical vector per id)"))))
            .otherwise(col(embCol)).as(embCol)), embCol)
      .select(col(idCol).as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
  }

  /** The ADC shortlist tail of every PQ serve: `adcInput` is the query
    * vector the ADC table is built from (raw, rotated, or the residual to
    * the row's probed cell), evaluated in a projection BELOW the cell
    * join (the join's exchange is the materialization boundary), so the
    * m·ksub·dsub arithmetic runs once per query row and the pair loop is
    * m lookups — PlanSpec pins the shape. Candidates from all probed
    * cells rank in ONE per-query shortlist by the ADC distance ROUNDED to
    * 6 decimals, ties to the lower id (Σ-over-subspaces is
    * aggregation-order-sensitive at the ulp, the reason
    * [[graft.operators.TextIndex.bm25TopK]] rounds its k-cut too); the
    * shortlist then re-scores exact against `corpus`'s full-precision
    * vectors. */
  private def adcTopK(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                      idCol: String, embCol: String, partCol: String,
                      adcInput: Column, cb: PqCodebooks, k: Int,
                      candidateFactor: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(candidateFactor >= 1,
      s"candidateFactor must be positive, got $candidateFactor")
    val q = queries.select(col(partCol).as("part"), col(idCol).as("query_id"),
      graft.functions.Adc.table(adcInput, cb.codebooks).as("__adc_tab"))
    val c = index.select(col(partCol).as("part"), col(idCol).as("nn_id"),
      col("pq_codes"))
    val adcR = floor(graft.functions.Adc.lookup(col("__adc_tab"),
      col("pq_codes").cast("array<int>"), cb.m, cb.ksub) * 1000000.0
      + 0.5) / 1000000.0
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__adc"), col("nn_id"))
    val shortlist = q.join(c, Seq("part"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), adcR.as("__adc"))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k * candidateFactor)
      .select("query_id", "nn_id").distinct() // probe fan-out dedup
    val cx = withNorm(corpus, embCol)
      .select(col(idCol).as("nn_id"), col("vec").as("cv"), col("norm").as("cn"))
    rankTopK(shortlist
      .join(uniqueQueryVectors(queries, idCol, embCol), "query_id")
      .join(cx, "nn_id"), k)
  }

  /** IVF top-k over a PQ index with exact re-scoring — [[
    * ivfTopKQuantized]]'s product form. Stage 1 ranks each query's
    * coarse cell by ASYMMETRIC distance to the code vectors (the
    * resident set is `pq_codes` — 8 bytes/vector at the default
    * geometry, the 32×-vs-fp32 memory story), TABLE-DRIVEN: the
    * [[graft.functions.AdcTable]] precompute runs once per query row
    * below the cell join and the pair loop is m lookups
    * ([[graft.functions.AdcTableLookup]]) — and keeps the
    * `k·candidateFactor` shortlist; stage 2 joins ONLY the shortlist
    * back to the full-precision corpus vectors and returns the
    * exact-cosine top k — quantization error affects which candidates
    * are CONSIDERED, never the returned scores.
    *
    * The rounded-ADC determinism contract is [[adcTopK]]'s; output
    * matches the other top-k forms: `(query_id, nn_id, cosine, rank)`.
    *
    * A lazy [[buildPqIndex]] `index` is fine for a one-shot: the encode
    * is the native [[graft.functions.NearestCentroid]] loop (cheap, and
    * evaluated once per corpus row — the projection sits below the cell
    * join). A deployment still persists the code table and serves from
    * it ([[qAnnPqServed]]'s shape) so the corpus is encoded once, not
    * once per query batch. */
  def ivfTopKPq(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                idCol: String, embCol: String, partCol: String,
                cb: PqCodebooks, k: Int,
                candidateFactor: Int = 4): DataFrame =
    adcTopK(index, corpus, queries, idCol, embCol, partCol,
      guardedVec(embCol, cb.dims, "ivf_top_k_pq"), cb, k, candidateFactor)

  /** IVF top-k over the int8-quantized index with exact re-scoring — the
    * quantizer's product form. Stage 1 ranks each query's coarse partition
    * by the cosine of the CODE vectors (for symmetric per-vector scaling
    * the scales cancel out of the cosine, so the score needs only the
    * 4×-smaller `q8` codes — at 100 TB that index, not the fp32 vectors,
    * is the resident working set) and keeps the top `k·candidateFactor`
    * candidates; stage 2 joins ONLY those candidates back to the
    * full-precision vectors by id — the shortlist page-in of a real
    * deployment — and returns the exact-cosine top `k`. Quantization
    * perturbs each cosine by O(1/127), far below typical inter-rank gaps;
    * `candidateFactor` buys slack where gaps are tight (recall vs the
    * exact path is asserted 1.0 at test settings in TrainingOpsSpec and
    * oracle-checked by q_ann_ivf_q8). */
  def ivfTopKQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                       embCol: String, partCol: String, k: Int,
                       candidateFactor: Int = 4): DataFrame =
    ivfTopKQuantized(buildQuantizedIndex(corpus, idCol, embCol, partCol),
      corpus, queries, idCol, embCol, partCol, k, candidateFactor)

  /** The int8 index as a persistable frame: `(idCol, partCol, q8, q8_scale)`.
    * A real deployment quantizes the corpus ONCE, writes this to parquet,
    * and serves every query batch from it via the index-taking
    * [[ivfTopKQuantized]] overload — re-quantizing 100 TB per query batch
    * would dwarf the search itself. Codes are integers, so the parquet
    * round-trip is exact and the served top-k is bit-identical to the
    * inline path (pinned by TrainingOpsSpec). */
  def buildQuantizedIndex(df: DataFrame, idCol: String, embCol: String,
                          partCol: String): DataFrame =
    quantizeInt8(df, embCol)
      .select(col(idCol), col(partCol), col("q8"), col("q8_scale"))

  /** Persist a [[buildQuantizedIndex]] frame in the SERVING layout: a
    * parquet table partitioned by the coarse cell. This is the IVF
    * counterpart of [[graft.operators.Dedup.writeBandedIndex]]'s bucketed
    * layout, aimed at the other axis: a banded dedup serve touches the
    * whole index (any doc can collide), so it optimizes the SHUFFLE; an
    * IVF serve only ever needs the probed cells, so the win is partition
    * PRUNING — the directory layout lets a query batch read just those
    * cells' files and skip the rest of a 100 TB index at the file
    * listing, before a single byte is scanned. Crash story: unlike the
    * banded dedup index there is no table PAIR to keep consistent — one
    * overwrite of one directory — so a crashed write is recovered by
    * re-running it (parquet overwrite is not atomic; serve from a path
    * only after its writer completed, the standard `_SUCCESS` contract —
    * which [[ivfTopKQuantizedPruned]] ENFORCES, refusing a marker-less
    * path instead of silently serving missing cells).
    * Growth, for THIS plain layout: rebuild, deliberately — the labels
    * are caller-managed, so an append path here would let labels induced
    * by a different quantizer into the same directory with no way to
    * tell. The LEARNED layout ([[writeLearnedIndex]]), whose quantizer
    * rides with the index, does support incremental growth: per-batch
    * [[appendToLearnedIndex]] under the epoch-commit machinery, labels
    * always from the committed centroids (consistent by construction),
    * [[assignmentDrift]]-gated [[refreshLearnedIndex]] as the re-train
    * trigger, and [[compactLearnedIndex]] to restore the file layout
    * after N ingest cycles. */
  def writeIvfIndex(index: DataFrame, path: String, partCol: String): Unit =
    // repartition by the cell first: a plain partitionBy write emits one
    // file per cell per WRITING TASK — files/cell grows with the corpus
    // partition count (the classic partitionBy small-files trap) and a
    // pruned read pays per-file overhead proportional to corpus size.
    // Cell-hashed repartitioning makes it ~one file per cell; a cell too
    // big for one file is the caller's cue to pre-repartition by
    // (cell, salt) for N files per cell.
    index.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** [[ivfTopKQuantized]] served from a [[writeIvfIndex]] layout with
    * STATIC partition pruning: the probed cells are collected from the
    * query batch (bounded by the number of centroids — ≤ the k-means k
    * cap, a driver-side read of bytes, not data) and pushed into the
    * index read as a partition filter, so only those cells' files are
    * listed and scanned. Dropping the unprobed cells is exact, not a
    * recall trade: stage 1 joins on the cell, so an unprobed cell can
    * never contribute a candidate — results are identical to serving the
    * full index (spec-pinned, along with the pruned scan shape).
    * Composes with [[withProbeLabels]] exactly like the in-memory path.
    *
    * Commit validation: parquet overwrite is not atomic, and a partial
    * index directory from a crashed [[writeIvfIndex]] would serve
    * SILENTLY with missing cells — recall loss with no error, the failure
    * class this library forbids. Serving therefore requires the
    * `_SUCCESS` marker the default committer writes on completion and
    * refuses the path loudly without it (the IVF counterpart of the
    * banded dedup index's epoch-commit probe). Deployments that disable
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs` must not, for
    * indexes served by this path — the marker IS the commit record. */
  def ivfTopKQuantizedPruned(indexPath: String, corpus: DataFrame,
                             queries: DataFrame, idCol: String, embCol: String,
                             partCol: String, k: Int,
                             candidateFactor: Int = 4): DataFrame = {
    EpochLog.requireMarker(queries.sparkSession, indexPath,
      "ivf_top_k_quantized_pruned", "re-run writeIvfIndex before serving")
    val (q, index) = probedCells(indexPath, queries, partCol,
      "ivfTopKQuantizedPruned")
    ivfTopKQuantized(index, corpus, q, idCol, embCol, partCol, k,
      candidateFactor)
  }

  /** A probed query batch materialized once, and the index rows at
    * `indexPath` of just its cells. The batch is read three times per
    * serve (cells probe, stage-1 side, exact re-score) and a
    * [[withProbeLabels]] frame carries the k·dims labeling in its plan,
    * so the labeling runs once, not three times (the batch is the small
    * side). The cell filter is a partition filter: unprobed cells' files
    * are skipped at the listing. */
  private def probedCells(indexPath: String, queries: DataFrame,
                          partCol: String, who: String): (DataFrame, DataFrame) = {
    val q = Materialize.eagerCheckpoint(queries)
    val cells = q.select(col(partCol)).distinct().collect().map(_.get(0))
    require(cells.nonEmpty, s"$who: empty query batch")
    (q, queries.sparkSession.read.parquet(indexPath)
      .filter(col(partCol).isin(cells.toSeq: _*)))
  }

  /** [[ivfTopKQuantized]] over a prebuilt [[buildQuantizedIndex]] frame
    * (e.g. read back from parquet). `corpus` supplies the fp32 vectors for
    * the exact re-scoring of the shortlist only — the index is the
    * resident set; queries are quantized inline (they're the small side).
    * Composes with [[withProbeLabels]] for the multi-probe recall dial:
    * pass the probed frame as `queries` with `partCol = "coarse"` —
    * stage 1's per-cell join unions the probed cells' candidates per
    * query, and re-scoring dedups the probe fan-out (spec-pinned). */
  def ivfTopKQuantized(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                       idCol: String, embCol: String, partCol: String, k: Int,
                       candidateFactor: Int): DataFrame = {
    def side(ix: DataFrame, as: String): DataFrame =
      ix.select(col(partCol).as("part"), col(idCol).as(as),
          col("q8").cast("array<double>").as(s"${as}_q8"))
        .withColumn(s"${as}_n8", sqrt(dot(col(s"${as}_q8"), col(s"${as}_q8"))))
    val approx = side(buildQuantizedIndex(queries, idCol, embCol, partCol), "query_id")
      .join(side(index, "nn_id"), Seq("part"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        when(col("query_id_n8") === 0.0 || col("nn_id_n8") === 0.0, 0.0)
          .otherwise(dot(col("query_id_q8"), col("nn_id_q8")) /
            (col("query_id_n8") * col("nn_id_n8"))).as("approx_cosine"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx_cosine").desc, col("nn_id"))
    val shortlist = approx.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k * candidateFactor)
      .select("query_id", "nn_id")
    val cx = withNorm(corpus, embCol)
      .select(col(idCol).as("nn_id"), col("vec").as("cv"), col("norm").as("cn"))
    // one row per query id: a MULTI-PROBE query frame carries one row per
    // probed cell, and re-joining it here by id alone would duplicate
    // every shortlist row nprobe times and corrupt the rank window. Stage
    // 1 already excluded self-pairs, so the shared tail's filter is a
    // no-op here.
    rankTopK(shortlist.join(uniqueQueryVectors(queries, idCol, embCol),
      "query_id").join(cx, "nn_id"), k)
  }

  /** Outcome of one [[refreshLearnedIndex]] cycle: the measured drift
    * fraction and whether it crossed the tolerance and triggered a
    * rebuild. */
  final case class IvfRefresh(drift: Double, rebuilt: Boolean)

  // ---------------------------------------------------------------------
  // THE LEARNED-IVF FAMILY — one on-disk protocol for three payloads.
  // Data rows are `(id, coarse, <payload>, build_id)` partitioned by the
  // coarse cell ([[writeIvfIndex]]'s pruned layout); the payload is int8
  // codes (`q8`, `q8_scale`) or residual PQ codes (`pq_codes`, in the
  // rotated space for OPQ). The quantizer rides beside the rows as
  // sidecar tables ([[QuantizerTables]]), each under its own `_SUCCESS`,
  // and the directory [[EpochLog]] commits the rows. Every entry point
  // reads the quantizer — and with it the payload kind — from the path,
  // so the quantizer-mismatch class (labels induced by another centroid
  // matrix, codes decoded against codebooks they were not built from,
  // rotated codes served unrotated: eroded recall or silently garbage
  // distances) cannot be built through this API. Callers thread nothing.
  //
  // Crash story: [[EpochLog]]'s. A build writes the data, then each
  // sidecar, then the commit record LAST ([[writeLearnedIndex]]); the
  // data overwrite deletes the whole directory, record and sidecars
  // included, so a crash anywhere in a rebuild leaves a path every entry
  // point refuses (the loader's markers, or the missing record) —
  // unavailable until re-run, never wrong. Deployments that need the old
  // index live during a rebuild write a fresh path and swap a pointer.
  // Single writer: do not append, delete, compact or refresh one path
  // concurrently.
  // ---------------------------------------------------------------------

  /** Which quantizer a learned layout holds. */
  sealed trait IvfKind
  object IvfKind {
    /** Coarse cells + int8 codes. */
    case object Int8 extends IvfKind
    /** Coarse cells + residual PQ codes (Jégou 2011 §V-C, FAISS `IVF,PQ`). */
    case object Pq extends IvfKind
    /** A learned rotation, then rotated-space cells + residual PQ codes
      * (Ge et al. 2013, FAISS `OPQ,IVF,PQ`). */
    case object Opq extends IvfKind
  }

  /** A learned layout's quantizer: the coarse centroids every kind has,
    * the residual PQ codebooks of the PQ kinds, and the orthogonal
    * rotation of OPQ — a rotation only ever rides with codebooks. The
    * centroids and codebooks of a rotated quantizer live in the ROTATED
    * space (fit them on rotated vectors: [[fitRotatedQuantizer]]). */
  final case class IvfQuantizer(centroids: Array[Array[Double]],
                                codebooks: Option[PqCodebooks] = None,
                                rotation: Option[Array[Array[Double]]] = None) {
    private val dims = checkCentroids(centroids)
    codebooks.foreach(cb => require(cb.dims == dims,
      s"centroid dims $dims != codebook dims ${cb.dims}"))
    require(rotation.isEmpty || codebooks.isDefined,
      "a rotation rides only with residual codebooks (the OPQ kind)")
    rotation.foreach(r => require(r.length == dims && r.forall(_.length == dims),
      s"rotation must be ${dims}x$dims to match the codebooks"))

    def kind: IvfKind =
      if (rotation.isDefined) IvfKind.Opq
      else if (codebooks.isDefined) IvfKind.Pq
      else IvfKind.Int8

    /** `df` in this quantizer's space: `(df, embCol)` unrotated, else `df`
      * plus `__rotv` = R·v. */
    private[Similarity] def inSpace(df: DataFrame, embCol: String,
                                    ctx: String): (DataFrame, String) =
      rotation.fold((df, embCol))(r => (withRotated(df, embCol, r, ctx), "__rotv"))

    /** `(idCol, coarse, payload)` index rows of `df`. */
    private[Similarity] def encode(df: DataFrame, idCol: String, embCol: String,
                                   ctx: String): DataFrame = codebooks match {
      case None =>
        buildQuantizedIndex(withCoarseLabel(df, embCol, centroids), idCol,
          embCol, "coarse")
      case Some(cb) =>
        val (rows, v) = inSpace(df.select(col(idCol), col(embCol)), embCol, ctx)
        buildPqIndexResidual(rows, idCol, v, centroids, cb)
    }
  }

  private val Rebuilder = "writeLearnedIndex"

  /** Persist a learned layout: the corpus encoded by `quantizer` and
    * written partitioned by its coarse cell, then `_centroids`, then the
    * quantizer's other sidecars (`_pq_codebooks`, then `_rotation`), then
    * the [[EpochLog]] record LAST — every row carries the `build_id` of
    * the build or append that wrote it, and the record lists the
    * committed ones. */
  def writeLearnedIndex(corpus: DataFrame, idCol: String, embCol: String,
                        path: String, quantizer: IvfQuantizer): Unit = {
    val epoch = EpochLog.newEpoch()
    writeIvfIndex(quantizer.encode(corpus, idCol, embCol, "write_learned_index")
        .withColumn("build_id", lit(epoch)),
      path, "coarse")
    val spark = corpus.sparkSession
    QuantizerTables.Centroids.write(spark, path, quantizer.centroids)
    quantizer.codebooks.foreach(QuantizerTables.Codebooks.write(spark, path, _))
    quantizer.rotation.foreach(QuantizerTables.Rotation.write(spark, path, _))
    // the commit record LAST, so its epoch has a complete quantizer too
    EpochLog.directory(spark, path).overwrite(epoch)
  }

  /** The quantizer a [[writeLearnedIndex]] path holds, its kind read from
    * the path: a `_pq_codebooks` sidecar makes it a PQ kind, a
    * `_rotation` the OPQ kind. The data, `_centroids` and every sidecar
    * present must carry their `_SUCCESS`; a missing one refuses loudly,
    * naming `op` and the rebuilder. A crash before a sidecar's write
    * began leaves no sidecar and no commit record, so every entry point
    * (all of which require a committed epoch) refuses that state too. */
  def loadLearnedIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       op: String = "load_learned_index"): IvfQuantizer = {
    EpochLog.requireMarker(spark, path, op, s"re-run $Rebuilder")
    EpochLog.requireMarker(spark, QuantizerTables.Centroids.at(path), op,
      s"the index data committed but its coarse quantizer did not - re-run " +
        s"$Rebuilder (an index written by plain writeIvfIndex has no riding " +
        "quantizer; serve it via ivfTopKQuantizedPruned with caller-managed " +
        "labels instead)")
    def sidecar[V](at: String, what: String)(read: => V): Option[V] =
      if (!QuantizerTables.present(spark, at)) None
      else {
        EpochLog.requireMarker(spark, at, op, s"the index data committed " +
          s"but its $what did not - re-run $Rebuilder")
        Some(read)
      }
    val cb = sidecar(QuantizerTables.Codebooks.at(path), "residual codebooks")(
      QuantizerTables.Codebooks.read(spark, path))
    val rot = sidecar(QuantizerTables.Rotation.at(path), "rotation")(
      QuantizerTables.Rotation.read(spark, path))
    IvfQuantizer(QuantizerTables.Centroids.read(spark, path), cb, rot)
  }

  /** The quantizer, log and committed epochs of a learned path — refuses
    * a half-written or never-committed path before any work is spent. */
  private def openLearned(spark: org.apache.spark.sql.SparkSession,
                          path: String, op: String)
      : (IvfQuantizer, EpochLog, Seq[Long]) = {
    val q = loadLearnedIndex(spark, path, op)
    val log = EpochLog.directory(spark, path)
    (q, log, log.committed(op, Rebuilder))
  }

  /** Serve a learned path end to end: queries move into the quantizer's
    * space (OPQ rotates them once), fan out to their `nprobe` nearest
    * cells ([[withProbeLabels]] — the recall dial), and the probed cells
    * are partition-pruned into the index read (only their files are
    * listed and scanned — exact, not a recall trade: the shortlist joins
    * on the cell). Rows are the [[EpochLog]]'s live rows: committed
    * epochs only (a crashed append's orphans are invisible), committed
    * [[deleteFromLearnedIndex]] tombstones anti-joined out. The shortlist
    * is the int8 code cosine ([[ivfTopKQuantized]]) or the per-cell
    * residual ADC ([[adcTopK]]), re-scored EXACT against `corpus`'s
    * original full-precision vectors — R is orthogonal, so scores stay
    * bit-comparable across the kinds. Output `(query_id, nn_id, cosine,
    * rank)`.
    *
    * RECALL GUIDANCE (measured, bench_scale_recall.json): on clustered
    * corpora the residual-PQ m=8/ksub=16 geometry recalls ~0.93@10 at
    * the default `candidateFactor` — near the int8 tier at 9× less
    * memory. On UNSTRUCTURED (near-uniform) vectors 8 bytes over 64
    * dims is honestly lossy (~0.44@10 probing every cell); the
    * artifact's `pq_dial` table is the dial — more code bytes (m) and
    * a deeper shortlist (`candidateFactor` 4 → 16) buy recall back at
    * rescore cost. */
  def serveLearnedIndex(indexPath: String, corpus: DataFrame,
                        queries: DataFrame, idCol: String, embCol: String,
                        k: Int, nprobe: Int = 2,
                        candidateFactor: Int = 4): DataFrame = {
    val op = "serve_learned_index"
    val spark = queries.sparkSession
    val (quant, log, committed) = openLearned(spark, indexPath, op)
    val (q, v) = quant.inSpace(queries, embCol, op)
    val (probed, cells) = probedCells(indexPath,
      withProbeLabels(q, v, quant.centroids, nprobe), "coarse",
      "serveLearnedIndex")
    val index = log.liveRows(cells, idCol, committed)
    quant.codebooks match {
      case None => ivfTopKQuantized(index, corpus, probed, idCol, embCol,
        "coarse", k, candidateFactor)
      case Some(cb) => adcTopK(index, corpus, probed, idCol, embCol, "coarse",
        residualExpr(guardedVec(v, cb.dims, op), col("coarse"), quant.centroids),
        cb, k, candidateFactor)
    }
  }

  /** Incremental GROWTH of a learned layout: encode the new vectors with
    * the index's OWN riding quantizer and append them into the per-cell
    * partitions under a fresh committed epoch — new data is servable at
    * once, while the drift gate ([[refreshLearnedIndex]]) decides when
    * the layout is re-learned. Appended rows match the served layout by
    * construction. One file lands per touched cell (cell-hashed
    * repartition); [[compactLearnedIndex]] restores ~one per cell.
    *
    * With a `key` the append is for AT-LEAST-ONCE callers (Structured
    * Streaming's `foreachBatch` replays a batch id after a restart): a
    * committed key no-ops and returns false, a crashed attempt's retry
    * lands exactly once ([[EpochLog]]'s keyed-retry story). True when
    * rows were appended.
    *
    * `newRows` must be NEW ids: a re-embedded row goes through
    * [[deleteFromLearnedIndex]] + append, or a rebuild; a duplicate id
    * would serve both versions. [[compactLearnedIndex]] enforces it,
    * where the full read is already paid — not here, where it would cost
    * a full index scan per append. */
  def appendToLearnedIndex(newRows: DataFrame, indexPath: String,
                           idCol: String, embCol: String,
                           key: Option[String] = None): Boolean = {
    val op = "append_to_learned_index"
    val (quant, log, _) = openLearned(newRows.sparkSession, indexPath, op)
    if (key.exists(log.keyCommitted(_, op, Rebuilder))) false
    else {
      val epoch = EpochLog.newEpoch()
      quant.encode(newRows, idCol, embCol, op)
        .withColumn("build_id", lit(epoch))
        .repartition(col("coarse"))
        .write.mode("append").partitionBy("coarse").parquet(indexPath)
      log.append(epoch, key)
      true
    }
  }

  /** DELETE ids from a learned path without touching its files — the
    * takedown shape: a removal request arrives as IDS, not vectors, and
    * rewriting a cell's parquet per request is the cost this avoids.
    * The ids become epoch-scoped [[EpochLog]] tombstones, so
    * delete-then-re-append serves the re-added row;
    * [[compactLearnedIndex]] makes the deletion PHYSICAL. Deleting an id
    * that was never indexed is a harmless no-op. */
  def deleteFromLearnedIndex(ids: DataFrame, indexPath: String,
                             idCol: String): Unit = {
    val op = "delete_from_learned_index"
    loadLearnedIndex(ids.sparkSession, indexPath, op)
    EpochLog.directory(ids.sparkSession, indexPath).tombstone(
      ids.select(col(idCol)), op, Rebuilder)
  }

  /** COMPACTION of a learned layout: merge every committed epoch into ONE
    * fresh epoch by rewriting the stored rows — payload, labels and
    * sidecars untouched, nothing re-embedded or re-encoded. Restores ~one
    * file per cell, so a pruned serve after N ingest cycles stops
    * listing N files per probed cell. The swap is [[EpochLog.compact]]
    * (snapshot → merge → recommit → GC), so compaction doubles as the
    * garbage collector for crashed appends, and tombstoned rows are
    * dropped from the merged epoch. The merge checks the append
    * path's new-ids-only precondition after deletion is applied (so
    * delete-then-re-append compacts cleanly) and raises on a duplicate
    * id instead of serving two versions of a row forever. */
  def compactLearnedIndex(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, idCol: String): Unit = {
    val op = "compact_learned_index"
    loadLearnedIndex(spark, indexPath, op)
    val log = EpochLog.directory(spark, indexPath)
    log.compact(op, Rebuilder, indexPath) { (committed, epoch, snapshot) =>
      // data files live under the coarse=N partition directories
      val files = snapshot.head
      require(files.nonEmpty, s"$op: no data files under $indexPath " +
        s"(crashed rebuild?) - re-run $Rebuilder")
      // basePath recovers the coarse partition column from the directory
      // names of the explicit file list
      val committedRows = log.committedRows(
        spark.read.option("basePath", indexPath).parquet(files: _*), committed)
      require(committedRows.select(lit(1)).limit(1).collect().nonEmpty,
        s"$op: no committed rows under $indexPath (crashed rebuild?) - " +
          s"re-run $Rebuilder")
      val old = log.withoutTombstones(committedRows, idCol, committed)
      val dup = old.groupBy(col(idCol)).count().filter(col("count") > 1)
        .select(col(idCol)).limit(1).collect()
      require(dup.isEmpty,
        s"$op: duplicate id ${dup.headOption.map(_.get(0)).getOrElse("")} " +
          "across committed epochs - appendToLearnedIndex is for NEW ids; " +
          "re-embedded rows go through refreshLearnedIndex (rebuild) or " +
          "deleteFromLearnedIndex + append")
      old.withColumn("build_id", lit(epoch))
        .repartition(col("coarse"))
        .write.mode("append").partitionBy("coarse").parquet(indexPath)
    }
  }

  /** The fit sequence of each kind, shared by the build verbs and a
    * refresh's rebuild: [[kmeansFit]] for the coarse cells; for the PQ
    * kinds then [[trainPqResidual]] on those cells; for OPQ
    * [[trainOpq]]'s rotation FIRST and both fits in the rotated space
    * ([[fitRotatedQuantizer]]). `m`/`ksub` are the PQ geometry and
    * `opqIters`/`sampleRows` the rotation's dials; a kind ignores the
    * dials it has no use for. */
  def fitIvfQuantizer(kind: IvfKind, corpus: DataFrame, idCol: String,
                      embCol: String, k: Int, m: Int = 8, ksub: Int = 16,
                      iters: Int = 5, opqIters: Int = 2,
                      sampleRows: Int = 10000): IvfQuantizer = kind match {
    case IvfKind.Opq =>
      val (rot, _) = trainOpq(corpus, idCol, embCol, m = m, ksub = ksub,
        iters = iters, opqIters = opqIters, sampleRows = sampleRows)
      fitRotatedQuantizer(corpus, idCol, embCol, rot, k, m, ksub, iters)
    case _ =>
      fitOnCentroids(kind, corpus, idCol, embCol,
        kmeansFit(corpus, idCol, embCol, k, iters), m, ksub, iters)
  }

  /** An unrotated kind's quantizer over given coarse `centroids`. */
  private def fitOnCentroids(kind: IvfKind, corpus: DataFrame, idCol: String,
                             embCol: String, centroids: Array[Array[Double]],
                             m: Int, ksub: Int, iters: Int): IvfQuantizer =
    IvfQuantizer(centroids,
      if (kind == IvfKind.Int8) None
      else Some(trainPqResidual(corpus, idCol, embCol, centroids, m, ksub, iters)))

  /** The OPQ fit past its rotation step: the coarse cells and residual
    * codebooks fit on `rotation · v`. */
  private[graft] def fitRotatedQuantizer(corpus: DataFrame, idCol: String,
                                         embCol: String,
                                         rotation: Array[Array[Double]],
                                         k: Int, m: Int, ksub: Int,
                                         iters: Int): IvfQuantizer = {
    val rotated = withRotated(corpus.select(col(idCol), col(embCol)), embCol,
      rotation, "fit_ivf_quantizer")
    val cents = kmeansFit(rotated, idCol, "__rotv", k, iters)
    IvfQuantizer(cents,
      Some(trainPqResidual(rotated, idCol, "__rotv", cents, m, ksub, iters)),
      Some(rotation))
  }

  /** One turn of the learned layout's growth cycle — "rebuild
    * deliberately on drift": refit the coarse quantizer on the CURRENT
    * corpus, measure [[assignmentDrift]] of the SERVED index's stored
    * labels against it (the share of indexed vectors a rebuild would
    * move — the recall-erosion bound a stale layout carries), and rebuild
    * with the stored kind ([[fitIvfQuantizer]], then
    * [[writeLearnedIndex]]) only past `driftTolerance`. Below it the
    * index is untouched: the cycle's steady-state cost is the fit plus a
    * bounded sample probe, never a write.
    *
    * Drift is measured where the cells live: in the STORED rotation's
    * space (no rotation step for the unrotated kinds). `k`, `m` and
    * `ksub` = 0 keep the index's own cell count and PQ geometry, read
    * from its riding quantizer, so a scheduler's loop cannot
    * re-parameterize the index through a mismatched default (an explicit
    * `k` that disagrees reads as heavy drift and rebuilds at the new
    * granularity). A rebuild re-encodes the whole corpus: codes are
    * derived data, cell-conditional, and patching them against moved
    * centroids would decode them with codebooks they were not built
    * from. The unrotated kinds rebuild on the drift fit's centroids when
    * that fit saw the full corpus; OPQ retrains its rotation first (a
    * drifted corpus has a drifted second moment), then refits.
    *
    * Drift counts committed, non-tombstoned rows present in both the
    * index and `corpus`; corpus rows not yet indexed don't drift, but
    * they pull the refit centroids, which is how growth shows as drift.
    * A disjoint index/corpus fails loudly rather than reading as "no
    * drift". Drift is a LAYOUT metric: it compares label identity, so an
    * unchanged corpus reads 0.0 ([[kmeansFit]] is deterministic per
    * corpus), a rigid translation of a whole cloud reads 0 (corpora that
    * RE-EMBED in place should gate on update volume too), and a refit
    * on a shifted corpus may renumber clusters, which reads as drift —
    * conservative: a spurious trigger costs one rebuild.
    *
    * `fitSampleRows > 0` runs the drift-probe fit on a bounded md5
    * sample ([[fitInput]]); a triggered rebuild always refits on the
    * full corpus. Returns the measured drift and whether a rebuild
    * happened, so schedulers can log the trajectory. */
  def refreshLearnedIndex(indexPath: String, corpus: DataFrame, idCol: String,
                          embCol: String, k: Int = 0, m: Int = 0,
                          ksub: Int = 0, iters: Int = 5, opqIters: Int = 2,
                          driftTolerance: Double = 0.1,
                          sampleRows: Int = 10000,
                          fitSampleRows: Int = 0): IvfRefresh = {
    require(driftTolerance >= 0.0 && driftTolerance <= 1.0,
      s"driftTolerance must be in [0, 1], got $driftTolerance")
    require(k >= 0, s"k must be 0 (keep the index's cell count) or positive, got $k")
    require(m >= 0 && ksub >= 0,
      s"m/ksub must be 0 (keep the index's geometry) or positive, got m=$m ksub=$ksub")
    val op = "refresh_learned_index"
    val spark = corpus.sparkSession
    val (stored, log, committed) = openLearned(spark, indexPath, op)
    val kEff = if (k == 0) stored.centroids.length else k
    val (space, v) = stored.inSpace(corpus.select(col(idCol), col(embCol)),
      embCol, op)
    val cents = kmeansFit(fitInput(space, idCol, v, fitSampleRows), idCol, v,
      kEff, iters)
    // committed, non-tombstoned rows only: a crashed append's orphan
    // labels must not leak into the drift sample any more than into a
    // serve, and a deleted row's stale label is not drift — it is gone
    val sampled = log.liveRows(spark.read.parquet(indexPath), idCol, committed)
      .select(col(idCol), col("coarse"))
      .join(space, Seq(idCol))
    val drift = assignmentDrift(sampled, idCol, v, "coarse", cents, sampleRows)
    if (drift <= driftTolerance) IvfRefresh(drift, rebuilt = false)
    else {
      val mEff = if (m == 0) stored.codebooks.fold(0)(_.m) else m
      val ksubEff = if (ksub == 0) stored.codebooks.fold(0)(_.ksub) else ksub
      val fresh =
        if (fitSampleRows == 0 && stored.rotation.isEmpty)
          fitOnCentroids(stored.kind, corpus, idCol, embCol, cents, mEff,
            ksubEff, iters)
        else fitIvfQuantizer(stored.kind, corpus, idCol, embCol, kEff, mEff,
          ksubEff, iters, opqIters, sampleRows)
      writeLearnedIndex(corpus, idCol, embCol, indexPath, fresh)
      IvfRefresh(drift, rebuilt = true)
    }
  }

  /** The `fitSampleRows` dial of [[refreshLearnedIndex]]: 0 = the fit
    * scans the FULL corpus every Lloyd iteration (an honest but expensive
    * drift number: a scheduler running nightly no-op refreshes pays a
    * full k-means each time to learn nothing changed); > 0 = the
    * drift-probe's fresh fit runs on a bounded md5-prefix sample of the
    * corpus (the [[kmeansFit]] seeding sample's own selection rule,
    * materialized once so the Lloyd iterations never rescan the corpus).
    * Deterministic per corpus, like everything downstream of it.
    *
    * The trade is a small LABEL-NOISE FLOOR: the stored index was built
    * from a full fit, so a sampled refit's centroids sit slightly off
    * and a few boundary rows read as drifted even on an unchanged
    * corpus — size `driftTolerance` above that floor (well-separated
    * corpora read 0.0 either way; the spec pins decision agreement on a
    * planted migration). */
  private def fitInput(corpus: DataFrame, idCol: String, embCol: String,
                       fitSampleRows: Int): DataFrame = {
    require(fitSampleRows >= 0,
      s"fitSampleRows must be 0 (full-corpus fit) or positive, got $fitSampleRows")
    if (fitSampleRows == 0) corpus
    else Materialize.eagerCheckpoint(
      corpus
        .select(col(idCol), col(embCol),
          md5(col(idCol).cast("string").cast("binary")).as("__h"))
        .orderBy("__h").limit(fitSampleRows)
        .drop("__h"))
  }
}
