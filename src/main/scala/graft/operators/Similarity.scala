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
    pqResidualServe(index, corpus,
      withProbeLabels(queries, embCol, centroids, nprobe),
      idCol, embCol, centroids, cb, k, candidateFactor)
  }

  /** The shared residual-PQ serving tail: `probed` carries one row per
    * (query, probed cell) — [[withProbeLabels]] output — and each row
    * gets its own per-cell residual ADC table below the cell join.
    * [[uniqueQueryVectors]] handles the probe fan-out on the re-score
    * side (identical vector per id; conflicting vectors raise). */
  private def pqResidualServe(index: DataFrame, corpus: DataFrame,
                              probed: DataFrame, idCol: String,
                              embCol: String,
                              centroids: Array[Array[Double]],
                              cb: PqCodebooks, k: Int,
                              candidateFactor: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(candidateFactor >= 1,
      s"candidateFactor must be positive, got $candidateFactor")
    val q = probed
      .select(col("coarse").as("part"), col(idCol).as("query_id"),
        graft.functions.Adc.table(
          residualExpr(guardedVec(embCol, cb.dims, "ivf_top_k_pq_residual"),
            col("coarse"), centroids),
          cb.codebooks).as("__adc_tab"))
    val c = index.select(col("coarse").as("part"), col(idCol).as("nn_id"),
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
      .join(uniqueQueryVectors(probed, idCol, embCol), "query_id")
      .join(cx, "nn_id"), k)
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
    * nothing, the [[writeLearnedPqIndex]] quantizer-mismatch
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
                             iters: Int): PqCodebooks = {
    val d = rot.length
    // guard staged in its own projection: rotateExpr re-evaluates its
    // input once per output dimension
    val rotated = df
      .select(col(idCol), guardedVec(embCol, d, "train_opq").as("__gv"))
      .select(col(idCol), rotateExpr(col("__gv"), rot).as("__rotv"))
    trainPq(rotated, idCol, "__rotv", m, ksub, iters)
  }

  /** The OPQ index: `(idCol, partCol, pq_codes)` where the codes
    * quantize the ROTATED vector — [[buildPqIndex]] behind the learned
    * rotation. The rotation must travel with the index (codes in a
    * rotated space are meaningless without R — the
    * [[writeLearnedPqIndex]] quantizer-mismatch discipline). */
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
    require(k >= 1, s"k must be positive, got $k")
    require(candidateFactor >= 1,
      s"candidateFactor must be positive, got $candidateFactor")
    require(rotation.length == cb.dims && rotation.forall(_.length == cb.dims),
      s"rotation must be ${cb.dims}x${cb.dims} to match the codebooks")
    val q = queries
      .select(col(partCol).as("part"), col(idCol).as("query_id"),
        guardedVec(embCol, cb.dims, "ivf_top_k_opq").as("__gv"))
      .select(col("part"), col("query_id"),
        graft.functions.Adc.table(rotateExpr(col("__gv"), rotation),
          cb.codebooks).as("__adc_tab"))
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
      .select("query_id", "nn_id").distinct()
    val cx = withNorm(corpus, embCol)
      .select(col(idCol).as("nn_id"), col("vec").as("cv"), col("norm").as("cn"))
    rankTopK(shortlist
      .join(uniqueQueryVectors(queries, idCol, embCol), "query_id")
      .join(cx, "nn_id"), k)
  }

  /** The full production OPQ composition (FAISS's `OPQ..,IVF..,PQ..`
    * factory string): rotate ([[rotateExpr]]) → coarse-assign in the
    * ROTATED space → residual-encode with rotated-space codebooks →
    * persist partitioned by cell with ALL THREE quantizers riding —
    * `_rotation` + `_centroids` + `_pq_codebooks`, each under its own
    * `_SUCCESS`, the [[EpochLog]] record written LAST. Serving
    * ([[serveOpqIndex]]) derives everything from the path, so the
    * rotated-codes-served-unrotated mismatch class — silently garbage
    * distances — is unconstructable through this API (and
    * [[loadPqQuantizers]] refuses an OPQ layout loudly, see there).
    * `centroids` and `cb` must live in the ROTATED space (train them on
    * `rotateExpr`-projected vectors — [[trainOpq]] supplies the
    * rotation; the coarse fit and [[trainPqResidual]] run on the
    * rotated column). */
  def writeLearnedOpqIndex(corpus: DataFrame, idCol: String, embCol: String,
                           path: String, rotation: Array[Array[Double]],
                           centroids: Array[Array[Double]],
                           cb: PqCodebooks): Unit = {
    require(rotation.length == cb.dims && rotation.forall(_.length == cb.dims),
      s"rotation must be ${cb.dims}x${cb.dims} to match the codebooks")
    require(checkCentroids(centroids) == cb.dims,
      s"centroid dims ${centroids.head.length} != codebook dims ${cb.dims}")
    val epoch = EpochLog.newEpoch()
    val rotated = corpus
      .withColumn("__gv", guardedVec(embCol, cb.dims, "write_learned_opq_index"))
      .select(col(idCol), rotateExpr(col("__gv"), rotation).as("__rotv"))
    writeIvfIndex(
      buildPqIndexResidual(rotated, idCol, "__rotv", centroids, cb)
        .withColumn("build_id", lit(epoch)),
      path, "coarse")
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
    (for (j <- cb.codebooks.indices; c <- cb.codebooks(j).indices)
        yield (j, c, cb.codebooks(j)(c).toSeq))
      .toDF("j", "c", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_pq_codebooks")
    rotation.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("i", "rowv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_rotation")
    EpochLog.directory(spark, path).overwrite(epoch)
  }

  /** All three riding quantizers of a [[writeLearnedOpqIndex]] path —
    * refuses any missing commit marker loudly (a plain PQ layout has no
    * `_rotation` and must be served by [[servePqIndex]], not silently
    * treated as identity-rotated). */
  def loadOpqQuantizers(spark: org.apache.spark.sql.SparkSession,
                        path: String)
      : (Array[Array[Double]], Array[Array[Double]], PqCodebooks) = {
    EpochLog.requireMarker(spark, s"$path/_rotation", "load_opq_quantizers",
      "no committed rotation at this path - a plain (unrotated) PQ " +
        "layout is served by servePqIndex; an OPQ layout is built by " +
        "writeLearnedOpqIndex")
    val (cents, cb) = loadPqQuantizersAnyLayout(spark, path)
    val rot = spark.read.parquet(s"$path/_rotation")
      .orderBy("i").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("rowv")).toArray)
    require(rot.nonEmpty, s"load_opq_quantizers: empty rotation table at $path")
    require(rot.length == cb.dims && rot.forall(_.length == cb.dims),
      s"load_opq_quantizers: rotation is ${rot.length}x" +
        s"${rot.headOption.map(_.length).getOrElse(0)}, codebooks need " +
        s"${cb.dims}x${cb.dims}")
    (rot, cents, cb)
  }

  /** Serve a [[writeLearnedOpqIndex]] path end to end — [[servePqIndex]]
    * behind the learned rotation: queries rotate ONCE (checkpointed, so
    * the d² arithmetic runs once per query, not once per read), probe
    * their `nprobe` nearest ROTATED-space cells (partition-pruned into
    * the index read), the per-cell residual ADC runs entirely in the
    * rotated space against the code payload, and the shortlist
    * re-scores EXACT against `corpus`'s ORIGINAL full-precision vectors
    * (R is orthogonal — the true cosine is rotation-invariant, and
    * original-space scores stay bit-comparable across the ANN
    * families). Same determinism contract (rounded ADC, ties to the
    * lower id) and output `(query_id, nn_id, cosine, rank)`. */
  def serveOpqIndex(indexPath: String, corpus: DataFrame, queries: DataFrame,
                    idCol: String, embCol: String, k: Int, nprobe: Int = 2,
                    candidateFactor: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val (rot, cents, cb) = loadOpqQuantizers(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    val committed = log.committed("serve_opq_index", "writeLearnedOpqIndex")
    val rotatedQ = queries
      .withColumn("__gv", guardedVec(embCol, cb.dims, "serve_opq_index"))
      .withColumn("__rotv", rotateExpr(col("__gv"), rot))
      .drop("__gv")
    val probed = Materialize.eagerCheckpoint(
      withProbeLabels(rotatedQ, "__rotv", cents, nprobe))
    val cells = probed.select(col("coarse")).distinct().collect().map(_.get(0))
    require(cells.nonEmpty, "serveOpqIndex: empty query batch")
    val index = log.liveRows(spark.read.parquet(indexPath)
      .filter(col("coarse").isin(cells.toSeq: _*)), idCol, committed)
    opqResidualServe(index, corpus, probed, idCol, embCol, cents, cb, k,
      candidateFactor)
  }

  /** [[pqResidualServe]] with the ADC side in the ROTATED space: the
    * probed frame carries `__rotv` (the query's rotated vector — the
    * per-cell residual and ADC table come from it) AND the ORIGINAL
    * `embCol`, which feeds the exact re-score join. The index side's
    * codes already live in the rotated space by construction. */
  private def opqResidualServe(index: DataFrame, corpus: DataFrame,
                               probed: DataFrame, idCol: String,
                               embCol: String,
                               centroids: Array[Array[Double]],
                               cb: PqCodebooks, k: Int,
                               candidateFactor: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(candidateFactor >= 1,
      s"candidateFactor must be positive, got $candidateFactor")
    val q = probed
      .select(col("coarse").as("part"), col(idCol).as("query_id"),
        graft.functions.Adc.table(
          residualExpr(col("__rotv"), col("coarse"), centroids),
          cb.codebooks).as("__adc_tab"))
    val c = index.select(col("coarse").as("part"), col(idCol).as("nn_id"),
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
      .join(uniqueQueryVectors(probed, idCol, embCol), "query_id")
      .join(cx, "nn_id"), k)
  }

  /** Grow / take down / compact a [[writeLearnedOpqIndex]] layout: the
    * epoch/tombstone protocol is payload-agnostic (see
    * [[deleteFromPqIndex]]) — these validate the OPQ markers first so
    * errors name the right rebuilder, then delegate; the append encodes
    * new vectors with the index's OWN riding rotation + quantizers. */
  def appendToOpqIndex(newRows: DataFrame, indexPath: String, idCol: String,
                       embCol: String): Unit =
    doOpqAppend(newRows, indexPath, idCol, embCol, key = None)

  /** [[appendToIvfIndexIdempotent]] for the learned-OPQ composition:
    * the same [[EpochLog]] keyed-retry protocol — a committed key no-ops
    * and returns false, a crashed attempt's retry lands exactly once. */
  def appendToOpqIndexIdempotent(newRows: DataFrame, indexPath: String,
                                 idCol: String, embCol: String,
                                 key: String): Boolean =
    if (EpochLog.directory(newRows.sparkSession, indexPath)
        .keyCommitted(key, "append_to_opq_index", "writeLearnedOpqIndex")) false
    else { doOpqAppend(newRows, indexPath, idCol, embCol, Some(key)); true }

  private def doOpqAppend(newRows: DataFrame, indexPath: String,
                          idCol: String, embCol: String,
                          key: Option[String]): Unit = {
    val spark = newRows.sparkSession
    val (rot, cents, cb) = loadOpqQuantizers(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    log.committed("append_to_opq_index", "writeLearnedOpqIndex")
    val epoch = EpochLog.newEpoch()
    val rotated = newRows
      .withColumn("__gv", guardedVec(embCol, cb.dims, "append_to_opq_index"))
      .select(col(idCol), rotateExpr(col("__gv"), rot).as("__rotv"))
    buildPqIndexResidual(rotated, idCol, "__rotv", cents, cb)
      .withColumn("build_id", lit(epoch))
      .repartition(col("coarse"))
      .write.mode("append").partitionBy("coarse").parquet(indexPath)
    log.append(epoch, key)
  }

  /** See [[appendToOpqIndex]]. */
  def deleteFromOpqIndex(ids: DataFrame, indexPath: String,
                         idCol: String): Unit = {
    loadOpqQuantizers(ids.sparkSession, indexPath)
    deleteFromIvfIndex(ids, indexPath, idCol)
  }

  /** See [[appendToOpqIndex]]. */
  def compactOpqIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, idCol: String): Unit = {
    loadOpqQuantizers(spark, indexPath)
    compactIvfIndex(spark, indexPath, idCol)
  }

  /** [[writeLearnedIvfIndex]]'s residual-PQ sibling: the corpus is
    * labeled by its nearest centroid, residual-encoded
    * ([[buildPqIndexResidual]]), written partitioned by the coarse cell,
    * and BOTH quantizers ride with the index — `_centroids` (the coarse
    * matrix) and `_pq_codebooks` (the per-subspace residual codebooks),
    * each under its own `_SUCCESS`, with the [[EpochLog]] record written
    * LAST. Serving ([[servePqIndex]]) derives everything from
    * the path, so the quantizer-mismatch class — codes decoded against
    * codebooks they were not built from, which produces silently
    * garbage distances — is unconstructable through this API. A crash
    * between the writes refuses loudly at load (all four markers
    * required); rebuild-in-place makes the index unavailable-until-
    * rerun, never wrong. Training stays the caller's step
    * ([[trainPqResidual]]) — same division as [[writeLearnedIvfIndex]]
    * taking its centroids. */
  def writeLearnedPqIndex(corpus: DataFrame, idCol: String, embCol: String,
                          path: String, centroids: Array[Array[Double]],
                          cb: PqCodebooks): Unit = {
    require(checkCentroids(centroids) == cb.dims,
      s"centroid dims ${centroids.head.length} != codebook dims ${cb.dims}")
    val epoch = EpochLog.newEpoch()
    writeIvfIndex(
      buildPqIndexResidual(corpus, idCol, embCol, centroids, cb)
        .withColumn("build_id", lit(epoch)),
      path, "coarse")
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
    (for (j <- cb.codebooks.indices; c <- cb.codebooks(j).indices)
        yield (j, c, cb.codebooks(j)(c).toSeq))
      .toDF("j", "c", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_pq_codebooks")
    EpochLog.directory(spark, path).overwrite(epoch)
  }

  /** Both riding quantizers of a [[writeLearnedPqIndex]] path. Refuses
    * any missing commit marker loudly — a half-rebuilt layout must
    * never serve. */
  def loadPqQuantizers(spark: org.apache.spark.sql.SparkSession,
                       path: String): (Array[Array[Double]], PqCodebooks) = {
    // an OPQ layout's codes live in the ROTATED space: serving them
    // through the unrotated path would compute silently-garbage ADC
    // distances — the quantizer-mismatch class this family forbids
    require(!EpochLog.hasMarker(spark, s"$path/_rotation"),
      s"load_pq_quantizers: $path carries a committed _rotation - this is " +
        "an OPQ layout (writeLearnedOpqIndex); serve it with serveOpqIndex")
    loadPqQuantizersAnyLayout(spark, path)
  }

  /** The marker checks + table loads shared by the plain and OPQ
    * loaders — the rotation policy lives in the callers. */
  private def loadPqQuantizersAnyLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Double]], PqCodebooks) = {
    EpochLog.requireMarker(spark, path, "load_pq_quantizers",
      "re-run writeLearnedPqIndex before serving")
    EpochLog.requireMarker(spark, s"$path/_centroids", "load_pq_quantizers",
      "the index data committed but its coarse quantizer did not - " +
        "re-run writeLearnedPqIndex")
    EpochLog.requireMarker(spark, s"$path/_pq_codebooks", "load_pq_quantizers",
      "the index data committed but its residual codebooks did not - " +
        "re-run writeLearnedPqIndex")
    val cents = spark.read.parquet(s"$path/_centroids")
      .orderBy("cid").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    require(cents.nonEmpty, s"load_pq_quantizers: empty centroid table at $path")
    val rows = spark.read.parquet(s"$path/_pq_codebooks")
      .select("j", "c", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"load_pq_quantizers: empty codebook table at $path")
    val byJ = rows.groupBy(_._1)
    (cents, PqCodebooks((0 until byJ.size).toArray.map { j =>
      byJ(j).sortBy(_._2).map(_._3)
    }))
  }

  /** Serve a [[writeLearnedPqIndex]] path end to end: both quantizers
    * load from the index itself, queries fan out to their `nprobe`
    * nearest cells, the probed cells are partition-pruned into the
    * index read (only their files are listed and scanned — exact, not a
    * recall trade: the ADC join is on the cell), rows filter to the
    * committed epochs (a crashed [[appendToPqIndex]]'s orphans are
    * invisible), the per-cell residual ADC shortlist runs on the code
    * payload, and the shortlist re-scores exact against `corpus`'s
    * full-precision vectors. The whole production IVF-PQ serving story
    * in one call, nothing for the caller to keep consistent.
    *
    * RECALL GUIDANCE (measured, bench_scale_recall.json): on clustered
    * corpora the committed m=8/ksub=16 geometry recalls ~0.93@10 at
    * the default `candidateFactor` — near the int8 tier at 9× less
    * memory. On UNSTRUCTURED (near-uniform) vectors 8 bytes over 64
    * dims is honestly lossy (~0.44@10 probing every cell); the
    * artifact's `pq_dial` table is the dial — more code bytes (m) and
    * a deeper shortlist (`candidateFactor` 4 → 16) buy recall back at
    * rescore cost — so pick the (m, candidateFactor) point from the
    * measured ladder rather than guessing. */
  def servePqIndex(indexPath: String, corpus: DataFrame, queries: DataFrame,
                   idCol: String, embCol: String, k: Int, nprobe: Int = 2,
                   candidateFactor: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val (cents, cb) = loadPqQuantizers(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    val committed = log.committed("serve_pq_index", "writeLearnedPqIndex")
    // the probed frame is read twice (cells probe + serve); materialize
    // so the k·dims labeling runs once — the ivfTopKQuantizedPruned
    // rationale
    val probed = Materialize.eagerCheckpoint(
      withProbeLabels(queries, embCol, cents, nprobe))
    val cells = probed.select(col("coarse")).distinct().collect().map(_.get(0))
    require(cells.nonEmpty, "servePqIndex: empty query batch")
    val index = log.liveRows(spark.read.parquet(indexPath)
      .filter(col("coarse").isin(cells.toSeq: _*)), idCol, committed)
    pqResidualServe(index, corpus, probed, idCol, embCol, cents, cb, k,
      candidateFactor)
  }

  /** Takedown and compaction of a [[writeLearnedPqIndex]] layout: the
    * epoch/tombstone protocol is PAYLOAD-AGNOSTIC — data rows are
    * `(id, coarse, <payload>, build_id)` partitioned by cell whatever
    * the payload, and [[deleteFromIvfIndex]] / [[compactIvfIndex]]
    * operate purely on that protocol (tombstones by id, merge committed
    * epochs by rewriting rows, never touching the payload or the
    * quantizer sidecars) — so the PQ forms validate the PQ markers
    * first (errors name the right rebuilder) and delegate. Compaction
    * collects the crashed-append orphans and makes deletions physical,
    * exactly as on the int8 layout. */
  def deleteFromPqIndex(ids: DataFrame, indexPath: String,
                        idCol: String): Unit = {
    loadPqQuantizers(ids.sparkSession, indexPath)
    deleteFromIvfIndex(ids, indexPath, idCol)
  }

  /** See [[deleteFromPqIndex]]. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, idCol: String): Unit = {
    loadPqQuantizers(spark, indexPath)
    compactIvfIndex(spark, indexPath, idCol)
  }

  /** Incremental growth of a [[writeLearnedPqIndex]] layout: encode the
    * new vectors with the index's OWN riding quantizers and append them
    * into the per-cell partitions under a fresh committed epoch — the
    * [[appendToIvfIndex]] contract, residual-PQ payload, committed through
    * the [[EpochLog]]. `newRows`
    * must be NEW ids (the [[appendToIvfIndex]] precondition). Appended
    * rows are consistent with the served layout by construction — codes
    * come from the committed codebooks, labels from the committed
    * centroids. */
  def appendToPqIndex(newRows: DataFrame, indexPath: String, idCol: String,
                      embCol: String): Unit = {
    val spark = newRows.sparkSession
    val (cents, cb) = loadPqQuantizers(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    log.committed("append_to_pq_index", "writeLearnedPqIndex")
    val epoch = EpochLog.newEpoch()
    buildPqIndexResidual(newRows, idCol, embCol, cents, cb)
      .withColumn("build_id", lit(epoch))
      .repartition(col("coarse"))
      .write.mode("append").partitionBy("coarse").parquet(indexPath)
    log.append(epoch)
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
    * DETERMINISM: the shortlist cut orders by the ADC distance ROUNDED
    * to 6 decimals (ties to the lower id) — Σ-over-subspaces is
    * aggregation-order-sensitive at the ulp, the same reason
    * [[graft.operators.TextIndex.bm25TopK]] rounds its k-cut. Output
    * contract matches the other top-k forms: `(query_id, nn_id,
    * cosine, rank)`.
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
                candidateFactor: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(candidateFactor >= 1,
      s"candidateFactor must be positive, got $candidateFactor")
    // the per-query ADC table materializes in THIS projection, below
    // the cell join (the join's exchange is the materialization
    // boundary), so the m·ksub·dsub arithmetic runs once per query row
    // and the pair loop is m lookups — PlanSpec pins the shape
    val q = queries.select(col(partCol).as("part"),
      col(idCol).as("query_id"),
      graft.functions.Adc.table(
        guardedVec(embCol, cb.dims, "ivf_top_k_pq"), cb.codebooks)
        .as("__adc_tab"))
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
    * tell. The LEARNED layout ([[writeLearnedIvfIndex]]), whose quantizer
    * rides with the index, does support incremental growth: per-batch
    * [[appendToIvfIndex]] under the banded dedup index's epoch-commit
    * machinery, labels always from the committed `_centroids` (consistent
    * by construction), [[assignmentDrift]]-gated [[refreshIvfIndex]] as
    * the re-train trigger, and [[compactIvfIndex]] to restore the file
    * layout after N ingest cycles. */
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
                             candidateFactor: Int = 4): DataFrame =
    ivfTopKQuantizedPrunedImpl(indexPath, corpus, queries, idCol, embCol,
      partCol, k, candidateFactor, indexPrep = None)

  /** [[ivfTopKQuantizedPruned]] plus an optional index-side prep step —
    * the learned path's committed-epoch predicate and tombstone anti-join
    * ([[serveIvfIndex]]), applied AFTER the partition-pruned read.
    * Private: the plain [[writeIvfIndex]] layout has no epoch column or
    * tombstones, so the prep is only meaningful (and only applied) on
    * learned paths. */
  private def ivfTopKQuantizedPrunedImpl(indexPath: String, corpus: DataFrame,
                                         queries: DataFrame, idCol: String,
                                         embCol: String, partCol: String,
                                         k: Int, candidateFactor: Int,
                                         indexPrep: Option[DataFrame => DataFrame])
      : DataFrame = {
    val spark = queries.sparkSession
    EpochLog.requireMarker(spark, indexPath, "ivf_top_k_quantized_pruned",
      "re-run writeIvfIndex before serving")
    // the query frame is read THREE times per serve (cells probe, stage-1
    // quantization, exact re-score) and a withProbeLabels frame carries
    // the k·dims-HOF labeling in its plan — materialize once so the
    // labeling runs once, not three times (the batch is the small side)
    val q = Materialize.eagerCheckpoint(queries)
    val cells = q.select(col(partCol)).distinct().collect().map(_.get(0))
    require(cells.nonEmpty, "ivfTopKQuantizedPruned: empty query batch")
    val pruned = spark.read.parquet(indexPath)
      .filter(col(partCol).isin(cells.toSeq: _*))
    val index = indexPrep.fold(pruned)(_(pruned))
    ivfTopKQuantized(index, corpus, q, idCol, embCol, partCol, k,
      candidateFactor)
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
    // one row per query id: a MULTI-PROBE query frame ([[withProbeLabels]])
    // carries one row per probed cell; stage 1's per-part join is the fan-
    // out and already meets each corpus row at most once, but re-joining
    // the probed frame here by id alone would duplicate every shortlist
    // row nprobe times and corrupt the rank window (duplicate pairs at
    // ranks 1 and 2). Re-scoring needs each query ONCE — probe rows differ
    // only in their cell label, never in the vector — and that contract is
    // ENFORCED: a bare dropDuplicates would keep an ARBITRARY row, so a
    // caller passing duplicate ids with genuinely different vectors would
    // get a silently nondeterministic answer. Conflicting vectors (hash
    // min ≠ max within an id group; same ~2⁻⁶⁴ collision posture as the
    // library's other composite-hash arguments) raise instead.
    val vq = xxhash64(col(embCol).cast("array<double>"))
    val qx = withNorm(queries.groupBy(col(idCol))
        .agg(first(col(embCol)).as(embCol),
          (min(vq) =!= max(vq)).as("__conflict"))
        .select(col(idCol),
          when(col("__conflict"), raise_error(concat(
            lit("ivf_top_k_quantized: conflicting vectors for duplicate query id "),
            col(idCol).cast("string"),
            lit(" - duplicate ids are only legal as the with_probe_labels " +
              "fan-out (identical vector per id)"))))
            .otherwise(col(embCol)).as(embCol)), embCol)
      .select(col(idCol).as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    // exact re-scoring + final ranking is EXACTLY the shared tail of the
    // other top-k paths (its self-pair filter is a no-op here — stage 1
    // already excluded them)
    rankTopK(shortlist.join(qx, "query_id").join(cx, "nn_id"), k)
  }

  /** Outcome of one [[refreshIvfIndex]] cycle: the measured drift fraction
    * and whether it crossed the tolerance and triggered a rebuild. */
  final case class IvfRefresh(drift: Double, rebuilt: Boolean)

  /** [[writeIvfIndex]] for the LEARNED quantizer, with the centroid matrix
    * riding WITH the index: the corpus is labeled by its nearest centroid,
    * int8-quantized, written partitioned by the `coarse` cell, and the
    * centroids land beside the data under `_centroids` (underscore-
    * prefixed, so the data read never sees them). The design principle is
    * the banded dedup index's "geometry rides with the index": serving
    * ([[serveIvfIndex]]) derives the quantizer FROM the index, so the
    * mismatch class — probing yesterday's cells against labels induced by
    * a different centroid matrix, which silently erodes recall — is
    * unconstructable through this API. Callers thread nothing.
    *
    * Commit order is data first (the root `_SUCCESS`), then `_centroids`
    * (its own `_SUCCESS`), then the [[EpochLog]] record LAST — and
    * loading requires ALL the markers, so a crash between the writes
    * refuses loudly instead of serving an index whose quantizer or commit
    * record is missing or half-written. A crashed overwrite of a
    * previously-committed path destroys that path's markers with it, so
    * rebuild-in-place makes the index unavailable-until-rerun, never
    * wrong; deployments that need the old index live during a rebuild
    * write to a fresh path and swap a pointer.
    *
    * Epoch protocol: every row carries the `build_id` of the
    * build/append that wrote it, and the directory [[EpochLog]] lists
    * the committed ones (shared with [[appendToIvfIndex]] /
    * [[compactIvfIndex]]). */
  def writeLearnedIvfIndex(corpus: DataFrame, idCol: String, embCol: String,
                           path: String,
                           centroids: Array[Array[Double]]): Unit = {
    checkCentroids(centroids)
    val epoch = EpochLog.newEpoch()
    writeIvfIndex(
      buildQuantizedIndex(withCoarseLabel(corpus, embCol, centroids),
        idCol, embCol, "coarse")
        .withColumn("build_id", lit(epoch)),
      path, "coarse")
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
    // the commit record LAST, so its epoch has a complete quantizer too
    EpochLog.directory(spark, path).overwrite(epoch)
  }

  /** Incremental GROWTH of a [[writeLearnedIvfIndex]] layout: label the
    * new vectors with the index's OWN riding quantizer, int8-quantize
    * them, and append them into the per-cell partition directories under
    * a fresh committed epoch — the ingest-cycle shape. Without this, rows
    * arriving between [[refreshIvfIndex]] cycles would be unservable
    * until drift happens to cross the rebuild tolerance: the drift gate
    * decides when the LAYOUT is re-learned, not when new data becomes
    * visible. Labels come from the committed `_centroids`, so appended
    * rows are consistent with the served layout by construction — the
    * stale-quantizer mismatch class cannot be built through this path,
    * and what ossification the frozen centroids do accumulate is exactly
    * what [[assignmentDrift]] measures and [[refreshIvfIndex]] repairs.
    *
    * Crash story: [[EpochLog]]'s. Data files land first (one per touched
    * cell — cell-hashed repartition, same small-files rationale as the
    * build). Appends add one file per cell per call; [[compactIvfIndex]]
    * restores ~one file per cell when the count warrants.
    *
    * `newRows` must be NEW ids: updating an already-indexed vector in
    * place is a re-embedding concern (see the [[refreshIvfIndex]] drift
    * caveat), and a duplicate id would serve BOTH versions. The
    * precondition is enforced where it is free — [[compactIvfIndex]]
    * reads every committed row anyway and raises on a duplicate id —
    * not here, where it would cost a full index scan per append. */
  def appendToIvfIndex(newRows: DataFrame, indexPath: String, idCol: String,
                       embCol: String): Unit =
    doIvfAppend(newRows, indexPath, idCol, embCol, key = None)

  /** [[appendToIvfIndex]] keyed for AT-LEAST-ONCE callers (Structured
    * Streaming's `foreachBatch` replays a batch id after a restart): if
    * `key` is already committed the call is a NO-OP and returns false;
    * otherwise the batch lands exactly once ([[EpochLog]]'s keyed-retry
    * story — same contract as
    * [[graft.streaming.StreamingCurate.writeBatchIdempotent]]). */
  def appendToIvfIndexIdempotent(newRows: DataFrame, indexPath: String,
                                 idCol: String, embCol: String,
                                 key: String): Boolean =
    if (EpochLog.directory(newRows.sparkSession, indexPath)
        .keyCommitted(key, "append_to_ivf_index", "writeLearnedIvfIndex")) false
    else { doIvfAppend(newRows, indexPath, idCol, embCol, Some(key)); true }

  private def doIvfAppend(newRows: DataFrame, indexPath: String, idCol: String,
                          embCol: String, key: Option[String]): Unit = {
    val spark = newRows.sparkSession
    val cents = loadIvfCentroids(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    // refuse a crashed-rebuild path BEFORE writing anything into it
    log.committed("append_to_ivf_index", "writeLearnedIvfIndex")
    val epoch = EpochLog.newEpoch()
    buildQuantizedIndex(withCoarseLabel(newRows, embCol, cents),
        idCol, embCol, "coarse")
      .withColumn("build_id", lit(epoch))
      .repartition(col("coarse"))
      .write.mode("append").partitionBy("coarse").parquet(indexPath)
    log.append(epoch, key)
  }

  /** COMPACTION of a [[writeLearnedIvfIndex]]+[[appendToIvfIndex]]
    * layout: merge every committed epoch into ONE fresh epoch by
    * rewriting the existing quantized rows — codes and labels are
    * immutable and the quantizer is untouched, so compaction never
    * re-embeds, re-labels, or re-quantizes anything. Restores ~one file
    * per cell (cell-hashed repartition), so a pruned serve after N ingest
    * cycles stops listing and opening N files per probed cell.
    *
    * The swap is [[EpochLog.compact]] (snapshot → merge → recommit →
    * GC, single-writer: do not compact concurrently with appends or a
    * refresh rebuild), so compaction doubles as the garbage collector for
    * crashed ingests.
    *
    * The merge validates the [[appendToIvfIndex]] id-uniqueness
    * precondition — a duplicate id (the same row appended twice, or an
    * in-place re-embed pushed through append) raises here, where the
    * full read is already paid, instead of silently serving two versions
    * of the row forever. [[deleteFromIvfIndex]] tombstones become
    * PHYSICAL in the same pass: tombstoned rows are dropped from the
    * merged epoch (before the uniqueness check, so delete-then-re-append
    * compacts cleanly). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, idCol: String): Unit = {
    EpochLog.requireMarker(spark, indexPath, "compact_ivf_index",
      "re-run writeLearnedIvfIndex before compacting")
    val log = EpochLog.directory(spark, indexPath)
    log.compact("compact_ivf_index", "writeLearnedIvfIndex", indexPath) {
        (committed, epoch, snapshot) =>
      // data files live under the coarse=N partition directories
      val files = snapshot.head
      require(files.nonEmpty,
        s"compact_ivf_index: no data files under $indexPath (crashed " +
          "rebuild?) - re-run writeLearnedIvfIndex")
      // basePath recovers the coarse partition column from the directory
      // names of the explicit file list
      val committedRows = log.committedRows(
        spark.read.option("basePath", indexPath).parquet(files: _*), committed)
      require(committedRows.select(lit(1)).limit(1).collect().nonEmpty,
        s"compact_ivf_index: no committed rows under $indexPath (crashed " +
          "rebuild?) - re-run writeLearnedIvfIndex")
      val old = log.withoutTombstones(committedRows, idCol, committed)
      // uniqueness is checked AFTER deletion is applied: delete-then-
      // re-append is a legal lifecycle sequence, and the superseded
      // (tombstoned) row must not read as a duplicate of its replacement
      val dup = old.groupBy(col(idCol)).count().filter(col("count") > 1)
        .select(col(idCol)).limit(1).collect()
      require(dup.isEmpty,
        s"compact_ivf_index: duplicate id ${dup.headOption.map(_.get(0))
          .getOrElse("")} across committed epochs - appendToIvfIndex is for " +
          "NEW ids; re-embedded rows go through refreshIvfIndex (rebuild) " +
          "or deleteFromIvfIndex + append")
      old.withColumn("build_id", lit(epoch))
        .repartition(col("coarse"))
        .write.mode("append").partitionBy("coarse").parquet(indexPath)
    }
  }

  /** The centroid matrix a [[writeLearnedIvfIndex]] path was built with
    * (row index = cluster id = the `coarse` partition value). Requires
    * both commit markers — the data's and `_centroids`' own — so a
    * partially-written index is refused here, before any serve. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[Array[Double]] = {
    EpochLog.requireMarker(spark, path, "load_ivf_centroids",
      "re-run writeLearnedIvfIndex before serving")
    EpochLog.requireMarker(spark, s"$path/_centroids", "load_ivf_centroids",
      "the index data committed but its quantizer did not - re-run " +
        "writeLearnedIvfIndex (an index written by plain writeIvfIndex " +
        "has no riding quantizer; serve it via ivfTopKQuantizedPruned " +
        "with caller-managed labels instead)")
    val cents = spark.read.parquet(s"$path/_centroids")
      .orderBy("cid").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    require(cents.nonEmpty, s"load_ivf_centroids: empty centroid table at $path")
    cents
  }

  /** Serve a [[writeLearnedIvfIndex]] path end to end: the quantizer is
    * loaded from the index itself, queries fan out to their `nprobe`
    * nearest cells ([[withProbeLabels]] — the recall dial), and the probed
    * cells are partition-pruned into the read
    * ([[ivfTopKQuantizedPruned]]: only their files are listed and
    * scanned, int8 stage-1 ranking, exact re-scoring of the shortlist
    * against `corpus`'s full-precision vectors). This is the whole
    * production serving story in one call — learned quantizer, on-disk
    * pruned layout, quantized shortlist, exact answer — with nothing for
    * the caller to keep consistent: centroids, labels, and files all come
    * from the one committed path. Rows are the [[EpochLog]]'s live rows:
    * committed epochs only, committed [[deleteFromIvfIndex]] tombstones
    * anti-joined out; a pre-epoch or half-rebuilt path refuses loudly. */
  def serveIvfIndex(indexPath: String, corpus: DataFrame, queries: DataFrame,
                    idCol: String, embCol: String, k: Int, nprobe: Int = 2,
                    candidateFactor: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadIvfCentroids(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    val committed = log.committed("serve_ivf_index", "writeLearnedIvfIndex")
    ivfTopKQuantizedPrunedImpl(indexPath, corpus,
      withProbeLabels(queries, embCol, cents, nprobe),
      idCol, embCol, "coarse", k, candidateFactor,
      indexPrep = Some(ix => log.liveRows(ix, idCol, committed)))
  }

  /** DELETE ids from a [[writeLearnedIvfIndex]] path without touching the
    * index files — the takedown shape: at 100 TB, physically rewriting a
    * cell's parquet per removal request is the cost this operator exists
    * to avoid, and a removal request arrives as IDS, not vectors (no
    * embedding is needed — unlike appends, deletion never consults the
    * quantizer). Writes the ids as epoch-scoped [[EpochLog]] tombstones,
    * so delete-then-re-append serves the re-added row and the lifecycle's
    * operations stay freely composable; [[compactIvfIndex]] makes the
    * deletion PHYSICAL. Deleting an id that was never indexed is a
    * harmless no-op, so callers need not pre-filter. */
  def deleteFromIvfIndex(ids: DataFrame, indexPath: String,
                         idCol: String): Unit =
    EpochLog.directory(ids.sparkSession, indexPath).tombstone(
      ids.select(col(idCol)), "delete_from_ivf_index", "writeLearnedIvfIndex")

  /** One turn of the IVF growth cycle — the operator form of the
    * [[writeIvfIndex]] growth policy ("rebuild deliberately on drift"):
    * refit the quantizer on the CURRENT corpus ([[kmeansFit]]), measure
    * [[assignmentDrift]] of the SERVED index's stored labels against the
    * refit centroids (the share of indexed vectors a rebuild would move —
    * the recall-erosion bound a stale layout carries), and rebuild via
    * [[writeLearnedIvfIndex]] only past `driftTolerance`. Below it the
    * index is untouched — the cycle's steady-state cost is the fit plus a
    * bounded sample probe, never a write. `k = 0` (the default) keeps
    * the served index's cell count, read from its riding quantizer — a
    * scheduler's refresh loop cannot re-parameterize the index through a
    * mismatched default.
    *
    * Drift is measured over rows present in BOTH the index and the
    * current corpus (the stored label plus today's vector); corpus rows
    * not yet indexed don't drift — they are absorbed by whichever layout
    * wins — but they DO pull the refit centroids, which is exactly how
    * growth manifests as drift. A disjoint index/corpus (nothing to
    * sample) fails loudly rather than reading as "no drift".
    *
    * Steady-state cost dial: by default the fresh fit scans the full
    * corpus each Lloyd iteration; `fitSampleRows > 0` runs the
    * drift-probe fit on a bounded md5 sample instead ([[fitInput]] —
    * the no-op refresh then reads O(fitSampleRows + sampleRows) rows
    * past the one sampling pass), while a triggered rebuild always
    * refits on the full corpus.
    *
    * Drift is a LAYOUT metric — it flags cell-membership change, not
    * in-place mutation of already-indexed vectors. A rigid translation
    * of a whole cloud reads as zero (membership is unchanged; relative
    * geometry within the cell is preserved, so the stale stage-1 codes
    * still rank its shortlist usably) even though the stored codes no
    * longer approximate today's vectors. Corpora that RE-EMBED rows in
    * place should gate the rebuild on update volume alongside drift —
    * this operator measures where vectors sit relative to each other,
    * not whether their bytes went stale.
    *
    * Drift compares label IDENTITY, and [[kmeansFit]] is deterministic
    * per corpus — so an unchanged corpus always reads 0.0 (no thrash) —
    * but a refit on a SHIFTED corpus may renumber clusters (seeding is
    * farthest-first from the md5-minimal row; a large shift can reorder
    * the picks), which reads as drift even where the cell boundaries
    * merely relabeled. That errs conservative: a spurious trigger costs
    * one rebuild, while serving never sees a mismatched quantizer — and
    * a shift big enough to renumber a farthest-first seeding is big
    * enough to warrant the rebuild it triggers.
    * Returns the measured drift and whether a rebuild happened, so
    * schedulers can log the trajectory and alert on thrash. */
  def refreshIvfIndex(indexPath: String, corpus: DataFrame, idCol: String,
                      embCol: String, k: Int = 0, iters: Int = 5,
                      driftTolerance: Double = 0.1,
                      sampleRows: Int = 10000,
                      fitSampleRows: Int = 0): IvfRefresh = {
    require(driftTolerance >= 0.0 && driftTolerance <= 1.0,
      s"driftTolerance must be in [0, 1], got $driftTolerance")
    require(k >= 0, s"k must be 0 (keep the index's cell count) or positive, got $k")
    val spark = corpus.sparkSession
    // the refresh contract only makes sense against a committed LEARNED
    // index (stored labels + riding quantizer); this also refuses the
    // crashed-rebuild states before any work is spent on a refit — and
    // the stored matrix supplies the DEFAULT k, so a refresh cycle can
    // never re-parameterize the index by accident (an explicit k that
    // disagrees with the stored cell count is the deliberate form: it
    // reads as heavy drift — renumbered labels — and rebuilds at the
    // new granularity in one cycle)
    val storedK = loadIvfCentroids(spark, indexPath).length
    val log = EpochLog.directory(spark, indexPath)
    val committed = log.committed("refresh_ivf_index", "writeLearnedIvfIndex")
    val kEff = if (k == 0) storedK else k
    val cents = kmeansFit(fitInput(corpus, idCol, embCol, fitSampleRows),
      idCol, embCol, kEff, iters)
    // committed, non-tombstoned rows only: a crashed append's orphan
    // labels must not leak into the drift sample any more than into a
    // serve, and a deleted row's stale label is not drift — it is gone
    val stored = log.liveRows(spark.read.parquet(indexPath), idCol, committed)
      .select(col(idCol), col("coarse"))
    val sampled = stored.join(corpus.select(col(idCol), col(embCol)),
      Seq(idCol))
    val drift = assignmentDrift(sampled, idCol, embCol, "coarse", cents,
      sampleRows)
    if (drift > driftTolerance) {
      // the rare rebuild pays the FULL fit as before — the sampled fit
      // is the cheap decision probe, never the layout a rebuild commits
      val rebuildCents = if (fitSampleRows == 0) cents
        else kmeansFit(corpus, idCol, embCol, kEff, iters)
      writeLearnedIvfIndex(corpus, idCol, embCol, indexPath, rebuildCents)
      IvfRefresh(drift, rebuilt = true)
    } else IvfRefresh(drift, rebuilt = false)
  }

  /** The `fitSampleRows` dial shared by the refresh family: 0 = the fit
    * scans the FULL corpus every Lloyd iteration (the historical
    * behavior — an honest but expensive drift number: a scheduler
    * running nightly no-op refreshes pays a full k-means each time to
    * learn nothing changed); > 0 = the drift-probe's fresh fit runs on
    * a bounded md5-prefix sample of the corpus (the [[kmeansFit]]
    * seeding sample's own selection rule, materialized once so the
    * Lloyd iterations never rescan the corpus). Deterministic per
    * corpus, like everything downstream of it.
    *
    * The trade is a small LABEL-NOISE FLOOR: the stored index was built
    * from a full fit, so a sampled refit's centroids sit slightly off
    * and a few boundary rows read as drifted even on an unchanged
    * corpus — size `driftTolerance` above that floor (well-separated
    * corpora read 0.0 either way; the spec pins decision agreement on a
    * planted migration). A rebuild, once triggered, always refits on
    * the full corpus. */
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

  /** [[refreshIvfIndex]] for the residual-PQ layout — the drift
    * lifecycle of the 8-byte serving tier. Drift is measured on the
    * COARSE assignment (cell labels are what go stale as the corpus
    * distribution moves; the residual codebooks are CONDITIONED on the
    * centroids, so a coarse refit invalidates both quantizers at
    * once), against a fresh fit at the index's own cell count unless
    * `k` overrides. Above `driftTolerance` the rebuild retrains the
    * residual codebooks on the new centroids (at the index's own
    * m/ksub unless overridden) and RE-ENCODES the whole corpus via
    * [[writeLearnedPqIndex]]. Re-encode is not an implementation
    * shortcut, it is the only sound refresh: PQ codes are derived data
    * — cell-conditional residual quantizations — and patching stored
    * codes against moved centroids would decode them with codebooks
    * they were not built from, exactly the silent-garbage-distance
    * mismatch class this layout makes unconstructable. Below the
    * tolerance nothing is touched and serving continues uninterrupted
    * (the appends-encode-with-committed-quantizers invariant holds
    * either way). Same single-writer discipline as every rebuild. */
  def refreshPqIndex(indexPath: String, corpus: DataFrame, idCol: String,
                     embCol: String, k: Int = 0, m: Int = 0, ksub: Int = 0,
                     iters: Int = 5, driftTolerance: Double = 0.1,
                     sampleRows: Int = 10000,
                     fitSampleRows: Int = 0): IvfRefresh = {
    require(driftTolerance >= 0.0 && driftTolerance <= 1.0,
      s"driftTolerance must be in [0, 1], got $driftTolerance")
    require(k >= 0, s"k must be 0 (keep the index's cell count) or positive, got $k")
    require(m >= 0 && ksub >= 0,
      s"m/ksub must be 0 (keep the index's geometry) or positive, got m=$m ksub=$ksub")
    val spark = corpus.sparkSession
    val (storedCents, storedCb) = loadPqQuantizers(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    val committed = log.committed("refresh_pq_index", "writeLearnedPqIndex")
    val kEff = if (k == 0) storedCents.length else k
    val cents = kmeansFit(fitInput(corpus, idCol, embCol, fitSampleRows),
      idCol, embCol, kEff, iters)
    val stored = log.liveRows(spark.read.parquet(indexPath), idCol, committed)
      .select(col(idCol), col("coarse"))
    val sampled = stored.join(corpus.select(col(idCol), col(embCol)),
      Seq(idCol))
    val drift = assignmentDrift(sampled, idCol, embCol, "coarse", cents,
      sampleRows)
    if (drift > driftTolerance) {
      // rebuild refits on the FULL corpus (see fitInput) — the residual
      // codebooks are conditioned on whichever centroids the layout
      // commits, so both come from the same full fit
      val rebuildCents = if (fitSampleRows == 0) cents
        else kmeansFit(corpus, idCol, embCol, kEff, iters)
      writeLearnedPqIndex(corpus, idCol, embCol, indexPath, rebuildCents,
        trainPqResidual(corpus, idCol, embCol, rebuildCents,
          m = if (m == 0) storedCb.codebooks.length else m,
          ksub = if (ksub == 0) storedCb.codebooks.head.length else ksub,
          iters = iters))
      IvfRefresh(drift, rebuilt = true)
    } else IvfRefresh(drift, rebuilt = false)
  }

  /** [[refreshPqIndex]] for a [[writeLearnedOpqIndex]] layout — the
    * drift-gated rebuild cycle of the FULL composition. Drift is
    * measured where the index's Voronoi cells live, the ROTATED space:
    * the corpus is re-projected under the index's OWN riding rotation,
    * a fresh coarse fit runs there, and [[assignmentDrift]] compares
    * the stored cells against it over a bounded sample. Past tolerance
    * the WHOLE quantizer stack retrains — rotation first
    * ([[trainOpq]] at the index's PQ geometry; a drifted corpus has a
    * drifted second-moment structure, so patching only the centroids
    * under a stale rotation would rebuild on the wrong axes), then the
    * rotated-space coarse + residual codebooks — and the corpus
    * re-encodes from scratch (codes are derived data, the
    * [[refreshPqIndex]] rule). Same cost note as the plain refresh:
    * drift is measured against a FRESH fit, so a no-op refresh pays
    * one rotated-space k-means — over the full corpus by default (the
    * honest-drift maximum), or over a bounded md5 sample with
    * `fitSampleRows` (see [[fitInput]]) so a scheduler's nightly no-op
    * stays cheap. */
  def refreshOpqIndex(indexPath: String, corpus: DataFrame, idCol: String,
                      embCol: String, k: Int = 0, m: Int = 0, ksub: Int = 0,
                      iters: Int = 5, opqIters: Int = 2,
                      driftTolerance: Double = 0.1,
                      sampleRows: Int = 10000,
                      fitSampleRows: Int = 0): IvfRefresh = {
    require(driftTolerance >= 0.0 && driftTolerance <= 1.0,
      s"driftTolerance must be in [0, 1], got $driftTolerance")
    require(k >= 0, s"k must be 0 (keep the index's cell count) or positive, got $k")
    require(m >= 0 && ksub >= 0,
      s"m/ksub must be 0 (keep the index's geometry) or positive, got m=$m ksub=$ksub")
    val spark = corpus.sparkSession
    val (storedRot, storedCents, storedCb) = loadOpqQuantizers(spark, indexPath)
    val log = EpochLog.directory(spark, indexPath)
    val committed = log.committed("refresh_opq_index", "writeLearnedOpqIndex")
    // drift check in the STORED rotation's space: the stored cells are
    // only comparable to a fresh fit under the same projection
    val rotated = corpus
      .withColumn("__gv", guardedVec(embCol, storedCb.dims, "refresh_opq_index"))
      .select(col(idCol), rotateExpr(col("__gv"), storedRot).as("__rotv"))
    // fitInput over the ROTATED frame: the sampled path pays one full
    // rotation pass to draw the sample, then every Lloyd iteration runs
    // on the bounded materialized rows
    val cents = kmeansFit(fitInput(rotated, idCol, "__rotv", fitSampleRows),
      idCol, "__rotv", if (k == 0) storedCents.length else k, iters)
    val stored = log.liveRows(spark.read.parquet(indexPath), idCol, committed)
      .select(col(idCol), col("coarse"))
    val sampled = stored.join(rotated, Seq(idCol))
    val drift = assignmentDrift(sampled, idCol, "__rotv", "coarse", cents,
      sampleRows)
    if (drift > driftTolerance) {
      val mEff = if (m == 0) storedCb.codebooks.length else m
      val ksubEff = if (ksub == 0) storedCb.codebooks.head.length else ksub
      // sampleRows threads through: a caller who lowered it to stay
      // under MaxSeedSampleBytes must not trip the guard on the
      // rebuild path via trainOpq's own default
      val (rot, _) = trainOpq(corpus, idCol, embCol, m = mEff, ksub = ksubEff,
        iters = iters, opqIters = opqIters, sampleRows = sampleRows)
      val rerotated = corpus
        .withColumn("__gv", guardedVec(embCol, storedCb.dims, "refresh_opq_index"))
        .select(col(idCol), rotateExpr(col("__gv"), rot).as("__rotv"))
      val newCents = kmeansFit(rerotated, idCol, "__rotv",
        if (k == 0) storedCents.length else k, iters)
      writeLearnedOpqIndex(corpus, idCol, embCol, indexPath, rot, newCents,
        trainPqResidual(rerotated, idCol, "__rotv", newCents,
          m = mEff, ksub = ksubEff, iters = iters))
      IvfRefresh(drift, rebuilt = true)
    } else IvfRefresh(drift, rebuilt = false)
  }
}
