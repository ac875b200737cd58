package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * All are pure DataFrame transforms built from codegen'd built-ins — no
  * UDFs. Scale design (100 TB): the LSH path is the scalable one — shingle
  * explosion and signature aggregation are map-side + one shuffle per
  * groupBy; candidate generation shuffles by (band, bandHash) so only
  * colliding docs meet; exact verification scores only candidate pairs,
  * each against the two documents' distinct shingle sets. The all-pairs
  * exact path is for oracle-sized data and verification.
  *
  * Materialization: pipelines that reuse a frame eagerly checkpoint it —
  * lineage-truncating, and NOT registered in the CacheManager, so nothing
  * leaks across pipelines. `jaccardPairs` checkpoints the distinct shingle
  * rows; `minhashDuplicates` checkpoints one row per document (signature,
  * shingle set, set size), not the shingle rows.
  * Two modes, chosen by [[Materialize.ReliableCheckpointKey]] — the
  * mechanics live in [[Materialize]], shared with [[Similarity]] so the
  * durability story is uniform across the scale paths.
  */
object Dedup {

  /** Session conf key: `true` switches the dedup/CC internal
    * materialization from `localCheckpoint` to reliable `checkpoint`.
    * Alias of [[Materialize.ReliableCheckpointKey]] — one key governs
    * every graft pipeline. */
  val ReliableCheckpointKey: String = Materialize.ReliableCheckpointKey

  private def eagerCheckpoint(df: DataFrame): DataFrame =
    Materialize.eagerCheckpoint(df)

  private def reliableMode(df: DataFrame): Boolean =
    Materialize.reliableMode(df)

  /** Exact dedup: one representative (min id) per identical value of
    * `textCol`. Groups on a 16-byte composite of two independently-seeded
    * `xxhash64`s of the text, so the shuffle key is fixed-width, not the
    * document body; the representative text rides in the map-side
    * partial-aggregation buffer (once per partition-distinct hash, all
    * values identical within a group). A single 64-bit key reaches
    * percent-level collision odds near 2³² docs (birthday ~n²/2⁶⁵); the
    * composite pushes that to ~n²/2¹²⁹ — negligible at any real scale. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("__text_hash"),
        xxhash64(lit(1), col(textCol)).as("__text_hash2"))
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol),
        count(lit(1)).as("n_copies"))
      .select(idCol, textCol, "n_copies")

  /** Character k-shingles (distinct) per document: `(id, shingle)` rows.
    * Built from `sequence`+`transform`+`explode` — fully codegen'd, no UDF.
    * A document shorter than `k` contributes its whole text as one shingle
    * (so short exact duplicates are still detectable); blank documents
    * contribute nothing. Requires unique ids (one row per id) — rows are
    * already distinct then, no extra shuffle. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol).as("sh_id"),
        explode(when(length(t) < k, array(t)).otherwise(
          array_distinct(transform(
            sequence(lit(1), length(t) - (k - 1)),
            i => t.substr(i, lit(k)))))).as("shingle"))
      .filter(length(col("shingle")) > 0)
  }

  /** Word k-shingles (distinct) per document. Far more selective than
    * character shingles — at corpus scale the shingle self-join degenerates
    * on common character trigrams, while word k-grams keep per-shingle doc
    * lists short. Preferred for the 100 TB path. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    // the ONE tokenizer definition (TextAnalysis.tokens) — SimHash64's
    // native expression is bit-matched to it. Let-bound through a
    // 1-element transform so the k-gram slices address the BOUND array:
    // slicing the captured tokenizer expression re-runs split+filter per
    // gram — O(n²) per document (the bigramStructs bug class)
    val toks = TextAnalysis.tokens(col(textCol))
    val grams = transform(array(toks), ts =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(ts) - k, lit(0))),
        i => concat_ws(" ", slice(ts, i + 1, lit(k))))))
    df.select(col(idCol).as("sh_id"),
        explode(element_at(grams, 1)).as("shingle"))
      .filter(length(col("shingle")) > 0) // blank docs contribute nothing
  }

  /** Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.
    * Output: `(id_a, id_b, jaccard)` with `id_a < id_b`, one row per
    * distinct pair. Set semantics as in [[jaccardFor]]: repeated
    * `(id, shingle)` rows count once and null shingles are not shingles —
    * the shingle self-join over DISTINCT rows counts |A∩B| per pair, and
    * the distinct rows per id give |A|. Scoring every candidate through
    * [[jaccardFor]]'s `array_intersect` instead measured 3.5× slower on
    * `q_ngram_jaccard`, whose common-word corpus gives millions of
    * candidates. */
  def jaccardPairs(sh0: DataFrame, minJaccard: Double): DataFrame = {
    // used three times below; eager + self-cleaning (see header note)
    val sh = eagerCheckpoint(
      sh0.select("sh_id", "shingle").filter(col("shingle").isNotNull).distinct())
    val a = sh.select(col("sh_id").as("id_a"), col("shingle"))
    val b = sh.select(col("sh_id").as("id_b"), col("shingle"))
    val sizes = sh.groupBy("sh_id").agg(count(lit(1)).as("sz"))
    def side(s: String) = sizes.select(col("sh_id").as(s"id_$s"), col("sz").as(s"sz_$s"))
    a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("inter"), col("sz_a"), col("sz_b")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** `|A∩B| / |A∪B|` from the intersection and the two set sizes, all
    * longs — the one Jaccard expression of [[jaccardPairs]], [[jaccardFor]]
    * and [[minhashDuplicates]]. */
  private def jaccard(inter: Column, szA: Column, szB: Column): Column =
    (inter.cast("double") / (szA + szB - inter)).as("jaccard")

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * min over the doc's shingles. Output: `(sh_id, sig: array<long>)`.
    * One shuffle (groupBy id) and ONE aggregate — the custom
    * [[graft.functions.MinHashSignature]] buffer aggregate (the
    * compose-from-built-ins alternative is `numHashes` separate
    * `min(xxhash64(shingle, i))` expressions, which blows past the
    * aggregate codegen width and evaluates 128 expression trees per row). */
  def minhashSignatures(sh: DataFrame, numHashes: Int = 128): DataFrame =
    sh.groupBy("sh_id")
      .agg(graft.functions.MinHashSignature
        .minhashSignature(col("shingle"), numHashes).as("sig"))

  /** `(sh_id, band, band_hash)` banding of a signature frame — the ONE
    * definition shared by the self-join path ([[lshCandidatePairs]]) and
    * the index-serving path ([[dedupAgainstIndex]], the persisted
    * `<name>_bands` tables), so an index built yesterday and a batch banded
    * today collide identically. Band `b` hashes the signature slice
    * `[b·r, (b+1)·r)` (r = `numHashes / bands`) with the native
    * [[graft.functions.BandHashes]] kernel, bit-identical to
    * `xxhash64(slice(sig, b·r + 1, r), b)` — the higher-order form it
    * replaced — so bands written by either form still collide. */
  private[graft] def bandedSignatures(sigs: DataFrame, bands: Int,
                                      numHashes: Int): DataFrame = {
    // an empty band slice would hash identically for every doc — an
    // accidental O(n²) cross join — so the geometry is validated up front
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    sigs.select(col("sh_id"),
        posexplode(graft.functions.BandHashes.bandHashes(col("sig"), bands, rowsPerBand)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows, hash each band, emit candidate pairs — docs
    * colliding on any band. */
  def lshCandidatePairs(sigs: DataFrame, bands: Int,
                        numHashes: Int = 128): DataFrame = {
    val banded = bandedSignatures(sigs, bands, numHashes)
    val l = banded.select(col("band"), col("band_hash"), col("sh_id").as("id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("sh_id").as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Replace shingle strings with their xxhash64 — Jaccard counts are
    * preserved (collision probability over a corpus' distinct shingles is
    * ~|S|²/2⁶⁴), and every downstream shuffle/join moves 8-byte keys
    * instead of strings. Apply before signatures/verification at scale. */
  def hashShingles(sh: DataFrame): DataFrame =
    sh.select(col("sh_id"), xxhash64(col("shingle")).as("shingle"))

  /** `hashShingles(wordShingles(...))` fused into ONE compiled pass per
    * document via the native [[graft.functions.ShingleHashes]] expression
    * — output-set-identical (asserted by spec), ~8× faster than the
    * higher-order-function chain, whose per-token interpreted lambdas
    * dominated the dedup profile. Preferred entry for every hashed-shingle
    * pipeline. */
  def hashedWordShingles(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3): DataFrame =
    df.select(col(idCol).as("sh_id"),
      explode(graft.functions.ShingleHashes.shingleHashes(col(textCol), k)).as("shingle"))

  /** Exact Jaccard for a given pair list only — the verification step of
    * candidate-generate-verify. Each id's DISTINCT shingles are collected
    * into one set (`collect_set`) and each distinct pair is scored as
    * `|A∩B| / |A∪B|` with `size(array_intersect(A, B))`: one row per
    * distinct pair, whatever the multiplicity of the pair or shingle rows.
    * Pairs sharing no shingle, or naming an id absent from `sh`, give no
    * row; null shingles are not shingles. No join keys on a shingle, so
    * verification cost scales with |pairs|·|shingles per doc|, never with
    * the corpus' shingle rows. */
  def jaccardFor(pairs: DataFrame, sh: DataFrame): DataFrame =
    verifyPairs(pairs.select("id_a", "id_b").distinct(),
      sh.groupBy("sh_id").agg(collect_set(col("shingle")).as("shingle_set"))
        .withColumn("set_size", size(col("shingle_set")).cast("long")))

  /** [[jaccardFor]]'s scoring of DISTINCT `(id_a, id_b)` pairs against a
    * per-document `(sh_id, shingle_set, set_size)` frame, through the
    * shared [[jaccard]] expression, so a frame of distinct shingle rows
    * scores bit-identically to the shingle-join form it replaced. */
  private def verifyPairs(pairs: DataFrame, sets: DataFrame): DataFrame = {
    def side(s: String) = sets.select(col("sh_id").as(s"id_$s"),
      col("shingle_set").as(s"set_$s"), col("set_size").as(s"sz_$s"))
    pairs.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .filter(col("inter") > 0)
      .select(col("id_a"), col("id_b"), jaccard(col("inter"), col("sz_a"), col("sz_b")))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates from signature banding,
    * verified with exact Jaccard restricted to the candidate pairs —
    * the scalable candidate-generate-verify shape. ONE aggregate over the
    * shingle rows gives each document its signature, its distinct shingle
    * set and the set's size; that per-document frame (one row per id, not
    * one per shingle) is what gets eagerly checkpointed, and both the
    * banding and [[jaccardFor]]'s set scoring read it. Set semantics as
    * in [[jaccardFor]]: one row per distinct candidate pair, repeated
    * `(id, shingle)` rows count once. */
  def minhashDuplicates(sh0: DataFrame, minJaccard: Double = 0.8,
                        numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    // the per-document frame feeds both sides of banding AND of
    // verification — materialize once, or the shingle aggregate runs per use
    val docs = eagerCheckpoint(sh0.groupBy("sh_id")
      .agg(graft.functions.MinHashSignature
        .minhashSignature(col("shingle"), numHashes).as("sig"),
        collect_set(col("shingle")).as("shingle_set"))
      .withColumn("set_size", size(col("shingle_set")).cast("long")))
    val cands = lshCandidatePairs(docs.select("sh_id", "sig"), bands, numHashes)
    verifyPairs(cands, docs.drop("sig")).filter(col("jaccard") >= minJaccard)
  }

  /** Persistable MinHash dedup index: one `(sh_id, sig, sig_k)` row per
    * document — built ONCE over the landed (already-deduped) corpus and
    * written to parquet, then served by [[dedupAgainstIndex]] for every
    * incoming batch. At 8·`numHashes` bytes per doc the index is
    * ~1 KB/doc regardless of document size — the resident set of
    * incremental dedup, the way [[Similarity.buildQuantizedIndex]] is for
    * ANN. Signatures are integers, so the parquet round-trip is exact and
    * serving is bit-identical to an in-memory index (spec-pinned).
    *
    * The geometry RIDES WITH the index — `sig_k` is the shingle width,
    * the signature length is `numHashes` — and the serving path derives
    * its parameters from the index instead of trusting the caller: a
    * batch signed at a different width/hash-count than the index would
    * estimate near zero against even exact duplicates and silently
    * disable dedup, the same failure class
    * [[graft.streaming.StreamingCurate.ShingleBloom]] forbids by
    * construction. */
  def buildDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 128): DataFrame =
    minhashSignatures(hashedWordShingles(docs, idCol, textCol, shingleK), numHashes)
      .withColumn("sig_k", lit(shingleK))

  /** Incremental near-dup detection of a NEW batch against a prebuilt
    * [[buildDedupIndex]] frame — the serving shape of ingest dedup:
    * shingle width and hash count are read FROM the index (one one-row
    * driver lookup), the batch's signatures are computed at exactly that
    * geometry, band collisions are batch × index only — never
    * index × index, that work happened when the index was built — and
    * verification is the unbiased MinHash estimate
    * `|{i : sigA[i] = sigB[i]}| / numHashes`, because the index
    * deliberately stores signatures, not shingle sets. The estimate has
    * std-err ≈ √(j(1−j)/numHashes) (~0.035 at j=0.8 with 128 hashes):
    * set `minJaccard` with that noise in mind, or re-verify hits exactly
    * against the source text they point to. Batch-INTERNAL duplicates are
    * out of scope by design — run [[minhashDuplicates]] on the (small)
    * batch for those.
    *
    * The index frame is scanned twice (banding, then the estimate join):
    * hand it a PERSISTED frame — a parquet read or a checkpoint — never
    * an expensive unmaterialized pipeline, which would compute the whole
    * corpus signature job twice per serve. Output:
    * `(<idCol>, index_id, est_jaccard)`, one row per (batch doc, matched
    * index doc) at or above the threshold. */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame, idCol: String,
                        textCol: String, minJaccard: Double = 0.8,
                        bands: Int = 32): DataFrame = {
    val head = index.select(size(col("sig")), col("sig_k")).limit(1).collect()
    require(head.nonEmpty, "dedupAgainstIndex: empty index")
    val numHashes = head.head.getInt(0)
    val shingleK = head.head.getInt(1)
    // batch signatures feed banding AND the estimate join — materialize
    // once (the batch is the small side; ~1 KB/doc)
    val newSigs = eagerCheckpoint(
      buildDedupIndex(newDocs, idCol, textCol, shingleK, numHashes))
    val nb = bandedSignatures(newSigs, bands, numHashes)
      .withColumnRenamed("sh_id", "new_id")
    // geometry safety net at row level too: ragged signatures AND mixed
    // shingle widths fail loudly. The sig_k check matters because the
    // documented growth pattern index.unionByName(buildDedupIndex(kept))
    // at a forgotten non-default shingleK yields a mixed-width index whose
    // probed-geometry batch estimates ~0 against the other half — the
    // silently-disable-dedup failure class this API forbids.
    val ixChecked = index.select(col("sh_id"),
      when(size(col("sig")) =!= numHashes,
        raise_error(lit("dedupAgainstIndex: ragged index signature")))
        .when(col("sig_k") =!= shingleK, raise_error(concat(
          lit(s"dedupAgainstIndex: mixed shingle widths in index (probed sig_k=$shingleK, row has "),
          col("sig_k").cast("string"), lit(")"))))
        .otherwise(col("sig")).as("sig"))
    val ib = bandedSignatures(ixChecked, bands, numHashes)
      .withColumnRenamed("sh_id", "index_id")
    val cands = nb.join(ib, Seq("band", "band_hash"))
      .select("new_id", "index_id").distinct()
    cands
      .join(newSigs.select(col("sh_id").as("new_id"), col("sig").as("sig_n")), "new_id")
      .join(ixChecked.select(col("sh_id").as("index_id"), col("sig").as("sig_i")), "index_id")
      .select(col("new_id").as(idCol), col("index_id"),
        (size(filter(zip_with(col("sig_n"), col("sig_i"), (a, b) => a === b),
          x => x)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** Persist a [[buildDedupIndex]] frame in the SERVING layout: two
    * bucketed tables, `<name>_bands` — the pre-banded collision rows
    * `(bh, band, band_hash, sh_id)` bucketed AND sorted by the collision
    * key `bh = xxhash64(band, band_hash)` — and `<name>_sigs` —
    * `(sh_id, sig, sig_k, n_bands)` bucketed by `sh_id`.
    *
    * Why this exists: [[dedupAgainstIndex]] re-bands and SHUFFLES the
    * whole index on every call (`bands` rows per corpus doc — at web
    * scale, terabytes of shuffle per micro-batch). Bucketing pays that
    * shuffle ONCE at build time; every subsequent serve joins the batch
    * against the bucket-aligned table with NO exchange on the index side
    * (PlanSpec-pinned) — only the batch moves, which is the posture that
    * survives a 100 TB corpus with a continuous ingest feed. The bands
    * count rides in `n_bands` (same geometry-with-the-data rule as
    * `sig_k`). */
  /** NOTE: `index` is evaluated once per table write plus a one-row
    * geometry probe — hand it a PERSISTED frame (parquet read or
    * checkpoint), never the unmaterialized signature pipeline, same
    * contract as [[dedupAgainstIndex]].
    *
    * Crash consistency: the three writes are not atomic as a group, so
    * they follow the [[EpochLog]] protocol — rows stamped with a fresh
    * `build_id`, the `<name>_meta` commit record written LAST. */
  def writeBandedIndex(index: DataFrame, name: String,
                       buckets: Int = 256, bands: Int = 32): Unit = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val head = index.select(size(col("sig"))).limit(1).collect()
    require(head.nonEmpty, "writeBandedIndex: empty index")
    val numHashes = head.head.getInt(0)
    val epoch = EpochLog.newEpoch()
    // bucket-aligned repartition before EVERY bucketed write in this
    // family (build, append, compact): the planner's implicit clustering
    // for a bucketed save is AQE-adjustable, and at larger inputs AQE
    // splits a heavy shuffle partition across tasks — each task then
    // writes its own file per bucket, and the serve pays a per-file open
    // tax that grows with input size. The explicit repartition (same
    // murmur3-pmod assignment as bucketBy) is not AQE-adjustable: each
    // task holds exactly one bucket's rows, one file per bucket per
    // write, at every scale.
    bandedSignatures(index, bands, numHashes)
      .withColumn("bh", xxhash64(col("band"), col("band_hash")))
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("bh"))
      .write.mode("overwrite")
      .bucketBy(buckets, "bh").sortBy("bh")
      .saveAsTable(s"${name}_bands")
    index.withColumn("n_bands", lit(bands))
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("sh_id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "sh_id").sortBy("sh_id")
      .saveAsTable(s"${name}_sigs")
    EpochLog.table(index.sparkSession, name).overwrite(epoch)
  }

  /** Bucket count of an existing bucketed table, so appends write the
    * matching layout without the caller re-supplying it. */
  private def tableBuckets(spark: org.apache.spark.sql.SparkSession,
                           table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed - was it written by writeBandedIndex/writeSpanIndex?"))

  /** Incremental GROWTH of a [[writeBandedIndex]] layout: append the new
    * docs' band rows and signatures to the existing bucketed tables —
    * the ingest-cycle shape, where rebuilding the whole index per batch
    * ([[writeBandedIndex]] again over a 100 TB corpus) is exactly the
    * cost the serving layout exists to avoid. Geometry (shingle width,
    * hash count, bands) and the bucket count are read FROM the tables, so
    * appended signatures are consistent by construction — the
    * mixed-`sig_k` index [[dedupAgainstIndex]] guards against cannot be
    * built through this path. Each append lands under a fresh committed
    * epoch ([[EpochLog]]): bands, then sigs, then the commit row.
    * Appends add one file per bucket per call; the bucketed scan unions
    * a bucket's files without an exchange, so serving stays one-sided —
    * [[compactBandedIndex]] restores ~one file per bucket when the count
    * warrants it, WITHOUT re-shingling. Batch-internal duplicates are out
    * of scope here
    * exactly as in [[dedupAgainstIndex]]: dedup the batch first, then
    * append what you keep. */
  def appendToBandedIndex(newDocs: DataFrame, name: String, idCol: String,
                          textCol: String): Unit =
    doBandedAppend(newDocs, name, idCol, textCol, key = None)

  /** [[appendToBandedIndex]] keyed for AT-LEAST-ONCE callers: a key
    * already committed no-ops and returns false; otherwise the batch
    * lands exactly once ([[EpochLog]]'s keyed-retry story). Key = the
    * foreachBatch batch id. */
  def appendToBandedIndexIdempotent(newDocs: DataFrame, name: String,
                                    idCol: String, textCol: String,
                                    key: String): Boolean =
    if (EpochLog.table(newDocs.sparkSession, name)
        .keyCommitted(key, "appendToBandedIndex", "writeBandedIndex")) false
    else { doBandedAppend(newDocs, name, idCol, textCol, Some(key)); true }

  /** Whether `key` is already committed in `<name>_meta` — public so a
    * sink whose OTHER work must also be skipped on replay (e.g.
    * [[graft.streaming.StreamingCurate.idempotentCurateIngestSink]],
    * whose curation re-run would see the index its own first run grew)
    * can gate everything on the one delivery token, not just the append. */
  def bandedIndexKeyCommitted(spark: org.apache.spark.sql.SparkSession,
                              name: String, key: String): Boolean =
    EpochLog.table(spark, name)
      .keyCommitted(key, "bandedIndexKeyCommitted", "writeBandedIndex")

  private def doBandedAppend(newDocs: DataFrame, name: String, idCol: String,
                             textCol: String, key: Option[String]): Unit = {
    val spark = newDocs.sparkSession
    val log = EpochLog.table(spark, name)
    val committed = log.committed("appendToBandedIndex", "writeBandedIndex")
    val head = log.committedRows(spark.table(s"${name}_sigs"), committed)
      .select(size(col("sig")), col("sig_k"), col("n_bands")).limit(1).collect()
    require(head.nonEmpty,
      s"appendToBandedIndex: no committed rows in ${name}_sigs (crashed rebuild?) - re-run writeBandedIndex")
    val (numHashes, shingleK, bands) =
      (head.head.getInt(0), head.head.getInt(1), head.head.getInt(2))
    val buckets = tableBuckets(spark, s"${name}_sigs")
    val epoch = EpochLog.newEpoch()
    // signatures feed both table writes — materialize once (~1 KB/doc)
    val newSigs = eagerCheckpoint(
      buildDedupIndex(newDocs, idCol, textCol, shingleK, numHashes))
    // bucket-aligned repartition, same rationale as writeBandedIndex:
    // exactly one new file per bucket per append, AQE cannot split it
    bandedSignatures(newSigs, bands, numHashes)
      .withColumn("bh", xxhash64(col("band"), col("band_hash")))
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("bh"))
      .write.mode("append")
      .bucketBy(buckets, "bh").sortBy("bh")
      .saveAsTable(s"${name}_bands")
    newSigs.withColumn("n_bands", lit(bands))
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("sh_id"))
      .write.mode("append")
      .bucketBy(buckets, "sh_id").sortBy("sh_id")
      .saveAsTable(s"${name}_sigs")
    log.append(epoch, key)
  }

  /** DELETE docs from a [[writeBandedIndex]] layout without touching the
    * index tables — the takedown shape, mirroring
    * [[graft.operators.Similarity.deleteFromIvfIndex]]: a removal request
    * arrives as IDS (no text needed — deletion never shingles), and at
    * scale rewriting the bucketed tables per request is the cost this
    * avoids. The ids land as epoch-scoped [[EpochLog]] tombstones.
    * Serving anti-joins them on the SIGNATURE side only: a tombstoned
    * doc's band rows may still surface candidates, which then die at the
    * signature join — correctness is exact, and the residual candidate
    * traffic is what [[compactBandedIndex]] reclaims when it drops the
    * band rows too. */
  def deleteFromBandedIndex(ids: DataFrame, name: String,
                            idCol: String): Unit =
    EpochLog.table(ids.sparkSession, name).tombstone(
      ids.select(col(idCol).as("sh_id")), "deleteFromBandedIndex",
      "writeBandedIndex")

  /** COMPACTION of a [[writeBandedIndex]]+[[appendToBandedIndex]] layout:
    * merge every committed epoch into ONE fresh epoch by REWRITING the
    * existing `_bands`/`_sigs` rows — the rows are immutable and already
    * shingled/hashed, so compaction never touches corpus text (after N
    * ingest appends, re-running [[writeBandedIndex]] would re-shingle and
    * re-sign the ENTIRE corpus just to merge rows that already exist; this
    * costs one read+write of the index tables — ~1 KB/doc — instead).
    * Restores ~one file per bucket (each write is explicitly repartitioned
    * bucket-aligned), so a serve after N ingest cycles stops listing and
    * opening N files per bucket.
    *
    * The swap is [[EpochLog.compact]] (snapshot → merge → recommit →
    * GC, single-writer), which also makes it the garbage collector for
    * crashed ingests and makes [[deleteFromBandedIndex]] physical:
    * tombstoned rows are dropped from BOTH merged tables (serving only
    * needed the sig side, but the band rows' residual candidate traffic
    * goes too). In-flight serves planned against the old file set should
    * drain first.
    *
    * The committed rows are read PATH-based (the snapshot's file list)
    * rather than via the catalog: the catalog caches the table's
    * relation, and Spark's pre-write check rejects an insert whose query
    * reads the cached relation of its own target table. */
  def compactBandedIndex(spark: org.apache.spark.sql.SparkSession,
                         name: String): Unit = {
    val log = EpochLog.table(spark, name)
    log.compact("compactBandedIndex", "writeBandedIndex",
        s"${name}_bands", s"${name}_sigs") { (committed, epoch, snapshot) =>
      val buckets = tableBuckets(spark, s"${name}_sigs")
      val Seq(oldBands, oldSigs) = snapshot
      // BOTH tables must hold committed rows before merging: after a
      // crashed rebuild (one table overwritten, the other not, `_meta`
      // stale) the files that exist carry only uncommitted epochs — the
      // merge would filter them all out, commit an EMPTY epoch as the only
      // served one, and GC the sole copies of the data. Refuse up front,
      // with the same remedy the serving path names.
      def committedProbe(files: Seq[String], table: String): Unit = {
        require(files.nonEmpty,
          s"compactBandedIndex: $table has no data files (crashed rebuild?) - re-run writeBandedIndex")
        require(log.committedRows(spark.read.parquet(files: _*), committed)
            .select(lit(1)).limit(1).collect().nonEmpty,
          s"compactBandedIndex: no committed rows in $table (crashed rebuild?) - re-run writeBandedIndex")
      }
      committedProbe(oldBands, s"${name}_bands")
      committedProbe(oldSigs, s"${name}_sigs")
      def mergeInto(files: Seq[String], table: String, keyCol: String): Unit =
        log.liveRows(spark.read.parquet(files: _*), "sh_id", committed)
          .withColumn("build_id", lit(epoch))
          // bucket-aligned repartition (same murmur3-pmod assignment as the
          // bucketBy below): each task holds exactly one bucket's rows, so
          // the merged epoch lands as ~one file per bucket — the point
          .repartition(buckets, col(keyCol))
          .write.mode("append")
          .bucketBy(buckets, keyCol).sortBy(keyCol)
          .saveAsTable(table)
      mergeInto(oldBands, s"${name}_bands", "bh")
      mergeInto(oldSigs, s"${name}_sigs", "sh_id")
    }
  }

  /** [[dedupAgainstIndex]] served from a [[writeBandedIndex]] layout:
    * same output, one-sided shuffles — the index's band rows and
    * signatures are read bucket-aligned, only the batch (and the small
    * candidate set) ever exchanges. Geometry (shingle width, hash count,
    * bands) comes from the tables themselves. Both tables are filtered to
    * the committed epochs ([[EpochLog]]): a crashed build/append's rows
    * are invisible, and a crashed REBUILD — stale `_meta` over
    * overwritten tables — fails loudly instead of serving a half-written
    * index. */
  def dedupAgainstBandedIndex(newDocs: DataFrame, name: String, idCol: String,
                              textCol: String,
                              minJaccard: Double = 0.8): DataFrame = {
    val spark = newDocs.sparkSession
    val log = EpochLog.table(spark, name)
    val committed = log.committed("dedupAgainstBandedIndex", "writeBandedIndex")
    val sigs = log.committedRows(spark.table(s"${name}_sigs"), committed)
    val head = sigs.select(size(col("sig")), col("sig_k"), col("n_bands"))
      .limit(1).collect()
    require(head.nonEmpty,
      s"dedupAgainstBandedIndex: no committed rows in ${name}_sigs " +
        "(crashed writeBandedIndex rebuild?) - re-run writeBandedIndex")
    val (numHashes, shingleK, bands) =
      (head.head.getInt(0), head.head.getInt(1), head.head.getInt(2))
    // a rebuild crash BETWEEN the two overwrites leaves committed sigs but
    // no committed band rows (or vice versa) — probe, don't assume
    val bandsCommitted = log.committedRows(spark.table(s"${name}_bands"), committed)
    require(bandsCommitted.select(lit(1)).limit(1).collect().nonEmpty,
      s"dedupAgainstBandedIndex: no committed rows in ${name}_bands " +
        "(crashed writeBandedIndex rebuild?) - re-run writeBandedIndex")
    val newSigs = eagerCheckpoint(
      buildDedupIndex(newDocs, idCol, textCol, shingleK, numHashes))
    val nb = bandedSignatures(newSigs, bands, numHashes)
      .withColumn("bh", xxhash64(col("band"), col("band_hash")))
      .select(col("bh"), col("sh_id").as("new_id"))
    // the join key is EXACTLY the bucket column and nothing else: a
    // residual (band, band_hash) equality would be absorbed into the join
    // keys by the optimizer, misalign them with the bucketing, and force
    // the index-side exchange this layout exists to avoid. Dropping it is
    // sound because bh collisions between DIFFERENT (band, band_hash)
    // pairs (~2⁻⁶⁴) only add a spurious CANDIDATE — membership is decided
    // by the signature-agreement estimate either way.
    val cands = nb.join(bandsCommitted.select("bh", "sh_id"), Seq("bh"))
      .select(col("new_id"), col("sh_id").as("index_id")).distinct()
    // same ragged-signature + mixed-sig_k fail-fast as the flat path: a
    // hand-edited row at the wrong width would null-pad the estimate, and
    // a mixed-shingle-width table would estimate ~0 against half the
    // corpus — both silent-disable modes, both forbidden. Tombstoned docs
    // ([[deleteFromBandedIndex]]) are anti-joined out HERE: a deleted
    // doc's band rows may still surface candidates, but every candidate
    // must pass this signature join to be estimated, so dropping the sig
    // row is sufficient and exact
    val sigsChecked = log.withoutTombstones(sigs, "sh_id", committed)
      .select(col("sh_id").as("index_id"),
      when(size(col("sig")) =!= numHashes,
        raise_error(lit("dedupAgainstBandedIndex: ragged index signature")))
        .when(col("sig_k") =!= shingleK, raise_error(concat(
          lit(s"dedupAgainstBandedIndex: mixed shingle widths in index (probed sig_k=$shingleK, row has "),
          col("sig_k").cast("string"), lit(")"))))
        .otherwise(col("sig")).as("sig_i"))
    cands
      .join(newSigs.select(col("sh_id").as("new_id"), col("sig").as("sig_n")), "new_id")
      .join(sigsChecked, "index_id")
      .select(col("new_id").as(idCol), col("index_id"),
        (size(filter(zip_with(col("sig_n"), col("sig_i"), (a, b) => a === b),
          x => x)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** [[dedupAgainstIndex]] applied: the new batch with every doc matching
    * the index removed (left-anti on the hit set) — what an ingest
    * pipeline appends to the corpus (after which the kept docs' signatures
    * join the index: `index.unionByName(buildDedupIndex(kept, ...))`). */
  def filterAgainstIndex(newDocs: DataFrame, index: DataFrame, idCol: String,
                         textCol: String, minJaccard: Double = 0.8,
                         bands: Int = 32): DataFrame =
    newDocs.join(
      dedupAgainstIndex(newDocs, index, idCol, textCol, minJaccard, bands)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** [[filterAgainstIndex]] against a [[writeBandedIndex]] layout: the
    * batch minus everything [[dedupAgainstBandedIndex]] matches — the
    * per-ingest-cycle keep set, served one-sided from the bucketed
    * tables. */
  def filterAgainstBandedIndex(newDocs: DataFrame, name: String,
                               idCol: String, textCol: String,
                               minJaccard: Double = 0.8): DataFrame =
    newDocs.join(
      dedupAgainstBandedIndex(newDocs, name, idCol, textCol, minJaccard)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** Large-star round (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): for every node `u`, connect each strictly
    * LARGER neighbor to `m(u) = min(N(u) ∪ {u})`. Preserves connectivity
    * and strictly lowers the component's potential. Input/output edges are
    * canonical `(u, v)` with `u > v`. */
  private def largeStar(edges: DataFrame): DataFrame = {
    // NOT pre-partitioned by u: the groupBy's map-side partial aggregation
    // shrinks what shuffles to one (u, min) row per map partition, and AQE
    // then broadcasts the small mins side — an explicit repartition(u)
    // would shuffle the FULL edge set and forfeit both (measured 2x slower)
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u")) // emit (v, m(u)) for larger neighbors
      .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m ⇒ canonical
    // NO distinct here (r20, guide §2.4 — remove shuffles outright): the
    // only consumer is smallStar, whose min-aggregation is duplicate-
    // blind and whose own final distinct defines the round's edge SET —
    // deduplicating twice per round paid a full extra Exchange for
    // nothing. Each round's output set (and so the signature, the
    // convergence test, the round count and the final clusters) is
    // unchanged: smallStar(multiset X) ≡ smallStar(set(X)) because
    // groupBy-min ignores multiplicity and the trailing distinct
    // collapses the join fan-out. Emit volume is bounded by |edges|
    // (one row per canonical input edge), so the next aggregation's
    // map-side partials absorb what the dropped distinct would have.
  }

  /** Small-star round: with edges oriented `u > v`, connect every SMALLER
    * neighbor of `u` (and `u` itself) to `m(u) = min(N<(u))`. Turns shallow
    * trees into stars. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min("v").as("m")) // m < u by orientation
    edges.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v")) // (v, m) for v ∈ N<(u)
      .union(mins.select(col("u"), col("m").as("v"))) // and (u, m)
      .filter(col("u") =!= col("v")) // drop (m, m) self-loop
      .distinct()
  }

  /** Release the persisted blocks behind a `localCheckpoint`ed frame
    * (they live on the internal `LogicalRDD`, not in the CacheManager, so
    * neither `unpersist()` nor `clearCache()` reaches them). Only safe
    * once nothing will read the frame again. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Eagerly materialize an edge frame AND collect its order-insensitive
    * signature `(count, hash-xor)` in the SAME job: the signature rides as
    * `observe()` metrics on the `localCheckpoint` action, so each CC round
    * costs one job, not a materialize-then-rescan pair. Equal signatures
    * across rounds ⇒ the alternation reached its fixed point. XOR (not
    * sum: ANSI mode throws on long overflow) is safe because edges are
    * distinct, so no pair can self-cancel; collision between DIFFERENT
    * consecutive edge sets is ~2⁻⁶⁴, and the count must match too. */
  private[graft] def checkpointWithSignature(edges: DataFrame): (DataFrame, (Long, Long)) = {
    if (reliableMode(edges)) {
      // reliable checkpoint() may recompute partitions (cached-block loss is
      // the exact failure mode the mode exists for), and each recompute
      // re-fires observe() accumulators: count doubles and the xor
      // self-cancels to 0, silently degrading convergence to a count-only
      // test. The signature is instead a separate aggregation over the
      // ALREADY-checkpointed frame — one cheap extra job per round over
      // fixed-width edges, correct under any recompute.
      val ck = eagerCheckpoint(edges)
      val row = ck.agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("x")).head()
      (ck, (row.getLong(0), row.getLong(1)))
    } else {
      // localCheckpoint computes the plan exactly once (persist-backed), so
      // the signature can ride the same job as observe() metrics — one job
      // per CC round, no rescan.
      val obs = org.apache.spark.sql.Observation()
      val ck = eagerCheckpoint(edges
        .observe(obs, count(lit(1)).as("n"),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("x")))
      val m = obs.get
      (ck, (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long]))
    }
  }

  /** Resolve duplicate PAIRS into clusters: connected components over the
    * pair graph, labeling every member with the minimum doc id of its
    * component (the canonical representative a curation pipeline keeps).
    * Output: `(doc_id, cluster_rep)` for every doc appearing in a
    * NON-self pair — self-pairs (`id_a == id_b`) carry no duplicate
    * information and are ignored (the engine's pair generators never emit
    * them: all guarantee `id_a < id_b`).
    *
    * Alternating large-star/small-star (Kiveris et al.) — converges to
    * per-component stars in O(log n) rounds regardless of component
    * diameter (min-label propagation is O(diameter): a chain of near-dups
    * degrades badly). Each round is two keyed shuffles followed by an
    * eager `localCheckpoint`, so lineage never chains across rounds and an
    * eviction cannot trigger a recompute cascade; the driver reads only a
    * two-long signature per round, never the data. */
  def duplicateClusters(pairs0: DataFrame): DataFrame =
    duplicateClustersWithRounds(pairs0)._1

  /** [[duplicateClusters]] plus the number of large/small-star rounds the
    * alternation ran before the edge-set signature fixed — the empirical
    * counterpart of the O(log n) convergence claim (bench_scale.json
    * reports it per replica size). */
  def duplicateClustersWithRounds(pairs0: DataFrame): (DataFrame, Int) = {
    val (df, rounds, _) = duplicateClustersWithTrace(pairs0)
    (df, rounds)
  }

  /** [[duplicateClustersWithRounds]] plus the PER-ROUND edge counts
    * (input set first, then after each large+small round) — the
    * signature's count component, so the trace costs nothing extra.
    * This is the 100×-story evidence beyond "rounds stay flat": each
    * round's edge volume must contract toward one edge per non-root
    * member (the per-component star), never balloon through an
    * intermediate blow-up — Kiveris et al.'s potential argument as a
    * measured fact (bench_scale.json commits the trace per replica
    * size). */
  private[graft] def duplicateClustersWithTrace(pairs0: DataFrame)
      : (DataFrame, Int, Seq[Long]) = {
    var (edges, sig) = checkpointWithSignature(pairs0
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val trace = collection.mutable.ArrayBuffer(sig._1)
    var converged = sig._1 == 0L // no edges ⇒ no clusters
    var rounds = 0
    while (!converged) {
      val (next, nextSig) = checkpointWithSignature(smallStar(largeStar(edges)))
      // `next` is fully materialized and lineage-free, so the superseded
      // round's blocks can drop NOW — bounded storage across many rounds,
      // instead of waiting on driver GC + ContextCleaner
      unpersistCheckpoint(edges)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      rounds += 1
      trace += sig._1
    }
    // at the fixed point every edge is (member, component-min root)
    (edges.select(col("u").as("doc_id"), col("v").as("cluster_rep"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_rep")))
      .groupBy("doc_id").agg(min("cluster_rep").as("cluster_rep")),
      rounds, trace.toSeq)
  }

  /** Train-eval decontamination (the n-gram-overlap leakage check of
    * GPT-3 appendix C / Dolma): for every training document, count the
    * distinct word `k`-grams it shares with ANY eval document. Output:
    * `(<idCol>, n_contaminated_ngrams)` — one row per contaminated doc;
    * clean docs are absent. Scale shape: shingles are hashed to 8-byte
    * keys ([[hashedWordShingles]]) and the EVAL side — benchmarks, tiny
    * next to a training corpus — is distinct-reduced and broadcast, so
    * the 100 TB training side never shuffles for the check; pass
    * `broadcastEval = false` if the eval corpus outgrows driver memory. */
  def contamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, k: Int = 8,
                    broadcastEval: Boolean = true): DataFrame = {
    val trainSh = hashedWordShingles(train, idCol, textCol, k)
    val evalSh = hashedWordShingles(evalDocs, idCol, textCol, k)
      .select("shingle").distinct()
    // both hints are explicit because stats can't be trusted here: the
    // size estimator doesn't model the shingle explode's fan-out, so with
    // no hint Catalyst may still AUTO-broadcast a hundreds-of-MB distinct
    // shingle set it estimated under the 10 MB threshold — shuffle_hash
    // guarantees the shuffled plan broadcastEval = false asks for
    val build = if (broadcastEval) broadcast(evalSh) else evalSh.hint("shuffle_hash")
    trainSh.join(build, Seq("shingle"))
      .groupBy("sh_id").agg(count(lit(1)).as("n_contaminated_ngrams"))
      .withColumnRenamed("sh_id", idCol)
  }

  /** [[contamination]] applied: training docs with any shared `k`-gram
    * removed (left-anti on the contaminated id set). */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, k: Int = 8,
                    broadcastEval: Boolean = true): DataFrame =
    train.join(contamination(train, evalDocs, idCol, textCol, k, broadcastEval)
      .select(idCol), Seq(idCol), "left_anti")

  /** Span-level duplication profile — the substring-dedup signal of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"
    * (exact duplicated token spans, not whole-document similarity): per
    * document, how many of its distinct word `n`-gram spans also occur in
    * at least one OTHER document. Doc-level near-dup (MinHash/SimHash)
    * misses boilerplate — headers, licenses, templates — pasted into
    * otherwise-unique documents; a high `shared_frac` flags exactly those.
    * Within-doc repetition is deliberately out of scope (that is
    * [[graft.operators.TextAnalysis]]'s repetition score): spans are
    * DISTINCT per doc, so a shared span means a cross-document copy.
    *
    * Columns: `n_spans` (distinct spans in the doc), `n_shared_spans`
    * (those also present elsewhere), `shared_frac` = shared/total; docs
    * with fewer than `n` tokens contribute their whole token list as one
    * span (consistent with [[hashedWordShingles]] — short exact dups stay
    * visible).
    *
    * 100 TB posture: one fused shingle pass (native expression, no
    * per-token lambdas) → count per span hash (two-phase hash aggregate,
    * map-side partial) → equi-join spans⋈counts on the span hash →
    * per-doc aggregate. Every stage is linear in total tokens; nothing is
    * collected to the driver; the hot-key risk (a boilerplate span in
    * millions of docs) sits in the span-hash join, where AQE skew-join
    * splits the hot partitions — the aggregates themselves partial-combine
    * before shuffling. */
  def spanStats(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 8): DataFrame = {
    // (sh_id, shingle): distinct span hashes per document, one fused pass
    val spans = hashedWordShingles(docs, idCol, textCol, n)
    // spans are distinct per doc, so count(*) per shingle == #docs holding
    // it — a plain count partial-aggregates map-side where countDistinct
    // would carry per-doc state into the shuffle
    val docsPerSpan = spans.groupBy("shingle")
      .agg(count(lit(1)).as("span_docs"))
    spans.join(docsPerSpan, Seq("shingle"))
      .groupBy(col("sh_id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("span_docs") >= 2, 1L).otherwise(0L)).as("n_shared_spans"))
      .withColumn("shared_frac", col("n_shared_spans") / col("n_spans"))
  }

  /** [[spanStats]] applied as a curation filter: drop documents whose
    * shared-span fraction exceeds `maxSharedFrac` (boilerplate-dominated
    * docs), keep the rest. Left-anti on the flagged id set — the doc
    * payload itself never enters the span shuffle. */
  def dropSpanDuplicatedDocs(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 8,
                             maxSharedFrac: Double = 0.5): DataFrame =
    docs.join(
      spanStats(docs, idCol, textCol, n)
        .filter(col("shared_frac") > maxSharedFrac).select(idCol),
      Seq(idCol), "left_anti")

  /** Duplicated-span REMOVAL — the text-surgery form of the Lee-et-al.
    * substring dedup ([[spanStats]] scores, [[dropSpanDuplicatedDocs]]
    * drops whole docs; this rewrites them): every token covered by a word
    * `n`-gram whose hash occurs in at least `minDocs` DISTINCT documents
    * is cut, and the text is rebuilt from the survivors (single-space
    * joined — the tokenizer's contract makes that lossless for dedup
    * purposes, not for byte-exact reproduction). The aggressive
    * every-copy form, deliberately: keeping "one canonical copy" needs a
    * global tie-break and an ordering no distributed pass should invent —
    * for boilerplate (the dominant use), removing all copies is the
    * desired behavior. Within-doc repeats of a gram only count once
    * toward `minDocs` (doc-distinct), but once a gram IS corpus-
    * duplicated, every occurrence in every doc is cut.
    *
    * Output: `idCol`, rewritten `textCol`, `n_tokens` (before),
    * `n_tokens_removed`. Docs with no duplicated spans pass through with
    * their text rebuilt from their own tokens (whitespace normalized);
    * a fully-boilerplate doc comes out as the empty string rather than
    * disappearing — the caller decides whether to drop empties.
    *
    * 100 TB posture: one [[graft.functions.ShingleHashesAll]] pass per
    * doc (ordered hashes, index = gram position) → `posexplode` →
    * doc-distinct gram count (two-phase aggregate) → equi-join back the
    * duplicated hashes → per-doc `collect_list` of duplicated START
    * positions (bounded by the doc's own token count — driver never sees
    * it) → one higher-order-function rewrite pass over the token array.
    * Linear in total tokens; the position list rides the row, never the
    * driver. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // same tokenizer as the expression: split on \s+ minus empties
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val prepared = docs.select(col(idCol).as("sh_id"), toks.as("__toks"),
      graft.functions.ShingleHashesAll.shingleHashesAll(col(textCol), n)
        .as("__grams"))
    val grams = prepared.select(col("sh_id"),
      posexplode(col("__grams")).as(Seq("pos", "gram")))
    val dupGrams = grams.select("sh_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gram")
    val dupStarts = grams.join(dupGrams, Seq("gram"))
      .groupBy("sh_id").agg(collect_list("pos").as("__dups"))
    val starts = coalesce(col("__dups"), array().cast("array<int>"))
    // keep token i unless some duplicated gram start p covers it:
    // p <= i < p+n — with the short-doc rule, gram 0 of a <n-token doc
    // covers [0, n) ⊇ the whole doc, so a duplicated short doc empties
    val indexed = transform(col("__toks"),
      (t, i) => struct(t.as("t"), i.as("i")))
    val kept = filter(indexed, s =>
      !exists(starts, p => s("i") >= p && s("i") < p + lit(n)))
    prepared.join(dupStarts, Seq("sh_id"), "left")
      .select(col("sh_id").as(idCol),
        array_join(transform(kept, s => s("t")), " ").as(textCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(kept)).cast("long").as("n_tokens_removed"))
  }

  /** Persistable span-frequency index — the SERVING form of [[spanStats]]
    * for ingest-time curation: one `(shingle, span_docs, span_n)` row per
    * distinct span hash in the landed corpus, built once and written to
    * parquet, then scored against by every incoming batch
    * ([[spanStatsAgainstIndex]]) without touching the corpus again. The
    * span width RIDES WITH THE INDEX (the banded-index geometry
    * principle): serving reads `span_n` from the frame and shingles the
    * batch at exactly that width, so a width mismatch — which would
    * silently score every batch span as unseen — is unconstructable.
    * Growth is ALGEBRAIC, not epoch-managed: span counts are additive, so
    * [[mergeSpanIndexes]] (union → sum) grows the index per ingest cycle
    * with plain parquet append-and-compact economics; no tombstones or
    * commit protocol needed because a count, unlike a signature row,
    * merges commutatively.
    *
    * Size: one long + one long + a small int per DISTINCT corpus span —
    * ~1-2 rows per corpus token before dedup, far below the corpus text,
    * and the natural candidate for a count-min sketch if even that
    * footprint bites at 100 TB (the exact frame is the oracle-checkable
    * baseline). */
  def buildSpanIndex(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8): DataFrame =
    hashedWordShingles(docs, idCol, textCol, n)
      .groupBy("shingle").agg(count(lit(1)).as("span_docs"))
      .withColumn("span_n", lit(n))

  /** Two [[buildSpanIndex]] frames merged — counts are additive across
    * disjoint corpora, so `merge(build(A), build(B)) ≡ build(A ∪ B)` for
    * id-disjoint A, B (spec-pinned): the per-ingest-cycle growth path.
    * Widths must agree; a mixed-width merge raises rather than summing
    * counts that mean different things. */
  def mergeSpanIndexes(a: DataFrame, b: DataFrame): DataFrame = {
    // one-row probe per side (NOT distinct over the full span_n column —
    // that's an eager full scan of two potentially huge frames to read a
    // constant): each side is trusted width-uniform because it came from
    // buildSpanIndex / a previous merge, the same per-frame-uniformity
    // contract spanStatsAgainstIndex documents
    def width(df: DataFrame, side: String): Int = {
      val h = df.select("span_n").limit(1).collect()
      require(h.nonEmpty, s"mergeSpanIndexes: empty $side index — " +
        "merge needs at least one row per side to prove width agreement")
      h.head.getInt(0)
    }
    val (wa, wb) = (width(a, "left"), width(b, "right"))
    require(wa == wb,
      s"mergeSpanIndexes: mixed span widths ($wa vs $wb) — indexes built " +
        "at different n cannot be summed")
    a.unionByName(b).groupBy("shingle", "span_n")
      .agg(sum("span_docs").as("span_docs"))
      .select("shingle", "span_docs", "span_n")
  }

  /** Score a NEW batch's spans against a prebuilt [[buildSpanIndex]]
    * frame — the ingest-time boilerplate check: per batch doc, `n_spans`,
    * `n_indexed_spans` (spans already present in the landed corpus) and
    * `indexed_frac`. Batch-internal sharing is out of scope by design
    * (run [[spanStats]] on the batch for that). The join is batch spans ⋈
    * index on the span hash — the index side is the big one and arrives
    * pre-aggregated from parquet; only the batch explodes per serve. */
  def spanStatsAgainstIndex(newDocs: DataFrame, index: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    // min==max width guard in ONE agg over the small span_n column: an
    // index assembled by plain union (bypassing mergeSpanIndexes) with
    // mixed widths would otherwise silently score every batch span at
    // whichever width an arbitrary row carried. buildSpanIndex /
    // mergeSpanIndexes outputs are uniform by construction; this catches
    // the hand-assembled frame that bypassed them.
    val head = index.agg(min("span_n"), max("span_n")).collect()
    require(head.nonEmpty && !head.head.isNullAt(0),
      "spanStatsAgainstIndex: empty index")
    require(head.head.getInt(0) == head.head.getInt(1),
      s"spanStatsAgainstIndex: mixed span widths in index " +
        s"(${head.head.getInt(0)}..${head.head.getInt(1)}) — was it " +
        "assembled by plain union instead of mergeSpanIndexes?")
    val n = head.head.getInt(0)
    val spans = hashedWordShingles(newDocs, idCol, textCol, n)
    val hits = index.select(col("shingle"), lit(1L).as("__hit"))
    spans.join(hits, Seq("shingle"), "left")
      .groupBy(col("sh_id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_indexed_spans"))
      .withColumn("indexed_frac", col("n_indexed_spans") / col("n_spans"))
  }

  /** [[spanStatsAgainstIndex]] applied: keep only batch docs whose
    * indexed-span fraction is at most `maxIndexedFrac` — the
    * boilerplate gate of an ingest pipeline, same left-anti shape as
    * [[dropSpanDuplicatedDocs]]. */
  def filterAgainstSpanIndex(newDocs: DataFrame, index: DataFrame,
                             idCol: String, textCol: String,
                             maxIndexedFrac: Double = 0.5): DataFrame =
    newDocs.join(
      spanStatsAgainstIndex(newDocs, index, idCol, textCol)
        .filter(col("indexed_frac") > maxIndexedFrac).select(idCol),
      Seq(idCol), "left_anti")

  /** Persist a [[buildSpanIndex]] frame in the SERVING layout: one
    * bucketed table `<name>_spans` — `(shingle, span_docs, span_n,
    * build_id)` bucketed AND sorted by the span hash — committed through
    * the [[EpochLog]] (the `<name>_meta` record written LAST).
    *
    * Why this exists: [[spanStatsAgainstIndex]] over a plain parquet
    * frame SHUFFLES the whole index on every call — ~2 longs per distinct
    * corpus span, corpus-scale at 100 TB, paid per ingest batch. This is
    * the same serving-economics gap [[writeBandedIndex]] closed for
    * MinHash signatures: bucketing pays the index-side shuffle ONCE at
    * build; every subsequent serve joins the batch against the
    * bucket-aligned table with NO exchange on the index side
    * (spec-pinned) — only the batch's spans move. Appends land as one
    * file per bucket per cycle under fresh committed epochs
    * ([[appendToSpanIndex]] — counts are additive, so an append IS the
    * merge, deferred to read time); [[compactSpanIndex]] re-aggregates a
    * bucket's epochs back to one row per span and ~one file per bucket
    * when the file count warrants it. */
  def writeSpanIndex(index: DataFrame, name: String,
                     buckets: Int = 256): Unit = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val head = index.select("span_n").limit(1).collect()
    require(head.nonEmpty, "writeSpanIndex: empty index")
    val epoch = EpochLog.newEpoch()
    // bucket-aligned repartition before the bucketed write, same
    // rationale as writeBandedIndex: AQE must not split a heavy shuffle
    // partition across tasks, or each task writes its own file per
    // bucket and serving pays a per-file open tax that grows with input
    index.withColumn("build_id", lit(epoch))
      .repartition(buckets, col("shingle"))
      .write.mode("overwrite")
      .bucketBy(buckets, "shingle").sortBy("shingle")
      .saveAsTable(s"${name}_spans")
    EpochLog.table(index.sparkSession, name).overwrite(epoch)
  }

  /** Incremental GROWTH of a [[writeSpanIndex]] layout: the new batch's
    * span counts land as bucket-aligned rows under a fresh committed
    * epoch — one new file per bucket per call, nothing existing is
    * touched. Count additivity makes this the whole merge story: a span
    * seen in k epochs holds k rows whose `span_docs` SUM is its corpus
    * count, and serving reads membership (any row ⇒ present) without
    * combining them, so appends never re-aggregate the index —
    * [[mergeSpanIndexes]]'s union→sum is deferred to
    * [[compactSpanIndex]], which restores ~one file per bucket AND one
    * row per span in the same pass. Span width and bucket count ride
    * with the table, so appended rows are width-consistent by
    * construction. Crash story: [[EpochLog]]'s, spans first. */
  def appendToSpanIndex(newDocs: DataFrame, name: String, idCol: String,
                        textCol: String): Unit =
    doSpanIndexAppend(newDocs, name, idCol, textCol, key = None)

  /** [[appendToSpanIndex]] keyed for AT-LEAST-ONCE callers (the span
    * twin of [[appendToBandedIndexIdempotent]]): a committed key no-ops
    * and returns false; otherwise the counts land exactly once. */
  def appendToSpanIndexIdempotent(newDocs: DataFrame, name: String,
                                  idCol: String, textCol: String,
                                  key: String): Boolean =
    if (EpochLog.table(newDocs.sparkSession, name)
        .keyCommitted(key, "appendToSpanIndex", "writeSpanIndex")) false
    else { doSpanIndexAppend(newDocs, name, idCol, textCol, Some(key)); true }

  /** Whether `key` is committed in `<name>_meta` — the span-index twin
    * of [[bandedIndexKeyCommitted]], public for sinks whose OTHER
    * per-batch work must also skip on replay. */
  def spanIndexKeyCommitted(spark: org.apache.spark.sql.SparkSession,
                            name: String, key: String): Boolean =
    EpochLog.table(spark, name)
      .keyCommitted(key, "spanIndexKeyCommitted", "writeSpanIndex")

  private def doSpanIndexAppend(newDocs: DataFrame, name: String,
                                idCol: String, textCol: String,
                                key: Option[String]): Unit = {
    val spark = newDocs.sparkSession
    val log = EpochLog.table(spark, name)
    val committed = log.committed("appendToSpanIndex", "writeSpanIndex")
    val head = log.committedRows(spark.table(s"${name}_spans"), committed)
      .select("span_n").limit(1).collect()
    require(head.nonEmpty,
      s"appendToSpanIndex: no committed rows in ${name}_spans (crashed rebuild?) - re-run writeSpanIndex")
    val n = head.head.getInt(0)
    val buckets = tableBuckets(spark, s"${name}_spans")
    val epoch = EpochLog.newEpoch()
    buildSpanIndex(newDocs, idCol, textCol, n)
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("shingle"))
      .write.mode("append")
      .bucketBy(buckets, "shingle").sortBy("shingle")
      .saveAsTable(s"${name}_spans")
    log.append(epoch, key)
  }

  /** Merge-then-compact for a [[writeSpanIndex]] layout: re-aggregate
    * every committed epoch's rows to ONE row per span (`sum(span_docs)` —
    * the deferred [[mergeSpanIndexes]] algebra) and ~one file per bucket,
    * commit the merged epoch, GC the pre-merge files. After N ingest
    * appends a bucket holds N+1 files and up to N+1 rows per hot span;
    * serving stays correct (membership needs any row) but pays the
    * listing/open tax per file — this restores build-time economics
    * WITHOUT re-shingling a single document, through the same
    * [[EpochLog.compact]] swap as [[compactBandedIndex]] — a crash
    * anywhere leaves a servable index. */
  def compactSpanIndex(spark: org.apache.spark.sql.SparkSession,
                       name: String): Unit = {
    val log = EpochLog.table(spark, name)
    log.compact("compactSpanIndex", "writeSpanIndex", s"${name}_spans") {
        (committed, epoch, snapshot) =>
      val buckets = tableBuckets(spark, s"${name}_spans")
      val oldFiles = snapshot.head
      require(oldFiles.nonEmpty,
        s"compactSpanIndex: ${name}_spans has no data files (crashed rebuild?) - re-run writeSpanIndex")
      val rows = log.committedRows(spark.read.parquet(oldFiles: _*), committed)
      // same up-front committed probe as compactBandedIndex: after a
      // crashed rebuild (table overwritten, _meta stale) the merge would
      // commit an EMPTY epoch and GC the sole copies of the data
      require(rows.select(lit(1)).limit(1).collect().nonEmpty,
        s"compactSpanIndex: no committed rows in ${name}_spans (crashed rebuild?) - re-run writeSpanIndex")
      rows.groupBy("shingle", "span_n")
        .agg(sum("span_docs").as("span_docs"))
        .select(col("shingle"), col("span_docs"), col("span_n"))
        .withColumn("build_id", lit(epoch))
        .repartition(buckets, col("shingle"))
        .write.mode("append")
        .bucketBy(buckets, "shingle").sortBy("shingle")
        .saveAsTable(s"${name}_spans")
    }
  }

  /** [[spanStatsAgainstIndex]] served from a [[writeSpanIndex]] layout:
    * same output, one-sided shuffle — the index is read bucket-aligned
    * and never exchanges; only the batch's spans shuffle to meet it
    * (spec-pinned). Membership is decided per span hash via a distinct
    * on the bucketing column (no exchange: the aggregate keys equal the
    * bucket keys), which also collapses the one-row-per-epoch
    * multiplicity appends leave behind — a span appended in three cycles
    * must still count as ONE indexed span. Reads are filtered to the
    * committed epochs ([[EpochLog]]); a crashed rebuild fails loudly
    * instead of serving a half-written index. Width rides with the table
    * (uniform by construction through this family's writers). */
  def spanStatsAgainstBucketedIndex(newDocs: DataFrame, name: String,
                                    idCol: String, textCol: String): DataFrame = {
    val spark = newDocs.sparkSession
    val log = EpochLog.table(spark, name)
    val committed = log.committed("spanStatsAgainstBucketedIndex", "writeSpanIndex")
    val ix = log.committedRows(spark.table(s"${name}_spans"), committed)
    val head = ix.select("span_n").limit(1).collect()
    require(head.nonEmpty,
      s"spanStatsAgainstBucketedIndex: no committed rows in ${name}_spans " +
        "(crashed writeSpanIndex rebuild?) - re-run writeSpanIndex")
    val n = head.head.getInt(0)
    val spans = hashedWordShingles(newDocs, idCol, textCol, n)
    val hits = ix.select("shingle").distinct().withColumn("__hit", lit(1L))
    spans.join(hits, Seq("shingle"), "left")
      .groupBy(col("sh_id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_indexed_spans"))
      .withColumn("indexed_frac", col("n_indexed_spans") / col("n_spans"))
  }

  /** [[filterAgainstSpanIndex]] against a [[writeSpanIndex]] layout: the
    * batch minus every doc whose indexed-span fraction exceeds
    * `maxIndexedFrac` — the per-batch boilerplate gate, served one-sided
    * from the bucketed table. */
  def filterAgainstBucketedSpanIndex(newDocs: DataFrame, name: String,
                                     idCol: String, textCol: String,
                                     maxIndexedFrac: Double = 0.5): DataFrame =
    newDocs.join(
      spanStatsAgainstBucketedIndex(newDocs, name, idCol, textCol)
        .filter(col("indexed_frac") > maxIndexedFrac).select(idCol),
      Seq(idCol), "left_anti")

  /** A count-min sketch of a span-frequency index, WITH the geometry it
    * was built at: `counts` is the `depth × width` counter matrix
    * flattened row-major, `n` the span width (riding with the sketch for
    * the same reason it rides with the index — probing at the wrong
    * width silently gates nothing), `width`/`depth` the CMS shape. The
    * SUB-LINEAR-MEMORY serving form of the span gate: `depth · width`
    * longs versus the exact index's row per distinct corpus span. At
    * 100 TB the exact frame is itself corpus-scale; the sketch rides
    * the task broadcast like [[graft.streaming.StreamingCurate
    * .ShingleBloom]]'s filter bytes.
    *
    * SIZING IS N₁-DEPENDENT, not "2 MB and done": the memory is
    * `depth · width` longs, but the width a given accuracy needs GROWS
    * with the index — the overcount bound is `2·N₁/width`, so holding
    * the bound fixed means width ∝ N₁ (sub-linear total memory only
    * because a counter is 8 bytes vs a full index row, never constant).
    * The default `width = 2¹⁶` saturates once N₁ reaches a few
    * hundred thousand incidences (measured: `kept_sketch_fixed_w16 = 0`
    * at every tested corpus size in bench_scale_span_index.json — every
    * counter hot, every span "indexed", the gate silently drops
    * everything). Size with [[sketchGeometryFor]], and the gate
    * ([[filterAgainstSpanSketch]]) refuses a sketch whose measured
    * [[SpanSketch.absentPassRate]] says a never-seen span would pass
    * anyway.
    *
    * Estimates NEVER undercount (CMS guarantee: every counter a span
    * hashes to holds at least its true count), so a truly-indexed span
    * always gates — no false negatives, the same conservative direction
    * as Bloom decontamination. Overcount is bounded: with `N₁ = Σ
    * span_docs` (total doc-span incidences), each estimate exceeds the
    * true count by more than `2·N₁/width` with probability at most
    * `2^-depth` (Cormode & Muthukrishnan, J. Algorithms 55(1), 2005) —
    * spec-pinned against the exact index at adversarially small widths. */
  final case class SpanSketch(counts: Array[Long], n: Int, width: Int,
                              depth: Int) {
    require(counts.length == depth * width,
      s"SpanSketch: ${counts.length} counters for depth=$depth width=$width")

    /** Total doc-span incidences the sketch holds (N₁) — every depth row
      * sums to it, so it is derivable, not extra state. */
    lazy val n1: Long = counts.view.slice(0, width).sum

    /** The theoretical overcount bound `2·N₁/width` (exceeded with
      * probability ≤ 2^-depth per probe). */
    def overcountBound: Double = 2.0 * n1 / width

    /** MEASURED probability that a NEVER-INDEXED span would pass a
      * `≥ minDocs` gate anyway: a probe's estimate is the min over depth
      * rows, so an absent span passes iff the counter it hashes to in
      * EVERY row is ≥ minDocs — under uniform hashing that is the
      * product over rows of the fraction of counters ≥ minDocs. Exact
      * arithmetic over the matrix already in driver memory (one
      * `depth · width` pass), no probabilistic assumptions beyond the
      * hash uniformity the sketch already relies on. MEMOIZED per
      * threshold: the counters are immutable and the gate checks the
      * same (sketch, minDocs) once per micro-batch through
      * [[graft.streaming.SpanIngest.sink]] — rescanning a
      * multi-million-counter matrix per batch would put seconds of
      * driver work on the hot path for a constant. */
    @transient private lazy val passRateCache =
      scala.collection.concurrent.TrieMap.empty[Long, Double]
    def absentPassRate(minDocs: Long): Double =
      passRateCache.getOrElseUpdate(minDocs,
        (0 until depth).map { d =>
          var hot = 0
          var i = d * width
          val end = i + width
          while (i < end) { if (counts(i) >= minDocs) hot += 1; i += 1 }
          hot.toDouble / width
        }.product)

    /** A sketch is SATURATED for a gate threshold when an absent span
      * would pass it more often than `maxAbsentPassRate` — at that point
      * `filterAgainstSpanSketch` is not a gate but a corpus-shaped coin
      * flip biased toward dropping everything. */
    def saturatedFor(minDocs: Long, maxAbsentPassRate: Double = 0.5): Boolean =
      absentPassRate(minDocs) > maxAbsentPassRate
  }

  /** The 2·N₁/width sizing rule, EXECUTABLE ([[Similarity.lshGeometryFor]]
    * pattern — a prose rule a caller must remember is a rule that gets
    * skipped): the (width, depth) at which estimates exceed true counts
    * by more than `targetOvercount` with probability at most
    * `errorProb`. Width is the next power of two ≥ 2·N₁/targetOvercount
    * (pow-2 keeps the modulo cheap and matches the measured harness
    * ladder); depth = ⌈log₂(1/errorProb)⌉ from the 2^-depth failure
    * bound. Memory is `width · depth · 8` bytes — width GROWS with N₁,
    * which is the whole point: fixed-width defaults are what
    * `kept_sketch_fixed_w16 = 0` looks like in production. */
  def sketchGeometryFor(n1: Long, targetOvercount: Long,
                        errorProb: Double = 1e-3): (Int, Int) = {
    require(n1 >= 0, s"sketchGeometryFor: n1 must be >= 0, got $n1")
    require(targetOvercount >= 1,
      s"sketchGeometryFor: targetOvercount must be >= 1, got $targetOvercount")
    require(errorProb > 0 && errorProb < 1,
      s"sketchGeometryFor: errorProb must be in (0,1), got $errorProb")
    val minWidth = math.max(16L, math.ceil(2.0 * n1 / targetOvercount).toLong)
    val width = java.lang.Long.highestOneBit(math.max(1L, minWidth - 1)) << 1
    require(width <= (1L << 28),
      s"sketchGeometryFor: width $width (n1=$n1, targetOvercount=" +
        s"$targetOvercount) exceeds 2^28 counters (${(1L << 31)} bytes " +
        "per depth row) — relax targetOvercount or shard the corpus")
    val depth = math.max(1, math.ceil(-math.log(errorProb) / math.log(2.0)).toInt)
    (width.toInt, depth)
  }

  /** [[buildSpanIndex]] compressed into a [[SpanSketch]] in one pass:
    * every index row adds its `span_docs` to one counter per depth row
    * (bucket = seeded xxhash64 of the span hash, mod width). The
    * aggregation is map-side partial over at most `depth · width` keys,
    * the collect is the counter matrix itself — bytes, not data — and
    * the result is deterministic (no randomness, no order dependence),
    * so a rebuilt sketch over the same index is bit-identical. */
  def spanSketchFromIndex(index: DataFrame, width: Int = 1 << 16,
                          depth: Int = 4): SpanSketch = {
    require(width >= 1 && depth >= 1,
      s"spanSketchFromIndex: width=$width depth=$depth must be positive")
    val head = index.select("span_n").limit(1).collect()
    require(head.nonEmpty, "spanSketchFromIndex: empty index")
    val n = head.head.getInt(0)
    val flat = new Array[Long](depth * width)
    index.select(explode(array((0 until depth).map(lit): _*)).as("d"),
        col("shingle"), col("span_docs"))
      .groupBy(col("d"),
        pmod(xxhash64(col("d"), col("shingle")), lit(width.toLong)).as("bucket"))
      .agg(sum("span_docs").as("cnt"))
      .collect()
      .foreach(r => flat(r.getInt(0) * width + r.getLong(1).toInt) = r.getLong(2))
    SpanSketch(flat, n, width, depth)
  }

  /** [[spanSketchFromIndex]] ∘ [[buildSpanIndex]] — sketch a corpus
    * directly when the exact index is not being kept. */
  def buildSpanSketch(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, width: Int = 1 << 16,
                      depth: Int = 4): SpanSketch =
    spanSketchFromIndex(buildSpanIndex(docs, idCol, textCol, n), width, depth)

  /** The CMS point estimate for a span hash column, as a Column: the MIN
    * over depth rows of the counter each seeded hash lands on. Pure
    * codegen'd built-ins (`element_at` over the counter literal), legal
    * inside higher-order lambdas — which is what makes the sketch gate a
    * NARROW per-row filter (see [[spanStatsAgainstSketch]]). */
  def spanSketchEstimate(sketch: SpanSketch, h: Column): Column = {
    val flat = typedLit(sketch.counts.toSeq)
    least((0 until sketch.depth).map { d =>
      element_at(flat, (lit(d * sketch.width) +
        pmod(xxhash64(lit(d), h), lit(sketch.width.toLong))).cast("int") + 1)
    }: _*)
  }

  /** Attach each row's count-min estimate for `hashCol` as `outCol`,
    * with the counter matrix on a REAL broadcast (the native
    * [[graft.functions.SpanSketchValue]] expression) — the form fixture
    * dumps and estimate-reporting pipelines should use at
    * [[sketchGeometryFor]]-sized geometries, where
    * [[spanSketchEstimate]]'s `typedLit` matrix would ride every task
    * binary. Null hashes yield null estimates (the zero-span sentinel
    * contract). Bit-equal to the literal form, spec-pinned. */
  def withSpanSketchEstimates(df: DataFrame, sketch: SpanSketch,
                              hashCol: String, outCol: String): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(sketch.counts)
    df.withColumn(outCol, graft.functions.SpanSketchValue.estimate(
      col(hashCol), bc, sketch.width, sketch.depth))
  }

  /** [[spanStatsAgainstIndex]] served from a [[SpanSketch]]: per batch
    * doc, `n_spans`, `n_indexed_spans` (spans whose estimated corpus
    * count is at least `minDocs`) and `indexed_frac` — with NO join, NO
    * shuffle and NO state: one fused shingle pass per row, `depth` array
    * probes per span through the native [[graft.functions
    * .SpanSketchProbe]] expression, the counter matrix riding a Spark
    * BROADCAST (one transfer per executor; the expression tree carries
    * only the handle — see the probe's scaladoc for why the
    * `typedLit`-matrix form it replaces re-shipped ~10 MiB task binaries
    * per serve). The stateless 100 TB ingest shape — the gate a
    * `foreachBatch` or even a plain stream `filter` can carry.
    * Estimates only ever overcount, so vs the exact index this
    * reports `n_indexed_spans` at least as large — the gate drops a
    * superset (conservative, like Bloom decontamination); the overcount
    * probability is bounded by the sketch geometry (see [[SpanSketch]]).
    * The broadcast is created per call and reclaimed by the
    * ContextCleaner once the returned frame dies — a caller serving
    * many batches against one sketch (a stream's first gate) should
    * hold and reuse one returned frame per micro-batch cycle rather
    * than re-calling per row. */
  def spanStatsAgainstSketch(newDocs: DataFrame, sketch: SpanSketch,
                             idCol: String, textCol: String,
                             minDocs: Long = 1L): DataFrame = {
    val bc = newDocs.sparkSession.sparkContext.broadcast(sketch.counts)
    newDocs.select(col(idCol),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), sketch.n)
          .as("__spans"))
      .select(col(idCol), size(col("__spans")).cast("long").as("n_spans"),
        graft.functions.SpanSketchProbe.indexedCount(col("__spans"), bc,
          sketch.width, sketch.depth, minDocs).as("n_indexed_spans"))
      // zero-span docs appear here (the exploded exact form omits them);
      // their fraction is null, guarded explicitly because ANSI mode
      // makes a bare 0/0 an error, not a null
      .withColumn("indexed_frac", when(col("n_spans") > 0,
        col("n_indexed_spans") / col("n_spans")))
  }

  /** [[filterAgainstSpanIndex]] in sketch form: keep batch docs whose
    * sketch-estimated indexed-span fraction is at most `maxIndexedFrac`.
    * A pure per-row `filter` — no join, no shuffle, no id plumbing: at
    * 100 TB this is the FIRST gate in the ingest pipeline, shedding
    * boilerplate-dominated docs before anything shuffles (a plain
    * stream `filter` can carry it; the exact gates need `foreachBatch`).
    * The kept set is a SUBSET of the exact gate's at the same threshold
    * (no-false-negative estimates only push `indexed_frac` up),
    * spec-pinned. The predicate reuses [[spanStatsAgainstSketch]]'s
    * exact arithmetic (same division, same null-for-zero-spans ⇒ kept)
    * so gate and profile can never disagree on a doc. */
  def filterAgainstSpanSketch(newDocs: DataFrame, sketch: SpanSketch,
                              idCol: String, textCol: String,
                              maxIndexedFrac: Double = 0.5,
                              minDocs: Long = 1L,
                              allowSaturated: Boolean = false): DataFrame = {
    // the saturation footgun, made loud: a sketch whose counters are
    // ~all ≥ minDocs calls every span "indexed" and silently drops the
    // whole batch (the measured kept_sketch_fixed_w16 = 0 state).
    // Refuse it unless the caller explicitly opts in (harnesses that
    // MEASURE the saturation point do).
    require(allowSaturated || !sketch.saturatedFor(minDocs),
      f"filterAgainstSpanSketch: sketch is SATURATED at minDocs=$minDocs " +
        f"(a never-indexed span would pass the gate with probability " +
        f"${sketch.absentPassRate(minDocs)}%.3f; width=${sketch.width} vs " +
        f"N1=${sketch.n1}) — resize via sketchGeometryFor(n1, " +
        f"targetOvercount) or pass allowSaturated=true to measure anyway")
    val bc = newDocs.sparkSession.sparkContext.broadcast(sketch.counts)
    val spans = graft.functions.ShingleHashes
      .shingleHashes(col(textCol), sketch.n)
    val nSpans = size(spans)
    // zero-span docs are KEPT (same as the flat gate's left-anti on a
    // doc the stats never flag); the when-guard also keeps the division
    // legal under ANSI mode. The division itself is the same expression
    // spanStatsAgainstSketch computes — the same native probe over the
    // same broadcast transport — so gate and profile agree bit-wise
    val frac = when(nSpans > 0,
      graft.functions.SpanSketchProbe.indexedCount(spans, bc,
          sketch.width, sketch.depth, minDocs)
        .cast("double") / nSpans.cast("long").cast("double"))
    newDocs.filter(frac.isNull || !(frac > maxIndexedFrac))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, sum +1/−1 weighted by
    * the token-hash bit; the sign vector packs into one long. One narrow
    * pass via the native [[graft.functions.SimHash64]] expression (the
    * compose-from-built-ins version — explode + 64 conditional-sum
    * aggregates — costs a token-row shuffle for the same bits). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("sh_id"),
      graft.functions.SimHash64.simhash64(col(textCol)).as("simhash"))

  /** [[simhash]] plus the whitespace token count, computed in the same
    * narrow pass — the natural `lenCol` for [[simhashPairsPartitioned]]
    * (near-dups at Hamming ≤ 3 differ by a few tokens, so token count is
    * the sub-key they share). */
  def simhashWithTokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("sh_id"),
      graft.functions.SimHash64.simhash64(col(textCol)).as("simhash"),
      size(TextAnalysis.tokens(col(textCol))).as("n_tokens"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found by
    * banding the 64-bit hash into `bands` equal-width chunks (pigeonhole:
    * distance ≤ bands−1 ⇒ at least one chunk equal), then verifying with
    * `bit_count`. More bands buy a larger guaranteed radius at the cost of
    * more candidate collisions per doc (each band is narrower), so pick
    * the smallest `bands` whose radius covers the target `maxHamming` —
    * the 4 × 16-bit default covers the classic ≤ 3 near-dup setting.
    *
    * Scale honesty: unlike cosine LSH (where [[Similarity.lshGeometryFor]]
    * widens buckets with the corpus), the chunk width here is PINNED by
    * the recall guarantee (width = 64/bands), so the per-chunk bucket
    * space is fixed at `2^width` and random-pair candidates grow as
    * `bands · n²/2^width` once `n ≫ 2^width` (~65k docs at the default).
    * Candidates only face a cheap codegen'd `bit_count`, but for corpora
    * orders beyond that, use [[simhashPairsPartitioned]] (the exact
    * sub-key pre-partition made executable) or the MinHash path, whose
    * bucket space is the full 64-bit hash range. */
  def simhashPairs(hashes0: DataFrame, maxHamming: Int = 3,
                   bands: Int = 4): DataFrame =
    simhashVerify(simhashBandJoin(hashes0, bands, None), maxHamming, bands)

  /** [[simhashPairs]] with an exact sub-key pre-partition — the saturation
    * mitigation for corpora past `n ≈ 2^(64/bands)`: candidates must also
    * sit within one `bucketWidth` of each other on `lenCol` (a numeric
    * doc property near-dups share, e.g. token count). Each side's bucket
    * is `floor(len / bucketWidth)` and the probe side fans out to its own
    * and both ADJACENT buckets, so a pair within `bucketWidth` is never
    * lost to a boundary — the candidate key becomes
    * `(chunk, chunk_val, bucket)` and random-pair collisions divide by
    * the number of populated length buckets. That divides the QUADRATIC
    * COEFFICIENT (by the corpus's length spread — large for real
    * heavy-tailed corpora), it does not change the exponent: the n²
    * term is inherent to the pinned chunk width, so corpora far beyond
    * even the partitioned bound belong on the MinHash path (full 64-bit
    * bucket space). The bench_scale_simhash harness measures exactly
    * this: the partition defers the quadratic takeover by the bucket
    * factor.
    *
    * Semantics: all pairs with Hamming ≤ `maxHamming` AND
    * `|len_a − len_b| ≤ bucketWidth` are guaranteed found; pairs further
    * apart on `lenCol` may be missed (beyond 2·`bucketWidth`: always
    * missed) — that is the explicit recall trade the partition buys its
    * bound with, and it is a REAL restriction, not a formality: on the
    * driver testdata, hamming-≤3 pairs spanning >10 tokens exist (simhash
    * saturates on few-token documents, where a small Hamming distance no
    * longer implies textual similarity), and bench_scale_simhash records
    * both pair counts so the gap is measured, not assumed. Size
    * `bucketWidth` to the length spread your near-dup definition intends
    * to match; callers needing the full unrestricted Hamming relation use
    * [[simhashPairs]]. `hashes0` must carry `lenCol` alongside
    * `(sh_id, simhash)`. */
  def simhashPairsPartitioned(hashes0: DataFrame, lenCol: String,
                              bucketWidth: Long, maxHamming: Int = 3,
                              bands: Int = 4): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be positive, got $bucketWidth")
    simhashVerify(simhashBandJoin(hashes0, bands, Some((lenCol, bucketWidth))),
      maxHamming, bands)
  }

  /** Banding self-join shared by both simhash pair paths, pre-verify and
    * pre-distinct — `private[graft]` so the saturation spec can count raw
    * candidate volume (the actual cost driver) with and without the
    * sub-key partition. */
  private[graft] def simhashBandJoin(hashes0: DataFrame, bands: Int,
                                     subKey: Option[(String, Long)]): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64 evenly, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    // the banding self-join reads `hashes` on both sides — materialize once
    // (16 bytes/doc) so an expensive upstream (the full-text simhash scan)
    // isn't evaluated twice; same pattern as the shingle set in
    // minhashDuplicates
    val hashes = Materialize.eagerCheckpoint(hashes0)
    val chunks = posexplode(array((0 until bands).map(i =>
      shiftright(col("simhash"), i * width).bitwiseAND(mask)): _*))
    subKey match {
      case None =>
        val banded = hashes.select(col("sh_id"), col("simhash"), chunks)
          .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
        banded.select(col("chunk"), col("chunk_val"),
            col("sh_id").as("id_a"), col("simhash").as("sim_a"))
          .join(banded.select(col("chunk"), col("chunk_val"),
            col("sh_id").as("id_b"), col("simhash").as("sim_b")),
            Seq("chunk", "chunk_val"))
      case Some((lenCol, w)) =>
        // a null length would bucket to a null __lb that joins NOTHING —
        // the row would silently vanish from every candidate pair, a
        // semantic divergence from the plain path (which includes it).
        // simhashWithTokenCount never emits nulls, but the public API
        // accepts any numeric column, so fail loudly instead.
        val lb = when(col(lenCol).isNull, raise_error(lit(
            s"simhashPairsPartitioned: null $lenCol - every row needs a " +
              "length for the bucket sub-key")))
          .otherwise(floor(col(lenCol).cast("double") / w).cast("long"))
        val banded = hashes
          .select(col("sh_id"), col("simhash"), lb.as("__lb"), chunks)
          .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
        // probe side fans out to its own + both adjacent buckets (3× rows);
        // build side stays at its own bucket — every within-bucketWidth
        // pair meets exactly through the probe fan-out
        val l = banded.select(col("chunk"), col("chunk_val"),
          explode(array(col("__lb") - 1, col("__lb"), col("__lb") + 1)).as("__lb"),
          col("sh_id").as("id_a"), col("simhash").as("sim_a"))
        val r = banded.select(col("chunk"), col("chunk_val"), col("__lb"),
          col("sh_id").as("id_b"), col("simhash").as("sim_b"))
        l.join(r, Seq("chunk", "chunk_val", "__lb"))
    }
  }

  /** Verify tail of the simhash pair paths: order the pair, compute the
    * exact Hamming distance, dedup multi-chunk collisions, filter. */
  private def simhashVerify(joined: DataFrame, maxHamming: Int,
                            bands: Int): DataFrame = {
    require(maxHamming <= bands - 1,
      s"$bands-band pigeonhole guarantees recall only for distance <= ${bands - 1}")
    joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Default Hamming radius / band count of the multimodal near-dup
    * candidate pipelines, and the verify pass's fixed-point distance
    * ceilings — EXPOSED so the oracle SQL builders and CLI reference the
    * same values the engine defaults to: a default changed here without
    * these constants would silently desync the DuckDB replay from the
    * engine query. `ImageMaxQDist` allows a mean of 8 luma (×256
    * fixed-point) per 9×8-grid cell; `AudioMaxQDist` a mean per-frame
    * shape deviation of 1/16 of the 65-frame curve mean. */
  val MmMaxHamming = 3
  val MmBands = 4
  val ImageMaxQDist: Long = 72L * 8 * 256
  val AudioMaxQDist: Long = 65L * 16

  /** `VideoMaxQDist` is the image budget per sampled frame — the video
    * verify distance sums |Δ| over `VideoSampleFrames`·72 temporally
    * aligned cells, so the allowance is the same mean 8 luma (×256
    * fixed-point) per cell per frame. */
  val VideoMaxQDist: Long =
    Multimodal.VideoSampleFrames.toLong * ImageMaxQDist

  /** Image near-duplicate pairs: dHash per asset
    * ([[Multimodal.imageDHash]] — rescale- and aspect-invariant by
    * construction, so re-encoded/resized copies of the same picture
    * collide where byte-level exact dedup misses them), then the SAME
    * banded-Hamming candidate machinery as [[simhashPairs]] — both are
    * 64-bit content hashes, so the pigeonhole banding, bucket-space
    * saturation math, and `bit_count` verification carry verbatim.
    * Assets whose payload no codec claims (or whose raster undersamples
    * the 9×8 grid) carry a null dhash and are EXCLUDED from pairing —
    * an unhashable image cannot be a near-dup candidate; the null rows
    * stay visible upstream via [[Multimodal.imageDHash]] itself.
    * Returns `(id_a, id_b, hamming)` with `id_a < id_b`.
    *
    * Recall honesty: dHash is rescale-invariant up to POOLING NOISE, not
    * bit-exact — a rescaled copy whose field is flat where the grid
    * compares can drift past the radius (measured on the q_image_dedup
    * corpus at sf0.1: 963/1000 planted 1.3–2×-rescale copies within
    * hamming 3, worst single drift 13). Widening the radius (maxHamming,
    * with bands sized to cover it) trades saturation for recall: the
    * chunk width is 64/bands, so the per-chunk bucket space shrinks as
    * bands grow — the same pinned-width saturation math as
    * [[simhashPairs]], which is why the default stays at the width-16
    * 4-band setting.
    *
    * Precision honesty (measured, bench_scale_multimodal.json): two
    * UNRELATED images land within the radius with a small fixed
    * probability (~9·10⁻⁶ per pair on the synthetic corpus — 21 spurious
    * pairs among 2.9M at 2400 assets), so spurious pairs grow
    * QUADRATICALLY in corpus size while plants grow linearly. At
    * billion-image scale, treat this operator's output as CANDIDATES and
    * verify each pair downstream (e.g. pooled-luminance grid distance or
    * full-resolution compare) — the same candidate-generate-verify
    * discipline as [[lshCandidatePairs]]; at the tested scales the
    * within-radius set IS the answer the oracle replays. */
  def imageNearDupPairs(assets: DataFrame, maxHamming: Int = MmMaxHamming,
                        bands: Int = MmBands): DataFrame =
    simhashPairs(imageHashes(assets), maxHamming, bands)

  /** Per-asset image dHashes in the `(sh_id, simhash)` shape every
    * 64-bit-hash surface here consumes (pairing, the persisted hash
    * index, the streaming ingest gate) — unhashable assets (null dhash)
    * excluded, as everywhere: they cannot be candidates. */
  def imageHashes(assets: DataFrame): DataFrame =
    Multimodal.imageDHash(assets)
      .filter(col("dhash").isNotNull)
      .select(col("asset_id").as("sh_id"), col("dhash").as("simhash"))

  /** [[imageHashes]] for the audio fingerprint. */
  def audioHashes(assets: DataFrame): DataFrame =
    Multimodal.audioFingerprints(assets)
      .filter(col("afp").isNotNull)
      .select(col("asset_id").as("sh_id"), col("afp").as("simhash"))

  /** Audio near-duplicate pairs — the [[imageNearDupPairs]] story for the
    * third modality: energy-delta fingerprint per asset
    * ([[Multimodal.audioFingerprints]] — gain- and resample-invariant by
    * construction, so a re-encoded/resampled copy of the same clip
    * collides where byte-level exact dedup misses it), then the SAME
    * banded-Hamming candidate machinery as [[simhashPairs]]. Both are
    * 64-bit content hashes, so the pigeonhole banding, bucket-space
    * saturation math, and `bit_count` verification carry verbatim.
    * Assets too short to frame carry a null fingerprint and are EXCLUDED
    * from pairing (an unhashable clip cannot be a near-dup candidate);
    * the null rows stay visible upstream via
    * [[Multimodal.audioFingerprints]] itself. Returns
    * `(id_a, id_b, hamming)` with `id_a < id_b`.
    *
    * Recall honesty (the [[imageNearDupPairs]] caveat, 1-D): the
    * fingerprint is invariant up to POOLING and ROUNDING noise — a copy
    * whose energy curve is flat where adjacent frames compare can drift
    * past the radius. Widening `maxHamming` (with `bands` sized to cover
    * it) trades bucket saturation for recall, same math as
    * [[simhashPairs]]. */
  def audioNearDupPairs(assets: DataFrame, maxHamming: Int = MmMaxHamming,
                        bands: Int = MmBands): DataFrame =
    simhashPairs(audioHashes(assets), maxHamming, bands)

  /** [[imageHashes]] for the temporal-mean video dHash. */
  def videoHashes(assets: DataFrame): DataFrame =
    Multimodal.videoDHash(assets)
      .filter(col("vhash").isNotNull)
      .select(col("asset_id").as("sh_id"), col("vhash").as("simhash"))

  /** Video near-duplicate pairs — the [[imageNearDupPairs]] story for
    * the fourth modality: temporal-mean dHash per clip
    * ([[Multimodal.videoDHash]] — frame-rate-, rescale-, and
    * aspect-invariant by construction, so a transcoded copy at a
    * different frame count AND resolution collides where byte-level
    * exact dedup misses it), then the SAME banded-Hamming candidate
    * machinery as [[simhashPairs]]. 64-bit hash ⇒ the pigeonhole
    * banding, bucket-space saturation math, `bit_count` verification,
    * AND the persisted hash-index lifecycle
    * ([[writeHashIndex]]..[[pairsAgainstHashIndex]] — generic over any
    * `(sh_id, simhash)` source, pinned by the image queries) all carry
    * verbatim. Clips with no decodable sampled frames carry a null
    * vhash and are EXCLUDED from pairing; the null rows stay visible
    * upstream via [[Multimodal.videoDHash]] itself.
    *
    * Recall/precision honesty: the [[imageNearDupPairs]] caveats apply
    * per sampled frame, plus one video-specific slack — the temporal
    * MEAN is order-blind, so a reordered cut of the same footage
    * collides here by design; the verify pass
    * ([[videoNearDupPairsVerified]], temporally ALIGNED distances)
    * separates true transcodes from reorderings. */
  def videoNearDupPairs(assets: DataFrame, maxHamming: Int = MmMaxHamming,
                        bands: Int = MmBands): DataFrame =
    simhashPairs(videoHashes(assets), maxHamming, bands)

  /** Exact integer distance between two quantized feature arrays joined
    * onto a candidate-pair frame, filtered at `maxQDist` — the VERIFY
    * tail of the multimodal candidate-generate-verify pipelines. The
    * pair side is the (small) candidate set; the feature table joins in
    * twice keyed by asset id, AQE picks the join strategy. A candidate
    * whose either side lacks a feature row (undecodable/silent asset)
    * cannot be verified and is dropped — candidates are only PROMOTED by
    * evidence, never waved through. */
  private def verifyQuantPairs(cands: DataFrame, feats: DataFrame,
                               maxQDist: Long): DataFrame =
    cands
      .join(feats.select(col("asset_id").as("id_a"), col("__q").as("__qa")), "id_a")
      .join(feats.select(col("asset_id").as("id_b"), col("__q").as("__qb")), "id_b")
      .withColumn("qdist",
        aggregate(zip_with(col("__qa"), col("__qb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x))
      .filter(col("qdist") <= maxQDist)
      .select("id_a", "id_b", "hamming", "qdist")

  /** Shared single-decode core of the three `*NearDupPairsVerified`
    * pipelines: ONE combined `(asset_id, <hash>, <qfeat>)` extractor
    * pass over the codec boundary, materialized once, then the banded
    * candidate machinery reads the 8-byte hashes and the verify joins
    * read the quantized features from the SAME materialized frame. The
    * two-pass form paid the decode THREE times — once for the hash
    * frame and once per side of [[verifyQuantPairs]]' two feature joins
    * (unmaterialized, each join side re-evaluated the full decode scan)
    * — and the decode dominates every multimodal query, so this is the
    * §8 "decide with small rows, move heavy bytes once" shape applied
    * to CPU: decode once, serve every downstream consumer from the
    * ≤600 B/asset combined frame. */
  private def verifiedPairsOnePass(hashGrids: DataFrame, hashCol: String,
                                   qCol: String, maxHamming: Int, bands: Int,
                                   maxQDist: Long): DataFrame = {
    val hg = Materialize.eagerCheckpoint(hashGrids)
    verifyQuantPairs(
      simhashPairs(hg.filter(col(hashCol).isNotNull)
        .select(col("asset_id").as("sh_id"), col(hashCol).as("simhash")),
        maxHamming, bands),
      hg.filter(col(qCol).isNotNull).select(col("asset_id"), col(qCol).as("__q")),
      maxQDist)
  }

  /** [[imageNearDupPairs]] with the VERIFY pass the operator's own
    * precision note calls for at large corpus sizes: banded-Hamming
    * CANDIDATES, then each candidate pair's quantized 9×8 luminance
    * grids ([[Multimodal.luminanceGridsQ]] — the SAME pooled field the
    * dHash thresholds, fixed-point so the distance is an exact integer)
    * compared at `maxQDist` (Σ per-cell |Δ| in 1/256-luma units; the
    * default allows a mean of 8 luma per cell — measured plants sit well
    * under it, spurious hash collisions well over). Spurious pairs grow
    * quadratically with corpus size while their survival of THIS filter
    * requires two unrelated fields to agree cell-by-cell — the verify
    * turns a fixed per-pair false-positive rate into a vanishing one,
    * the [[lshCandidatePairs]] candidate-generate-verify shape on the
    * image axis. Returns `(id_a, id_b, hamming, qdist)`. */
  def imageNearDupPairsVerified(assets: DataFrame,
                                maxHamming: Int = MmMaxHamming,
                                bands: Int = MmBands,
                                maxQDist: Long = ImageMaxQDist): DataFrame =
    verifiedPairsOnePass(Multimodal.imageHashGridsQ(assets),
      "dhash", "qgrid", maxHamming, bands, maxQDist)

  /** [[audioNearDupPairs]] with the verify pass — candidates compared on
    * their quantized MEAN-NORMALIZED energy curves
    * ([[Multimodal.energyCurvesQ]]: gain-invariant shape, fixed-point
    * exact distance). The default `maxQDist` allows a mean per-frame
    * shape deviation of 1/16 of the curve mean (16/256 units × 65
    * frames). Returns `(id_a, id_b, hamming, qdist)`. */
  def audioNearDupPairsVerified(assets: DataFrame,
                                maxHamming: Int = MmMaxHamming,
                                bands: Int = MmBands,
                                maxQDist: Long = AudioMaxQDist): DataFrame =
    verifiedPairsOnePass(Multimodal.audioHashCurvesQ(assets),
      "afp", "qcurve", maxHamming, bands, maxQDist)

  /** [[videoNearDupPairs]] with the verify pass — candidates compared on
    * their quantized TEMPORALLY ALIGNED sampled grids
    * ([[Multimodal.videoGridsQ]]: cell `j·72+c` of one clip against cell
    * `j·72+c` of the other, fixed-point exact distance), so the
    * order-blind temporal-mean hash's one structural false-positive
    * class — same footage, different frame ORDER — dies here along with
    * the generic spurious-collision class. Default `maxQDist` allows a
    * mean 8 luma per cell per sampled frame ([[VideoMaxQDist]]).
    * Returns `(id_a, id_b, hamming, qdist)`. */
  def videoNearDupPairsVerified(assets: DataFrame,
                                maxHamming: Int = MmMaxHamming,
                                bands: Int = MmBands,
                                maxQDist: Long = VideoMaxQDist): DataFrame =
    verifiedPairsOnePass(Multimodal.videoHashGridsQ(assets),
      "vhash", "qgrid", maxHamming, bands, maxQDist)

  // ──────────────── persisted 64-bit hash index lifecycle ────────────────
  // The multimodal counterpart of the MinHash banded index
  // (writeBandedIndex..dedupAgainstBandedIndex): imageNearDupPairs /
  // audioNearDupPairs recompute every hash and re-pair the FULL corpus
  // per run, but a 100 TB multimodal ingest dedups NEW assets against an
  // EXISTING hash table incrementally — hash each asset once at ingest
  // (the expensive decode), persist 8 bytes, and serve every later batch
  // from the banded layout. The signature being one long (vs the MinHash
  // 128-int array) only simplifies the machinery: the banding is
  // [[simhashBandJoin]]'s pigeonhole chunking, the verify is `bit_count`,
  // and the [[EpochLog]] protocol carries from the MinHash layout
  // VERBATIM (same `_bands`/`_sigs` tables and bucket keys, same log), so
  // the crash-consistency story is one story, not two. Reference anchor: the incremental-append requirement
  // (step-1/appender.py:215-323) extended to the binary-column model.

  /** `(bh, sh_id)` banding of a `(sh_id, simhash)` frame for the
    * PERSISTED layout: the [[simhashBandJoin]] chunking (width 64/bands,
    * pigeonhole-complete at distance ≤ bands−1) with the chunk key
    * hashed to one collision column `bh = xxhash64(chunk, chunk_val)` —
    * the [[writeBandedIndex]] trick that makes the bucketed join key
    * exactly the bucket column. A bh collision between different chunks
    * (~2⁻⁶⁴) only adds a spurious CANDIDATE; membership is decided by
    * the exact Hamming verify either way. */
  private def hashBandRows(hashes: DataFrame, bands: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64 evenly, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val chunks = posexplode(array((0 until bands).map(i =>
      shiftright(col("simhash"), i * width).bitwiseAND(mask)): _*))
    hashes.select(col("sh_id"), chunks)
      .select(xxhash64(col("pos"), col("col")).as("bh"), col("sh_id"))
  }

  /** Null-free `(sh_id, simhash)` projection, materialized ONCE (16
    * bytes/asset) — every write/append/serve scans its hash frame twice
    * (band rows + signature rows), and for multimodal hashes the
    * upstream is a full DECODE pass per scan; unlike the ~1 KB/doc
    * MinHash signatures, a hash frame is always cheap enough to pin. */
  private def cleanHashes(hashes: DataFrame): DataFrame =
    eagerCheckpoint(
      hashes.select(col("sh_id"), col("simhash"))
        .filter(col("simhash").isNotNull))

  /** Persist a `(sh_id, simhash)` hash frame in the SERVING layout —
    * [[writeBandedIndex]] for 64-bit content hashes (image dHash, audio
    * fingerprint, text simhash alike): `<name>_bands` = the pre-banded
    * collision rows bucketed AND sorted by `bh`, `<name>_sigs` = the
    * hashes themselves bucketed by `sh_id` with the band count riding as
    * `n_bands` (geometry-with-the-data, the `sig_k` rule), committed
    * through the [[EpochLog]]. The bucket-aligned-repartition rationale
    * is the [[writeBandedIndex]] one verbatim. Null hashes are
    * excluded (an unhashable asset cannot be a candidate); `hashes` is
    * materialized internally, so an expensive upstream (a decode pass)
    * runs once. */
  def writeHashIndex(hashes: DataFrame, name: String,
                     buckets: Int = 256, bands: Int = MmBands): Unit = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val clean = cleanHashes(hashes)
    val epoch = EpochLog.newEpoch()
    hashBandRows(clean, bands)
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("bh"))
      .write.mode("overwrite")
      .bucketBy(buckets, "bh").sortBy("bh")
      .saveAsTable(s"${name}_bands")
    clean.withColumn("n_bands", lit(bands))
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("sh_id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "sh_id").sortBy("sh_id")
      .saveAsTable(s"${name}_sigs")
    EpochLog.table(hashes.sparkSession, name).overwrite(epoch)
  }

  /** Incremental GROWTH of a [[writeHashIndex]] layout — the ingest
    * shape: hash the new batch once, append its band rows and hashes
    * under a fresh committed epoch. Band count and bucket count are read
    * FROM the tables (appends are geometry-consistent by construction);
    * one new file per bucket per call, reclaimed by
    * [[compactHashIndex]]. */
  def appendToHashIndex(newHashes: DataFrame, name: String): Unit =
    doHashAppend(newHashes, name, key = None)

  /** [[appendToHashIndex]] keyed for AT-LEAST-ONCE callers — the
    * multimodal mirror of [[appendToBandedIndexIdempotent]] (replays
    * no-op and return false). */
  def appendToHashIndexIdempotent(newHashes: DataFrame, name: String,
                                  key: String): Boolean =
    if (EpochLog.table(newHashes.sparkSession, name)
        .keyCommitted(key, "appendToHashIndex", "writeHashIndex")) false
    else { doHashAppend(newHashes, name, Some(key)); true }

  private def doHashAppend(newHashes: DataFrame, name: String,
                           key: Option[String]): Unit = {
    val spark = newHashes.sparkSession
    val log = EpochLog.table(spark, name)
    val committed = log.committed("appendToHashIndex", "writeHashIndex")
    val head = log.committedRows(spark.table(s"${name}_sigs"), committed)
      .select(col("n_bands")).limit(1).collect()
    require(head.nonEmpty,
      s"appendToHashIndex: no committed rows in ${name}_sigs (crashed rebuild?) - re-run writeHashIndex")
    val bands = head.head.getInt(0)
    val buckets = tableBuckets(spark, s"${name}_sigs")
    val epoch = EpochLog.newEpoch()
    val clean = cleanHashes(newHashes)
    hashBandRows(clean, bands)
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("bh"))
      .write.mode("append")
      .bucketBy(buckets, "bh").sortBy("bh")
      .saveAsTable(s"${name}_bands")
    clean.withColumn("n_bands", lit(bands))
      .withColumn("build_id", lit(epoch))
      .repartition(buckets, col("sh_id"))
      .write.mode("append")
      .bucketBy(buckets, "sh_id").sortBy("sh_id")
      .saveAsTable(s"${name}_sigs")
    log.append(epoch, key)
  }

  /** DELETE assets from a [[writeHashIndex]] layout — deletion never
    * hashes, it only writes [[EpochLog]] tombstones by id, so
    * [[deleteFromBandedIndex]] serves both layout families. */
  def deleteFromHashIndex(ids: DataFrame, name: String,
                          idCol: String): Unit =
    deleteFromBandedIndex(ids, name, idCol)

  /** COMPACTION of a [[writeHashIndex]] layout — [[compactBandedIndex]]
    * carries verbatim: identical table names and bucket keys (`bh`,
    * `sh_id`), schema-agnostic merge, same [[EpochLog.compact]] swap. */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession,
                       name: String): Unit =
    compactBandedIndex(spark, name)

  /** Near-dup pairs of a NEW batch's hashes against a [[writeHashIndex]]
    * layout — the serving shape: batch band rows join the bucket-aligned
    * `_bands` table on `bh` alone (one-sided shuffle: only the batch and
    * the candidate set ever exchange), candidates verified by the exact
    * `bit_count` Hamming distance against the committed, tombstone-
    * filtered `_sigs` rows. Band count comes from the tables; the
    * pigeonhole guarantee requires `maxHamming ≤ bands−1`, enforced.
    * Batch-internal duplicates are out of scope exactly as in
    * [[dedupAgainstIndex]] — pair the (small) batch with
    * [[simhashPairs]] for those. Output `(new_id, index_id, hamming)`. */
  def pairsAgainstHashIndex(newHashes: DataFrame, name: String,
                            maxHamming: Int = MmMaxHamming): DataFrame = {
    val spark = newHashes.sparkSession
    val log = EpochLog.table(spark, name)
    val committed = log.committed("pairsAgainstHashIndex", "writeHashIndex")
    val sigs = log.committedRows(spark.table(s"${name}_sigs"), committed)
    val head = sigs.select(col("n_bands")).limit(1).collect()
    require(head.nonEmpty,
      s"pairsAgainstHashIndex: no committed rows in ${name}_sigs " +
        "(crashed writeHashIndex rebuild?) - re-run writeHashIndex")
    val bands = head.head.getInt(0)
    require(maxHamming <= bands - 1,
      s"$bands-band pigeonhole guarantees recall only for distance <= ${bands - 1}")
    val bandsCommitted = log.committedRows(spark.table(s"${name}_bands"), committed)
    require(bandsCommitted.select(lit(1)).limit(1).collect().nonEmpty,
      s"pairsAgainstHashIndex: no committed rows in ${name}_bands " +
        "(crashed writeHashIndex rebuild?) - re-run writeHashIndex")
    val newClean = cleanHashes(newHashes)
    val nb = hashBandRows(newClean, bands)
      .withColumnRenamed("sh_id", "new_id")
    // join key = the bucket column and nothing else, the
    // dedupAgainstBandedIndex rule: a residual chunk equality would
    // misalign the join keys with the bucketing and force the index-side
    // exchange this layout exists to avoid
    val cands = nb.join(bandsCommitted.select("bh", "sh_id"), Seq("bh"))
      .select(col("new_id"), col("sh_id").as("index_id")).distinct()
    // tombstoned assets anti-joined on the signature side — their band
    // rows may still surface candidates, which die here; compaction
    // reclaims the residual candidate traffic
    val sigsChecked = log.withoutTombstones(sigs, "sh_id", committed)
      .select(col("sh_id").as("index_id"), col("simhash").as("sim_i"))
    cands
      .join(newClean.select(col("sh_id").as("new_id"),
        col("simhash").as("sim_n")), "new_id")
      .join(sigsChecked, "index_id")
      .select(col("new_id"), col("index_id"),
        bit_count(col("sim_n").bitwiseXOR(col("sim_i"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[pairsAgainstHashIndex]] over a new IMAGE batch: decode + dHash
    * once (the narrow pass), serve from the persisted table. */
  def imagePairsAgainstHashIndex(newAssets: DataFrame, name: String,
                                 maxHamming: Int = MmMaxHamming): DataFrame =
    pairsAgainstHashIndex(imageHashes(newAssets), name, maxHamming)

  /** [[pairsAgainstHashIndex]] over a new AUDIO batch. */
  def audioPairsAgainstHashIndex(newAssets: DataFrame, name: String,
                                 maxHamming: Int = MmMaxHamming): DataFrame =
    pairsAgainstHashIndex(audioHashes(newAssets), name, maxHamming)

  /** [[pairsAgainstHashIndex]] over a new VIDEO batch: frame walk +
    * temporal-mean dHash once (sampled frames only), serve from the
    * persisted table. */
  def videoPairsAgainstHashIndex(newAssets: DataFrame, name: String,
                                 maxHamming: Int = MmMaxHamming): DataFrame =
    pairsAgainstHashIndex(videoHashes(newAssets), name, maxHamming)

  // ───────────────────────── keep-set resolution ─────────────────────────

  /** Representative KEEP list from a near-dup pair frame: resolve pairs
    * into connected components ([[duplicateClusters]]), keep each
    * cluster's minimum id, drop the other members — the `q_dedup_rep`
    * convention applied to any pair relation. Ids in no pair survive
    * untouched (a singleton is its own representative). `ids` must be
    * one row per entity carrying `idCol`; pairs carry `(id_a, id_b)`.
    * The loser set is cluster-members-minus-reps — candidate-pair-sized,
    * so the anti-join broadcasts under AQE at any corpus size where the
    * pair relation itself is tractable. */
  def keepSetFromPairs(ids: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val losers = duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as(idCol))
    ids.join(losers, Seq(idCol), "left_anti")
  }

  /** The multimodal pipeline's end state — what a curation run actually
    * consumes: VERIFIED image near-dup pairs resolved to clusters, one
    * representative (min asset id) kept per cluster, every unpaired
    * asset kept. Composes [[imageNearDupPairsVerified]] (so a spurious
    * hash collision cannot evict a real asset) with [[keepSetFromPairs]].
    * Output: `(asset_id)` — the keep list. */
  def imageNearDupKeep(assets: DataFrame,
                       maxHamming: Int = MmMaxHamming,
                       bands: Int = MmBands,
                       maxQDist: Long = ImageMaxQDist): DataFrame =
    keepSetFromPairs(assets.select("asset_id"), "asset_id",
      imageNearDupPairsVerified(assets, maxHamming, bands, maxQDist))

  /** [[imageNearDupKeep]] for the audio modality. */
  def audioNearDupKeep(assets: DataFrame,
                       maxHamming: Int = MmMaxHamming,
                       bands: Int = MmBands,
                       maxQDist: Long = AudioMaxQDist): DataFrame =
    keepSetFromPairs(assets.select("asset_id"), "asset_id",
      audioNearDupPairsVerified(assets, maxHamming, bands, maxQDist))

  /** [[imageNearDupKeep]] for the video modality. */
  def videoNearDupKeep(assets: DataFrame,
                       maxHamming: Int = MmMaxHamming,
                       bands: Int = MmBands,
                       maxQDist: Long = VideoMaxQDist): DataFrame =
    keepSetFromPairs(assets.select("asset_id"), "asset_id",
      videoNearDupPairsVerified(assets, maxHamming, bands, maxQDist))
}
