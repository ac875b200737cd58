package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EpochLog, QuantizerTables, Similarity}

/** Streaming SEMANTIC-dedup gate — the ingest-time twin of
  * [[graft.operators.Similarity.semDedup]] (Abbas et al. 2023): every
  * arriving embedding row is admitted only if no already-KEPT row in
  * its k-means cell sits at cosine ≥ τ, and the admitted rows become
  * part of the kept set the NEXT batch is gated against. The batch
  * form answers "which docs survive semantic dedup of this corpus";
  * this form answers the production question "may this NEW doc enter
  * the corpus" without re-clustering anything.
  *
  * STATE is a persisted cell-partitioned kept-set layout composing the
  * learned-IVF protocol ([[graft.operators.Similarity
  * .writeLearnedIndex]]'s design): the centroid matrix rides at
  * `_centroids` (so batches are labeled by the SAME quantizer the kept
  * set was — the mismatch class is unconstructable), rows carry their
  * epoch `build_id` and land partitioned by `coarse`, and a directory
  * [[graft.operators.EpochLog]] lists what serving and gating may see —
  * a crashed batch's rows are invisible and the batch-id idempotency key
  * makes `foreachBatch` replays no-op (at-least-once → exactly-once, the
  * [[IvfIngest]] contract). Unlike
  * the ANN index the kept set stores FULL-PRECISION vectors: the gate
  * is a threshold test, and deciding borderline pairs on quantized
  * cosines would mis-gate exactly the pairs the threshold exists for.
  *
  * ORDER SEMANTICS, explicitly: across batches, ARRIVAL WINS — a kept
  * row is never evicted by a later near-duplicate, whatever their ids
  * (the only implementable rule without rewriting history on every
  * batch). Within one batch the deterministic id rule applies
  * ([[graft.operators.Similarity.withSemDupFlag]] `keepBy = "id"`).
  * A one-batch stream therefore reproduces batch [[graft.operators
  * .Similarity.semDedup]] exactly (spec-pinned); multi-batch streams
  * agree with it whenever arrival order is id order.
  *
  * COST per batch: within-batch dedup is cell-bounded (the semDedup
  * economics), and the cross-check joins the batch against ONLY the
  * kept rows of the batch's own cells — the cell list (bounded by the
  * k-means k cap) prunes the kept-set read at the partition listing.
  * A hot cell's kept rows are the quadratic risk exactly as in batch
  * SemDeDup; raise k or gate that cell via the LSH path.
  *
  * {{{
  * SemDedupIngest.init(spark, statePath,
  *   Similarity.kmeansFit(seedCorpus, "vec_id", "embedding", k = 64))
  * spark.readStream.schema(embSchema).parquet(landingDir)
  *   .writeStream
  *   .foreachBatch(SemDedupIngest.sink(statePath, "vec_id", "embedding",
  *     minCosine = 0.95))
  *   .option("checkpointLocation", ckpt)
  *   .trigger(Trigger.AvailableNow())
  *   .start()
  * }}}
  *
  * Single-writer discipline, like every stateful layout here. The
  * quantizer is FROZEN at init: cell drift accumulates exactly as the
  * ANN index's does — refit centroids offline, re-init a fresh path,
  * and replay the kept set through it when drift warrants. */
object SemDedupIngest {

  /** Create the gate state at `path`: the centroid matrix (its own
    * `_SUCCESS`-committed table) and an EMPTY epoch-commit table — the
    * kept set starts empty, so the first batch is gated only against
    * itself. Refuses an already-initialized path (re-init would orphan
    * the kept rows while a stale checkpoint keeps feeding it). */
  def init(spark: SparkSession, path: String,
           centroids: Array[Array[Double]]): Unit = {
    require(centroids.nonEmpty && centroids.head.nonEmpty &&
      centroids.forall(_.length == centroids.head.length),
      "centroids must be non-empty vectors of one shared dimensionality")
    val log = EpochLog.directory(spark, path)
    require(!log.exists,
      s"sem_dedup_ingest: $path is already initialized - re-initializing " +
        "would orphan its kept set under a live checkpoint; use a fresh " +
        "path (and replay the kept set) to change the quantizer")
    QuantizerTables.Centroids.write(spark, path, centroids)
    log.overwrite()
  }

  private val Op = "sem_dedup_ingest"
  private val Init = "SemDedupIngest.init"

  private def centroidsOf(spark: SparkSession,
                          path: String): Array[Array[Double]] = {
    EpochLog.requireMarker(spark, QuantizerTables.Centroids.at(path), Op,
      s"not an initialized gate state (or a crashed init); run $Init first")
    val cents = QuantizerTables.Centroids.read(spark, path)
    require(cents.nonEmpty, s"sem_dedup_ingest: empty centroid table at $path")
    cents
  }

  /** The kept set — the semantically-deduplicated corpus so far:
    * `(idCol, embCol, coarse)` over committed epochs only. Fails loudly
    * before any batch has landed (there is no schema to serve). */
  def keptSet(spark: SparkSession, path: String): DataFrame = {
    val log = EpochLog.directory(spark, path)
    // may legitimately be empty (a fresh gate) — but then there is no
    // schema to serve
    val committed = log.committedOrEmpty(Op, Init)
    require(committed.nonEmpty,
      s"sem_dedup_ingest: no committed batches at $path yet")
    log.committedRows(spark.read.parquet(path), committed).drop("build_id")
  }

  /** True iff a [[gateBatch]]/[[gateBatchWith]] under `key` already
    * committed — public so COMPOSING sinks (the streaming-curation
    * capstone) can skip their whole upstream recompute on a replay,
    * not just the gate. */
  def keyCommitted(spark: SparkSession, path: String, key: String): Boolean =
    EpochLog.directory(spark, path).keyCommitted(key, Op, Init)

  /** Gate one batch idempotently under `key`: returns false (no-op) if
    * the key is already committed, true after landing the batch's
    * survivors as a fresh committed epoch. The exactly-once argument is
    * [[graft.operators.Similarity.appendToLearnedIndex]]'s keyed form: a
    * crashed attempt left only rows no committed epoch lists, and the
    * retry recomputes the SAME survivors (the kept set it gates against
    * is unchanged — orphans are invisible to it too). */
  def gateBatch(batch: DataFrame, path: String, idCol: String,
                embCol: String, minCosine: Double, key: String): Boolean =
    gateBatchWith(batch, path, idCol, embCol, minCosine, key)(_ => ())

  /** [[gateBatch]] with a DELIVERY leg: `land` receives the batch's
    * survivors `(idCol, embCol, coarse)` — MATERIALIZED, so the
    * delivery and the state append read one computation, never two
    * possibly-diverging evaluations — and runs BEFORE the commit. One delivery token covers both legs, the
    * [[StreamingCurate.idempotentCurateIngestSink]] discipline: a
    * committed key means the survivors were both delivered and added
    * to the kept set; a crash at any earlier point (including inside
    * `land`) leaves the key uncommitted and the replay recomputes the
    * SAME survivors (orphan state rows are invisible to the gate) and
    * re-runs the delivery, which must therefore be idempotent itself
    * (e.g. [[StreamingCurate.writeBatchIdempotent]]'s batch-keyed
    * overwrite). */
  def gateBatchWith(batch: DataFrame, path: String, idCol: String,
                    embCol: String, minCosine: Double, key: String)
                   (land: DataFrame => Unit): Boolean = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    val spark = batch.sparkSession
    val log = EpochLog.directory(spark, path)
    if (log.keyCommitted(key, Op, Init)) return false
    val cents = centroidsOf(spark, path)
    val committed = log.committedOrEmpty(Op, Init)
    // within-batch semantic dedup first (deterministic id rule), so two
    // near-dup rows in ONE batch cannot both slip past a kept set that
    // contains neither
    val survivors = Similarity.semDedup(batch.select(col(idCol), col(embCol)),
      idCol, embCol, cents, minCosine)
    // cross-check against the kept rows of the batch's own cells only:
    // the cell list is bounded by the centroid count, and the isin
    // predicate prunes the kept-set read at the partition listing
    val out =
      if (committed.isEmpty) survivors
      else {
        val cells = survivors.select("coarse").distinct().collect()
          .map(_.get(0))
        if (cells.isEmpty) survivors
        else {
          val kept = log.committedRows(spark.read.parquet(path)
            .filter(col("coarse").isin(cells.toSeq: _*)), committed)
          val b = Similarity.withNorm(survivors, embCol)
            .select(col("coarse"), col(idCol), col("vec").as("__bv"),
              col("norm").as("__bn"))
          val kk = Similarity.withNorm(kept, embCol)
            .select(col("coarse"), col("vec").as("__kv"),
              col("norm").as("__kn"))
          val dead = b.join(kk, Seq("coarse"))
            .filter(!(col("__bn") === 0.0 || col("__kn") === 0.0) &&
              Similarity.dot(col("__bv"), col("__kv")) /
                (col("__bn") * col("__kn")) >= minCosine)
            .select(col(idCol)).distinct()
          survivors.join(broadcast(dead), Seq(idCol), "left_anti")
        }
      }
    // survivors materialized ONCE — the delivery leg and the state
    // append must read the same rows, not two evaluations of the plan
    val survived = graft.operators.Materialize.eagerCheckpoint(
      out.select(col(idCol), col(embCol), col("coarse")))
    land(survived)
    // data first, the commit LAST
    val epoch = EpochLog.newEpoch()
    val landed = survived.withColumn("build_id", lit(epoch))
    if (landed.limit(1).collect().nonEmpty)
      landed.repartition(col("coarse"))
        .write.mode("append").partitionBy("coarse").parquet(path)
    log.append(epoch, Some(key))
    true
  }

  /** The `foreachBatch` sink: gate each micro-batch under its batch-id
    * key. Empty batches are skipped without burning an epoch. */
  def sink(path: String, idCol: String, embCol: String,
           minCosine: Double): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      if (batch.limit(1).collect().nonEmpty) {
        gateBatch(batch, path, idCol, embCol, minCosine, s"batch_$batchId")
        ()
      }
}
