package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** Continuous ANN-index maintenance: a stream of new embedding rows kept
  * servable in a learned layout
  * ([[graft.operators.Similarity.writeLearnedIndex]], any kind),
  * exactly-once.
  *
  * The topology is the ANN counterpart of the dedup side's lambda shape
  * ([[StreamingCurate]]): a landing stream feeds per-micro-batch
  * [[graft.operators.Similarity.appendToLearnedIndex]] calls (new rows
  * become servable at the next batch boundary, encoded by the index's
  * riding quantizer — rotated first on an OPQ path, so streamed codes
  * are indistinguishable from build-time codes), while the BATCH cadence
  * owns the layout — drift-gated
  * [[graft.operators.Similarity.refreshLearnedIndex]] re-learns it and
  * [[graft.operators.Similarity.compactLearnedIndex]] folds the
  * per-append files back to ~one per cell. The index append cannot run
  * in a continuous plan (it is a keyed side-effecting write, not a
  * stream transform), so it lives in `foreachBatch` — which is
  * AT-LEAST-once under query restarts, hence the batch-id idempotency
  * key: a replayed batch reads as already-delivered and no-ops instead
  * of serving its rows twice.
  *
  * {{{
  * spark.readStream.schema(embSchema).parquet(landingDir)
  *   .writeStream
  *   .foreachBatch(IvfIngest.sink(indexPath, "vec_id", "embedding"))
  *   .option("checkpointLocation", ckpt)
  *   .trigger(Trigger.AvailableNow())   // or ProcessingTime for continuous
  *   .start()
  * }}}
  *
  * Single-writer discipline: pause the stream (or drain it) around a
  * refresh rebuild or a compaction, exactly like batch appends. */
object IvfIngest {

  /** The `foreachBatch` sink: append this micro-batch to the index under
    * its batch-id key. Empty batches are skipped without touching the
    * index (AvailableNow triggers emit them freely; an empty append would
    * burn an epoch and a file listing for nothing). */
  def sink(indexPath: String, idCol: String,
           embCol: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      if (batch.limit(1).collect().nonEmpty) {
        Similarity.appendToLearnedIndex(batch, indexPath, idCol, embCol,
          key = Some(s"batch_$batchId"))
        ()
      }
}
