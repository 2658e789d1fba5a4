package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The lifecycle every JVM-state fold in this package shares: the
  * replay guard, the rebuild recipe, the restart guard and the
  * `foreachBatch` wiring. A fold supplies its state, its [[foldBatch]]
  * body, a [[reset]] that clears the state, and its serves.
  *
  * Exactly-once: a `foreachBatch` retry re-delivers the same batch id,
  * so [[onBatch]] folds a batch only when its id is above the last one
  * folded. Additive state (counts, sums, carries) would double on a
  * replay; for idempotent state (set union, max, register max) the
  * guard is a content no-op.
  *
  * Restart: the state lives in the JVM (a driver map or a
  * session-pinned frame), not in the checkpoint. On a restart with the
  * same checkpoint dir the source resumes PAST the committed batches,
  * which is correct only if the fold already holds them. So [[start]]
  * refuses a checkpoint with committed batches when this fold object
  * has folded nothing: it rebuilds from the caller's `landed` corpus,
  * or throws rather than undercount. A fold that has folded (the
  * live-continuation case) resumes.
  *
  * CONTRACT on `landed`: it must reflect only MARKER-COMMITTED batches.
  * [[rebuildFrom]] resets the batch-id guard, so the stream's
  * re-delivery of its last UNcommitted batch folds again on top of the
  * rebuilt state. That is correct exactly when the re-delivered rows
  * are absent from `landed`, which is what an exactly-once sink gives
  * for free: reading the landed corpus through its `_spark_metadata`
  * commit log (how Spark reads a streaming file sink) exposes committed
  * files only. Feeding a raw directory listing (or any at-least-once
  * sink) here double counts the re-delivered tail; for a SUM-shaped
  * fold that is a silently narrowed or shifted readout, not an error.
  *
  * Three streaming twins stay off this adapter: [[IngestSync]], whose
  * guard is the on-disk version log; [[BloomStreamDedup]], whose fold
  * returns survivors to a caller-supplied sink; and [[CdcApplySink]],
  * whose state starts from an `initial` snapshot. */
abstract class StreamFold extends Serializable {

  private var lastBatchId = -1L
  private var folded = false

  /** Fold one micro-batch into the state. */
  def foldBatch(batch: DataFrame): Unit

  /** Clear the state; [[rebuildFrom]] calls it under the fold's lock. */
  protected def reset(): Unit

  /** The foreachBatch body: fold unless this batchId already folded. */
  final def onBatch(batch: DataFrame, batchId: Long): Unit = {
    val replay = synchronized(batchId <= lastBatchId)
    if (!replay) {
      foldBatch(batch)
      synchronized { lastBatchId = batchId; folded = true }
    }
  }

  /** Rebuild from the landed corpus (the restart recipe): clear the
    * state and the batch-id guard, then fold `landed` in one pass. */
  final def rebuildFrom(landed: DataFrame): Unit = {
    synchronized { reset(); lastBatchId = -1L; folded = false }
    foldBatch(landed)
    synchronized { folded = true }
  }

  /** Wire a streaming frame into the fold, after the restart guard. */
  final def start(frame: DataFrame, checkpoint: String,
                  landed: Option[DataFrame] = None): StreamingQuery = {
    if (hasCommittedBatches(checkpoint) && !synchronized(folded))
      landed match {
        case Some(l) => rebuildFrom(l)
        case None => throw new IllegalStateException(
          s"checkpoint '$checkpoint' has committed batches but this " +
            "fold holds no state — resuming would silently skip those " +
            "batches. Pass the landed corpus (start(events, checkpoint, " +
            "landed = Some(df))) to rebuild, or use a fresh checkpoint " +
            "dir.")
      }
    frame.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        onBatch(batch.toDF(), id)
      }
      .start()
  }

  /** True iff the checkpoint dir records at least one committed batch
    * (the `offsets/` write-ahead log is the first thing a micro-batch
    * commit creates, so its non-emptiness is the resume marker). */
  private def hasCommittedBatches(checkpoint: String): Boolean = {
    val offsets = new java.io.File(checkpoint, "offsets")
    offsets.isDirectory &&
      Option(offsets.listFiles()).exists(_.nonEmpty)
  }
}
