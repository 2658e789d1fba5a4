package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A43's streaming twin — the live bootstrap-CI. State is the batch
  * op's own reductions ([[graft.etl.Analyze.bootstrapReplicaSums]] +
  * [[graft.etl.Analyze.bootstrapRawSums]]): |types|·B weighted-cent
  * counters plus 2 raw counters per type, all additive monoids —
  * bounded BY CONSTRUCTION at any corpus size (the t24/a41
  * discipline), and valid incrementally BECAUSE the replica weights
  * are a pure function of (event_id, replica) — a Poisson draw keyed
  * by the row, not by arrival order, so folding a new batch is
  * exactly extending every replica's resample with the new rows'
  * draws. serve replays [[graft.etl.Analyze.bootstrapCiFromSums]] —
  * the identical replica-mean + percentile chain the batch query runs
  * — so stream ≡ batch parity is exact by construction at every point
  * in the stream.
  *
  * SUM is not idempotent, so the [[onBatch]] batchId guard is
  * correctness: a re-delivered batch would double its rows' weights
  * in every replica and silently narrow the interval. Restart =
  * [[rebuildFrom]] over the landed corpus (one batch-kernel pass); a
  * `landed` that breaks [[StreamFold]]'s marker-committed contract
  * would not error either, it would silently narrow the served CI. */
class BootstrapFold extends StreamFold {

  private val reps = new KeyedSums(
    "event_type STRING, b INT, wc BIGINT, wn BIGINT", keys = 2) // |types|·B rows
  private val raw =
    new KeyedSums("event_type STRING, n_events BIGINT, sc BIGINT", keys = 1)

  /** Fold one micro-batch of raw events (event_type, event_id, value). */
  def foldBatch(batch: DataFrame): Unit = {
    reps.add(graft.etl.Analyze.bootstrapReplicaSums(batch))
    raw.add(graft.etl.Analyze.bootstrapRawSums(batch))
  }

  /** The a43-shaped CI card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.bootstrapCiFromSums(reps.frame(spark), raw.frame(spark))

  protected def reset(): Unit = { reps.clear(); raw.clear() }
}
