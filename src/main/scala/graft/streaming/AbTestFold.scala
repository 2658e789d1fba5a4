package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A27's streaming twin — the live A/B experiment readout. Per-user
  * converted-ever is an OR (max) monoid, so the fold's state IS the
  * batch op's own per-user reduction
  * ([[graft.etl.Analyze.userConversions]]): per batch, one distributed
  * pass collapses the micro-batch to (user_id, converted) partials,
  * which merge into the state frame by groupBy-max; serve replays
  * [[graft.etl.Analyze.abTestFromUsers]] — the identical arm split and
  * pooled-z arithmetic the batch query runs — over the folded frame.
  * Stream ≡ batch parity is exact by construction and ORDER-IMMUNE
  * (max doesn't care when conversions arrive, so no carry row is
  * needed — the simplest shape in the fold family).
  *
  * State is USER-sized, a [[FrameState]]. Max is idempotent, but the
  * state-merge still rides [[onBatch]]'s batchId guard for uniformity
  * (a replay is a content no-op either way). Restart = [[rebuildFrom]]
  * over the landed corpus.
  */
class AbTestStreamFold extends StreamFold {

  private val users = new FrameState("user_id BIGINT, converted BIGINT")(
    _.groupBy(col("user_id")).agg(max(col("converted")).as("converted")))

  /** Fold one micro-batch of raw events (user_id, event_type, ...). */
  def foldBatch(batch: DataFrame): Unit =
    users.fold(graft.etl.Analyze.userConversions(batch))

  /** The a27-shaped experiment card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.abTestFromUsers(users.frame(spark))

  protected def reset(): Unit = users.clear()
}
