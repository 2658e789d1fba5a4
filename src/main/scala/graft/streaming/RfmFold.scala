package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A28's streaming twin — live RFM segmentation. The per-user
  * (last_day, freq, cents) triple is a mergeable monoid (max / sum /
  * sum), so the fold's state IS the batch op's own per-user reduction
  * ([[graft.etl.Analyze.rfmPerUser]]): per batch one distributed pass
  * collapses the micro-batch to per-user partials, merged into the
  * state frame by one groupBy (max, sum, sum); serve replays
  * [[graft.etl.Analyze.rfmFromUsers]] — the identical anchor/bucket/
  * census arithmetic — over the folded frame. The recency anchor
  * recomputes from the state's own max day, so it ADVANCES with the
  * stream (the a29' advancing-horizon device): a user who goes quiet
  * drifts into worse R buckets as later batches move the anchor, with
  * no wall clock anywhere.
  *
  * Stream ≡ batch parity is exact and order-immune (all three
  * components ignore arrival order). State is USER-sized, a
  * [[FrameState]]. freq/cents
  * are ADDITIVE ⇒ [[onBatch]] carries the batchId and drops
  * foreachBatch retries; restart = [[rebuildFrom]].
  */
class RfmStreamFold extends StreamFold {

  private val users = new FrameState(
    "user_id BIGINT, last_day BIGINT, freq BIGINT, cents BIGINT")(
    _.groupBy(col("user_id")).agg(max(col("last_day")).as("last_day"),
      sum(col("freq")).as("freq"), sum(col("cents")).as("cents")))

  /** Fold one micro-batch of raw events (ts, user_id, event_type,
    * value, ...). */
  def foldBatch(batch: DataFrame): Unit =
    users.fold(graft.etl.Analyze.rfmPerUser(batch))

  /** The a28-shaped segment census over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.rfmFromUsers(users.frame(spark))

  protected def reset(): Unit = users.clear()
}
