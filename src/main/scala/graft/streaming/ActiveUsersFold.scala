package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A22's streaming twin — the fold tier's fifth leg, ACTIVE-USER
  * windows: per micro-batch the (day, user) pairs dedup DISTRIBUTED and
  * fold into one accumulated pair frame, served through the identical
  * window-explode kernel as batch a22
  * ([[graft.etl.Analyze.activeUsersFromPairs]]). The batch op's whole
  * design — dedup bounded by users×days, never events — already IS the
  * streaming state shape, which is why this twin needs no new serving
  * math at all.
  *
  * State is a [[FrameState]], bounded by |users| × |days| whatever the
  * event volume — a 100 TB/day stream folds to the same frame size as
  * a trickle with the same population.
  * Set semantics make the fold IDEMPOTENT (union+distinct of a replayed
  * micro-batch is a content no-op), so unlike the additive
  * [[QuantileStreamFold]] it does not rely on the batchId replay guard.
  *
  * Restart follows the sibling folds' contract: the pair frame is
  * outside the streaming checkpoint; recovery is one distributed
  * dedup over the landed (already-sunk) events ([[rebuildFrom]]) —
  * exact, because the state is a set and the landed corpus carries
  * every (day, user) at least once. Pinned stream ≡ batch (and
  * rebuild ≡ continuous) in StreamingSpec.
  */
class ActiveUsersStreamFold extends StreamFold {

  private val pairs = new FrameState("d DATE, user_id BIGINT")(_.distinct())

  /** Fold one micro-batch of raw events (ts, user_id, ...): batch-local
    * distributed dedup, then set-merge into the accumulated frame. */
  def foldBatch(batch: DataFrame): Unit = pairs.fold(
    batch.select(to_date(col("ts")).as("d"), col("user_id")).distinct())

  /** DAU/WAU/stickiness over everything the stream has carried — the
    * a22 serve, through the SAME kernel as the batch query. */
  def serve(): DataFrame =
    graft.etl.Analyze.activeUsersFromPairs(pairs.frame(SparkSession.active))

  /** The accumulated (d, user_id) state frame — exposed for specs. */
  def stateFrame: Option[DataFrame] = pairs.current

  protected def reset(): Unit = pairs.clear()
}
