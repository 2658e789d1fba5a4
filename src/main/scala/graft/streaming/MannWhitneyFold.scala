package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A33's streaming twin — the live rank-sum experiment readout.
  * Per-user purchase revenue in exact integer CENTS is an additive
  * monoid, so the fold's state IS the batch op's own per-user
  * reduction ([[graft.etl.Analyze.userValueCents]]): per batch, one
  * distributed pass collapses the micro-batch to (user_id, cents)
  * partials, which merge into the state frame by groupBy-sum — exact
  * at any arrival order because the cents grid carries no float (the
  * a20/Welford discipline, here trivially: long addition commutes).
  * serve replays [[graft.etl.Analyze.mannWhitneyFromUsers]] — the
  * identical arm split, binning, and half-unit rank arithmetic the
  * batch query runs — over the folded frame, so stream ≡ batch parity
  * is exact by construction at every point in the stream.
  *
  * State is USER-sized, a [[FrameState]]. Unlike a27's max, SUM is NOT idempotent — the [[onBatch]] batchId
  * guard is load-bearing here: a re-delivered batch would double a
  * user's revenue where it could not re-flip a converted bit.
  * Restart = [[rebuildFrom]] over the landed corpus. */
class MannWhitneyFold extends StreamFold {

  private val users = new FrameState("user_id BIGINT, cents BIGINT")(
    _.groupBy(col("user_id")).agg(sum(col("cents")).as("cents")))

  /** Fold one micro-batch of raw events (user_id, event_type, value). */
  def foldBatch(batch: DataFrame): Unit =
    users.fold(graft.etl.Analyze.userValueCents(batch))

  /** The a33-shaped rank-sum card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.mannWhitneyFromUsers(users.frame(spark))

  /** The a34-shaped KS card over the SAME folded state — one per-user
    * cents reduction serves both live experiment readouts (rank-sum
    * for location, ECDF gap for any distribution change). */
  def serveKs(spark: SparkSession): DataFrame =
    graft.etl.Analyze.ksTestFromUsers(users.frame(spark))

  protected def reset(): Unit = users.clear()
}
