package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A35's streaming twin — the live CUPED experiment dashboard. The
  * batch op derives its pre/post boundary from the corpus day span; a
  * LIVE experiment knows its start date upfront, so the fold takes
  * `splitDay` as configuration and the state is the batch op's own
  * per-user reduction ([[graft.etl.Analyze.userPrePostCents]]): two
  * exact-cents additive monoids per user (pre-period covariate X,
  * post-period metric Y), merged by groupBy-sum per micro-batch —
  * exact at any arrival order because long addition commutes. serve
  * replays [[graft.etl.Analyze.cupedFromUsers]] — the identical arm
  * split, 2-D binning, integer moments, and θ/z scalar chain the
  * batch query runs — so stream ≡ batch parity is exact by
  * construction at every point in the stream. A late-arriving
  * PRE-period purchase retroactively moves a user's covariate — the
  * case a dashboard that froze X at enrollment would misadjust.
  *
  * State is USER-sized, a [[FrameState]]. SUM is not idempotent, so the [[onBatch]] batchId guard is correctness: a
  * re-delivered batch would double both X and Y. Restart =
  * [[rebuildFrom]] over the landed corpus. */
class CupedFold(splitDay: Long) extends StreamFold {

  private val users =
    new FrameState("user_id BIGINT, pre_cents BIGINT, post_cents BIGINT")(
      _.groupBy(col("user_id")).agg(sum(col("pre_cents")).as("pre_cents"),
        sum(col("post_cents")).as("post_cents")))

  /** Fold one micro-batch of raw events (ts, user_id, event_type,
    * value). */
  def foldBatch(batch: DataFrame): Unit =
    users.fold(graft.etl.Analyze.userPrePostCents(batch, lit(splitDay)))

  /** The a35-shaped CUPED card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.cupedFromUsers(users.frame(spark))

  /** A39's live readout off the SAME fold state (the a34/a37/a38
    * shared-state discipline): the difference-in-differences card is a
    * different scalar chain over the identical per-user (pre, post)
    * cents reduction, so CUPED and DiD can never disagree on
    * membership, split day, or a late pre-period purchase. */
  def serveDid(spark: SparkSession): DataFrame =
    graft.etl.Analyze.didFromUsers(users.frame(spark))

  protected def reset(): Unit = users.clear()
}
