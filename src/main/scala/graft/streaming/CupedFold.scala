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
  * State is USER-sized and lives as a distributed frame (the
  * AbTestStreamFold discipline), eagerly checkpointed per fold. SUM is
  * not idempotent, so the [[onBatch]] batchId guard is correctness: a
  * re-delivered batch would double both X and Y. Restart =
  * [[rebuildFrom]] over the landed corpus. */
class CupedFold(splitDay: Long) extends StreamFold {

  private var users: Option[DataFrame] = None

  /** Fold one micro-batch of raw events (ts, user_id, event_type,
    * value). */
  def foldBatch(batch: DataFrame): Unit = {
    val partials =
      graft.etl.Analyze.userPrePostCents(batch, lit(splitDay))
    val merged = synchronized(users) match {
      case Some(u) => u.unionByName(partials)
        .groupBy(col("user_id"))
        .agg(sum(col("pre_cents")).as("pre_cents"),
          sum(col("post_cents")).as("post_cents"))
      case None => partials
    }
    val ck = merged.localCheckpoint(true)
    synchronized { users = Some(ck) }
  }

  /** The a35-shaped CUPED card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = synchronized(users) match {
    case Some(u) => graft.etl.Analyze.cupedFromUsers(u)
    case None =>
      import spark.implicits._
      graft.etl.Analyze.cupedFromUsers(Seq.empty[(Long, Long, Long)]
        .toDF("user_id", "pre_cents", "post_cents"))
  }

  /** A39's live readout off the SAME fold state (the a34/a37/a38
    * shared-state discipline): the difference-in-differences card is a
    * different scalar chain over the identical per-user (pre, post)
    * cents reduction, so CUPED and DiD can never disagree on
    * membership, split day, or a late pre-period purchase. */
  def serveDid(spark: SparkSession): DataFrame = synchronized(users) match {
    case Some(u) => graft.etl.Analyze.didFromUsers(u)
    case None =>
      import spark.implicits._
      graft.etl.Analyze.didFromUsers(Seq.empty[(Long, Long, Long)]
        .toDF("user_id", "pre_cents", "post_cents"))
  }

  protected def reset(): Unit = users = None
}
