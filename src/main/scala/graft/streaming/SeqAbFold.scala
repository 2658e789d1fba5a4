package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A32's streaming twin — the live sequential-experiment monitor, which
  * is the ONE analytics card that is semantically *about* being read
  * mid-stream: the batch query simulates daily peeking over a landed
  * corpus; this fold IS the peeking surface, serving the always-valid
  * boundary card at any moment of the experiment.
  *
  * The batch op's state shape is already streaming-ready: a32 reduces
  * the corpus to per-user (enroll_day, conv_day) journeys, and both
  * days are MIN-MONOIDS (first event ever, first purchase ever —
  * Spark's null-ignoring `min` makes the not-yet-converted NULL the
  * monoid identity), so every batch merge is the same
  * [[graft.etl.Analyze.userJourneys]] reduction the batch query runs.
  * Serving replays [[graft.etl.Analyze.sequentialAbFromJourneys]] —
  * the IDENTICAL kernel — over the folded frame: arm split, day
  * deltas, cumulative card, z, boundary, both verdicts, all the batch
  * op's own, so parity is exact by construction.
  *
  * State is a [[FrameState]], users-bounded whatever the event volume.
  * Min-merges make the fold IDEMPOTENT — a replayed micro-batch is a
  * content no-op — even without the batchId replay guard. Restart is
  * [[rebuildFrom]] over the landed corpus: one distributed reduction,
  * exact because the landed events carry every user's true first
  * event and first purchase.
  *
  * Live-semantics note (spec-pinned): the information fraction t and
  * with it the O'Brien-Fleming boundary are computed against the
  * enrollments folded SO FAR — mid-experiment the boundary is
  * strictly tighter than 1.96 and relaxes toward it as enrollment
  * completes, exactly the group-sequential reading; late events can
  * only move a user's days EARLIER (min), never invalidate a past
  * serve's counts. */
class SeqAbStreamFold extends StreamFold {

  private val journeys =
    new FrameState("user_id BIGINT, enroll_day BIGINT, conv_day BIGINT")(
      _.groupBy(col("user_id")).agg(min(col("enroll_day")).as("enroll_day"),
        min(col("conv_day")).as("conv_day")))

  /** Fold one micro-batch of raw events: batch-local distributed
    * reduction, then monoid-merge into the state frame. */
  def foldBatch(batch: DataFrame): Unit =
    journeys.fold(graft.etl.Analyze.userJourneys(batch))

  /** The a32 card over everything folded so far, through the SAME
    * kernel as the batch query. */
  def serve(): DataFrame = graft.etl.Analyze.sequentialAbFromJourneys(
    journeys.frame(SparkSession.active))

  /** The a38-shaped SRM guard over the SAME folded state — one
    * per-user journeys reduction serves both live readouts (the
    * monitor, and the trust check that says whether to believe it;
    * the a33/a34 shared-state pattern). */
  def serveSrm(): DataFrame =
    graft.etl.Analyze.srmFromJourneys(journeys.frame(SparkSession.active))

  /** The accumulated per-user journeys frame — exposed for specs. */
  def stateFrame: Option[DataFrame] = journeys.current

  protected def reset(): Unit = journeys.clear()
}
