package graft.streaming

import org.apache.spark.sql.DataFrame
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
  * State is a DataFrame, not a driver structure (the ActiveUsersFold
  * discipline): users-bounded whatever the event volume, eager
  * `localCheckpoint` per fold truncates the accumulated-union lineage.
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

  private var journeys: Option[DataFrame] = None

  /** Fold one micro-batch of raw events: batch-local distributed
    * reduction, then monoid-merge into the state frame. */
  def foldBatch(batch: DataFrame): Unit = {
    val p = graft.etl.Analyze.userJourneys(batch)
    synchronized {
      val merged = journeys.fold(p) { prev =>
        prev.unionByName(p)
          .groupBy(col("user_id")).agg(
            min(col("enroll_day")).as("enroll_day"),
            min(col("conv_day")).as("conv_day"))
      }.localCheckpoint(true)
      journeys = Some(merged)
    }
  }

  /** The a32 card over everything folded so far, through the SAME
    * kernel as the batch query. */
  def serve(): DataFrame = synchronized {
    val j = journeys.getOrElse(
      throw new IllegalStateException("no batches folded yet"))
    graft.etl.Analyze.sequentialAbFromJourneys(j)
  }

  /** The a38-shaped SRM guard over the SAME folded state — one
    * per-user journeys reduction serves both live readouts (the
    * monitor, and the trust check that says whether to believe it;
    * the a33/a34 shared-state pattern). */
  def serveSrm(): DataFrame = synchronized {
    val j = journeys.getOrElse(
      throw new IllegalStateException("no batches folded yet"))
    graft.etl.Analyze.srmFromJourneys(j)
  }

  /** The accumulated per-user journeys frame — exposed for specs. */
  def stateFrame: Option[DataFrame] = synchronized(journeys)

  protected def reset(): Unit = journeys = None
}
