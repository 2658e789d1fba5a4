package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A29's streaming twin — the live Kaplan-Meier retention monitor. The
  * batch op's state shape is already streaming-ready: a29 reduces the
  * corpus to per-user (first_day, last_day) activity spans, and spans
  * are a MERGEABLE MONOID — min of firsts, max of lasts — so the fold
  * accumulates one users-bounded frame and every batch merge is the
  * same [[graft.etl.Analyze.userSpans]] reduction the batch query
  * runs. Serving replays [[graft.etl.Analyze.survivalFromSpans]] — the
  * IDENTICAL kernel — over the folded frame, so the censoring window,
  * the died-out guard, and the exp(Σ ln) fold are the batch op's own
  * and parity is exact by construction.
  *
  * State is a [[FrameState]] whose size is bounded by |users|
  * whatever the event volume. Min/max make the fold IDEMPOTENT — a
  * replayed micro-batch merges to a content no-op even without the
  * batchId replay guard. Restart is [[rebuildFrom]] over the landed
  * corpus: one distributed reduction, exact because the landed events
  * carry every user's true first and last activity.
  *
  * One live-semantics note the spec pins: the anchor day (and with it
  * the censoring window) comes from the FOLDED CORPUS' own max day,
  * exactly as in batch — so as the stream advances, the anchor
  * advances, and a user who looked censored in an early serve
  * resolves to a churn event once the anchor moves past their last
  * activity + 7. A monitor that wants a frozen anchor should snapshot
  * the serve, not the fold. */
class SurvivalStreamFold extends StreamFold {

  private val spans =
    new FrameState("user_id BIGINT, first_day BIGINT, last_day BIGINT")(
      _.groupBy(col("user_id")).agg(min(col("first_day")).as("first_day"),
        max(col("last_day")).as("last_day")))

  /** Fold one micro-batch of raw events (ts, user_id, ...): batch-local
    * distributed reduction, then monoid-merge into the state frame. */
  def foldBatch(batch: DataFrame): Unit =
    spans.fold(graft.etl.Analyze.userSpans(batch))

  /** The a29 report over everything folded so far, through the SAME
    * kernel as the batch query. */
  def serve(): DataFrame =
    graft.etl.Analyze.survivalFromSpans(spans.frame(SparkSession.active))

  /** The accumulated per-user spans frame — exposed for specs. */
  def stateFrame: Option[DataFrame] = spans.current

  protected def reset(): Unit = spans.clear()
}
