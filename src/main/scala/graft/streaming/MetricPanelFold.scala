package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A36's streaming twin — the live multi-metric experiment panel with
  * BH correction. The state is the batch op's own per-(user, metric)
  * count reduction ([[graft.etl.Analyze.userMetricCounts]]): an
  * additive monoid, merged by groupBy-sum per micro-batch — exact at
  * any arrival order. serve replays
  * [[graft.etl.Analyze.bhPanelFromCounts]] — the identical arm split,
  * integer moments, A&S normal tail, and BH rank/step-up windows the
  * batch query runs — so stream ≡ batch parity is exact by
  * construction at every point. The panel-level consequence of
  * liveness: a batch that adds events to ONE metric can flip another
  * metric's sig_bh (the family threshold moves with every p) — the
  * cross-metric coupling a per-metric fold could not express.
  *
  * State is (users × metrics)-sized, a [[FrameState]]. SUM is not idempotent — the [[onBatch]] batchId guard is
  * correctness. Restart = [[rebuildFrom]] over the landed corpus. */
class MetricPanelFold extends StreamFold {

  private val counts =
    new FrameState("user_id BIGINT, event_type STRING, c BIGINT")(
      _.groupBy(col("user_id"), col("event_type")).agg(sum(col("c")).as("c")))

  /** Fold one micro-batch of raw events (user_id, event_type). */
  def foldBatch(batch: DataFrame): Unit =
    counts.fold(graft.etl.Analyze.userMetricCounts(batch))

  /** The a36-shaped BH panel over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.bhPanelFromCounts(counts.frame(spark))

  /** The a37-shaped power/MDE card over the SAME folded state — one
    * per-(user, metric) count reduction serves both live readouts
    * (verdicts AND the power to believe them; the a33/a34
    * shared-state pattern). */
  def serveMde(spark: SparkSession): DataFrame =
    graft.etl.Analyze.powerMdeFromCounts(counts.frame(spark))

  protected def reset(): Unit = counts.clear()
}
