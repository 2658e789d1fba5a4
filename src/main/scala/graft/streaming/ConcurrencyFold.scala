package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W12's streaming twin — the concurrency curve maintained LIVE over a
  * stream of session spans (start_s, end_s). The batch sweep-line's
  * first half is already a sum-reduction of ±1 deltas
  * ([[graft.ext.WindowFns.spanDeltas]] — associative, commutative,
  * map-side combinable), i.e. a natural stateful fold: each micro-batch
  * reduces its own spans to (t, net, n_starts) distributed, and the
  * accumulated delta frame merges by integer addition. Serving runs the
  * SAME curve synthesis as batch w12
  * ([[graft.ext.WindowFns.curveFromDeltas]] — carry-ins, phantom-peak
  * guard, densified hour lattice), so stream and batch can never
  * disagree on overlap semantics; parity on planted intervals crossing
  * micro-batch boundaries is pinned in StreamingSpec.
  *
  * State is bounded by DISTINCT ACTIVE SECONDS in the stream's time
  * range (two deltas per span collapse onto the per-second grid), never
  * by span count — a million sessions starting the same second fold to
  * one row. The frame is a [[FrameState]].
  *
  * Addition double-counts on replay, so like [[QuantileStreamFold]]
  * (and unlike the set-semantics [[ActiveUsersStreamFold]]) the
  * replay guard ([[onBatch]]) is correctness, not uniformity.
  * Restart: the delta frame is outside the streaming checkpoint;
  * recovery is one distributed re-reduction of the landed spans
  * ([[rebuildFrom]]) — exact by associativity.
  */
class ConcurrencyStreamFold extends StreamFold {

  private val deltas =
    new FrameState("t BIGINT, net BIGINT, n_starts BIGINT")(_.groupBy(col("t"))
      .agg(sum(col("net")).as("net"), sum(col("n_starts")).as("n_starts")))

  /** Fold one micro-batch of spans: reduce distributed, merge by sum. */
  def foldBatch(spans: DataFrame): Unit =
    deltas.fold(graft.ext.WindowFns.spanDeltas(spans))

  /** The per-hour concurrency curve over everything the stream has
    * carried — the w12 serve, through the SAME synthesis kernel. */
  def serve(): DataFrame =
    graft.ext.WindowFns.curveFromDeltas(deltas.frame(SparkSession.active))

  protected def reset(): Unit = deltas.clear()
}
