package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A25's streaming twin — the live first-order Markov transition
  * matrix. The batch kernel is one lag window per user
  * ([[graft.etl.Analyze.transitionPairs]]); the ONLY thing a stream
  * adds is the pair that straddles a micro-batch boundary (user's last
  * event of batch N, first event of batch N+1). So the fold is:
  * batch-internal pairs via the SHARED kernel, boundary pairs via a
  * users-sized carry join, counts merged additively.
  *
  * State splits by size class, each stored where it belongs:
  * - transition counts: ≤ |types|² cells — [[KeyedSums]], merged
  *   additively per batch;
  * - per-user last event: USER-sized, so it is a [[FrameState]] (a
  *   driver map here would cap the design at driver memory). The
  *   boundary join is user-keyed and AQE-handled; nothing event-sized
  *   ever accumulates.
  *
  * Additive counts ⇒ a foreachBatch RETRY must not double-fold:
  * [[onBatch]] carries the batchId and drops replays (the QuantileFold
  * exactly-once device). Ordering contract (the CUSUM/locf
  * discipline): transitions are order-DEFINED by event_id — ids must
  * be monotone per user across batches; out-of-order delivery belongs
  * to the ingest layer's sort/dedup (t1–t8). Restart = [[rebuildFrom]]
  * over the landed corpus: one batch-kernel pass, exact because with
  * no prior carry the batch-internal pairs ARE all pairs.
  */
class TransitionStreamFold extends StreamFold {

  private val counts =
    new KeyedSums("prev_type STRING, next_type STRING, n BIGINT", keys = 2)
  // roll the carry forward: users seen this batch take their new last;
  // unseen users keep the old one (max_by on event_id under the
  // monotone-id contract picks exactly that)
  private val lastByUser =
    new FrameState("user_id BIGINT, last_id BIGINT, last_type STRING")(
      _.groupBy(col("user_id")).agg(max(col("last_id")).as("last_id"),
        max_by(col("last_type"), col("last_id")).as("last_type")))

  /** Fold one micro-batch of raw events (event_id, user_id,
    * event_type, ...). */
  def foldBatch(batch: DataFrame): Unit = {
    val b = batch.select(col("event_id"), col("user_id"), col("event_type"))
      .localCheckpoint(true) // consumed twice below
    // batch-internal adjacency through the SHARED batch kernel
    counts.add(graft.etl.Analyze.transitionPairs(b))
    // per-user first/last of THIS batch ((event_id) order, one agg)
    val ends = b.groupBy(col("user_id")).agg(
      min_by(col("event_type"), col("event_id")).as("first_type"),
      max(col("event_id")).as("last_id"),
      max_by(col("event_type"), col("event_id")).as("last_type"))
      .localCheckpoint(true)
    // boundary pairs: carried last event → this batch's first event
    lastByUser.current.foreach { carry =>
      counts.add(carry
        .join(ends.select(col("user_id"), col("first_type")), "user_id")
        .groupBy(col("last_type"), col("first_type"))
        .agg(count(lit(1))))
    }
    lastByUser.fold(ends.select(col("user_id"), col("last_id"), col("last_type")))
  }

  /** The a25-shaped report over everything folded so far, through the
    * SAME report kernel as the batch query. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.transitionReport(counts.frame(spark))

  protected def reset(): Unit = { counts.clear(); lastByUser.clear() }
}
