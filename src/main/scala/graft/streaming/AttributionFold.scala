package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A30's streaming twin — live last-touch attribution. The batch op's
  * one corpus window ("most recent preceding non-purchase touch per
  * user") crosses micro-batch boundaries in exactly one way: a purchase
  * early in batch N+1 whose crediting touch happened in batch N. So the
  * fold carries ONE row per user — their latest non-purchase touch so
  * far — and folds it in FRONT of each batch through the batch op's own
  * credit kernel ([[graft.etl.Analyze.attributionCredits]]): the
  * carried touch is a genuine earlier event under the in-order
  * contract, so the shared window pass assigns boundary credits by the
  * identical rule it assigns interior ones. Carried rows are
  * non-purchase by construction, so no purchase is ever double-credited.
  *
  * State splits by size class (the TransitionFold discipline): the
  * channel census (≤|types| cells of additive (n, cents)) is
  * [[KeyedSums]]; the per-user last-touch carry is USER-sized, a
  * distributed frame that each batch replaces. Serve replays
  * [[graft.etl.Analyze.attributionReport]] over the folded census —
  * the share denominator recomputes from the merged counts, so stream
  * ≡ batch parity is exact. Ordering contract: per-user (ts, event_id)
  * must be monotone across batches (the TwapFold statement); within a
  * batch, order is free. [[onBatch]] drops foreachBatch retries;
  * restart = [[rebuildFrom]] (no carry ⇒ interior credits are ALL
  * credits).
  */
class AttributionStreamFold extends StreamFold {

  private val census =
    new KeyedSums("channel STRING, n_purchases BIGINT, cents BIGINT", keys = 1)
  private var lastTouch: Option[DataFrame] = None

  /** Fold one micro-batch of raw events
    * (event_id, ts, user_id, event_type, value). */
  def foldBatch(batch: DataFrame): Unit = {
    val cols = Seq(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val b = batch.select(cols: _*)
    val all = synchronized(lastTouch) match {
      case Some(carry) => carry.select(cols: _*).unionByName(b)
      case None => b
    }
    val allCk = all.localCheckpoint(true) // credits + carry both read it
    census.add(graft.etl.Analyze.attributionCensus(
      graft.etl.Analyze.attributionCredits(allCk)))
    // roll the carry: latest non-purchase event per user of carry ∪ batch
    val touches = allCk.filter(col("event_type") =!= "purchase")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("s"))
      .select(col("s.event_id").as("event_id"), col("s.ts").as("ts"),
        col("user_id"), col("s.event_type").as("event_type"),
        col("s.value").as("value"))
      .localCheckpoint(true)
    synchronized { lastTouch = Some(touches) }
  }

  /** The a30-shaped report over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.attributionReport(census.frame(spark))

  protected def reset(): Unit = { census.clear(); lastTouch = None }
}
