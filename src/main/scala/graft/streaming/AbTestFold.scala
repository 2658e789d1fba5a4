package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A27's streaming twin — the live A/B experiment readout. Per-user
  * converted-ever is an OR (max) monoid, so the fold's state IS the
  * batch op's own per-user reduction
  * ([[graft.etl.Analyze.userConversions]]): per batch, one distributed
  * pass collapses the micro-batch to (user_id, converted) partials,
  * which merge into the state frame by groupBy-max; serve replays
  * [[graft.etl.Analyze.abTestFromUsers]] — the identical arm split and
  * pooled-z arithmetic the batch query runs — over the folded frame.
  * Stream ≡ batch parity is exact by construction and ORDER-IMMUNE
  * (max doesn't care when conversions arrive, so no carry row is
  * needed — the simplest shape in the fold family).
  *
  * State is USER-sized and lives as a distributed frame (the
  * TransitionFold discipline), eagerly checkpointed per fold. Max is
  * idempotent, but the state-merge still rides [[onBatch]]'s batchId
  * guard for uniformity (a replay is a content no-op either way).
  * Restart = [[rebuildFrom]] over the landed corpus.
  */
class AbTestStreamFold extends StreamFold {

  private var users: Option[DataFrame] = None

  /** Fold one micro-batch of raw events (user_id, event_type, ...). */
  def foldBatch(batch: DataFrame): Unit = {
    val partials = graft.etl.Analyze.userConversions(batch)
    val merged = synchronized(users) match {
      case Some(u) => u.unionByName(partials)
        .groupBy(col("user_id"))
        .agg(max(col("converted")).as("converted"))
      case None => partials
    }
    val ck = merged.localCheckpoint(true)
    synchronized { users = Some(ck) }
  }

  /** The a27-shaped experiment card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = synchronized(users) match {
    case Some(u) => graft.etl.Analyze.abTestFromUsers(u)
    case None =>
      import spark.implicits._
      graft.etl.Analyze.abTestFromUsers(
        Seq.empty[(Long, Long)].toDF("user_id", "converted"))
  }

  protected def reset(): Unit = users = None
}
