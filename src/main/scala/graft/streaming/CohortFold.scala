package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W9's streaming twin — the live cohort-retention triangle, and the
  * fold family's only member with NO ordering contract at all: the
  * state is the distinct (user, active-week) pair frame
  * ([[graft.ext.WindowFns.userWeeks]] — a SET-UNION monoid, bounded by
  * users × active weeks, the same bound the batch shuffle has), and the
  * serve pass recomputes each user's cohort (min week) from the folded
  * state through [[graft.ext.WindowFns.cohortFromWeeks]] — the
  * byte-identical batch kernel — so a LATE-arriving earlier week
  * retroactively re-cohorts its user exactly as a batch rerun would.
  * Set union is idempotent, so even the replay guard is belt-and-braces
  * (a re-folded batch is a content no-op); it rides [[onBatch]] anyway
  * for family uniformity. State is user-sized and lives as a
  * distributed frame (the TransitionFold discipline), deduplicated and
  * checkpointed per fold; restart = [[rebuildFrom]].
  */
class CohortStreamFold extends StreamFold {

  private var pairs: Option[DataFrame] = None

  /** Fold one micro-batch of raw events (ts, user_id, ...). */
  def foldBatch(batch: DataFrame): Unit = {
    val partials = graft.ext.WindowFns.userWeeks(batch).distinct()
    val merged = synchronized(pairs) match {
      case Some(p) => p.unionByName(partials).distinct()
      case None => partials
    }
    val ck = merged.localCheckpoint(true)
    synchronized { pairs = Some(ck) }
  }

  /** The w9-shaped retention triangle over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = synchronized(pairs) match {
    case Some(p) => graft.ext.WindowFns.cohortFromWeeks(p)
    case None =>
      import spark.implicits._
      graft.ext.WindowFns.cohortFromWeeks(
        Seq.empty[(Long, Long)].toDF("user_id", "week"))
  }

  protected def reset(): Unit = pairs = None
}
