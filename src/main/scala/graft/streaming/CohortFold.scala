package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * for family uniformity. State is user-sized, a deduplicated
  * [[FrameState]]; restart = [[rebuildFrom]].
  */
class CohortStreamFold extends StreamFold {

  private val pairs = new FrameState("user_id BIGINT, week BIGINT")(_.distinct())

  /** Fold one micro-batch of raw events (ts, user_id, ...). */
  def foldBatch(batch: DataFrame): Unit =
    pairs.fold(graft.ext.WindowFns.userWeeks(batch).distinct())

  /** The w9-shaped retention triangle over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.ext.WindowFns.cohortFromWeeks(pairs.frame(spark))

  protected def reset(): Unit = pairs.clear()
}
