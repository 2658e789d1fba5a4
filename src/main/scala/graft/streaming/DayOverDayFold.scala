package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** W16's streaming twin — the live day-over-day hourly comparison.
  * Identical state shape to [[EwmaStreamFold]] (w16 and w15 share the
  * batch hourly-cents kernel, so their folds share the state design):
  * per-(series, hour) exact cents merge across micro-batches by plain
  * addition, and the serve pass replays
  * [[graft.ext.WindowFns.dayOverDayFromHourly]] — the byte-identical
  * batch kernel (the hour−24 equi-join, NULL-on-no-prior/zero-prior
  * rules) — over the folded state. Stream ≡ batch parity is exact by
  * construction; order-immune (hourly sums don't care when rows
  * arrive). The [[KeyedSums]] state is series × all observed hours;
  * [[onBatch]]
  * carries the batchId and drops foreachBatch retries; restart =
  * [[rebuildFrom]], exact by additivity.
  */
class DayOverDayStreamFold extends StreamFold {

  private val hourly =
    new KeyedSums("event_type STRING, hour_idx BIGINT, cents BIGINT", keys = 2)

  /** Fold one micro-batch of raw events (ts, event_type, value, ...). */
  def foldBatch(batch: DataFrame): Unit =
    hourly.add(graft.ext.WindowFns.hourlyCents(batch))

  /** The w16-shaped report over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.ext.WindowFns.dayOverDayFromHourly(hourly.frame(spark))

  protected def reset(): Unit = hourly.clear()
}
