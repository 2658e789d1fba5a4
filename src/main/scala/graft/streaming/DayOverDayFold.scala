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
  * arrive). Driver state is series × all observed hours; [[onBatch]]
  * carries the batchId and drops foreachBatch retries; restart =
  * [[rebuildFrom]], exact by additivity.
  */
class DayOverDayStreamFold extends StreamFold {

  private val state = scala.collection.mutable.Map.empty[(String, Long), Long]

  /** Fold one micro-batch of raw events (ts, event_type, value, ...). */
  def foldBatch(batch: DataFrame): Unit = {
    val partials = graft.ext.WindowFns.hourlyCents(batch).collect()
    synchronized {
      partials.foreach { r =>
        val k = (r.getString(0), r.getLong(1))
        state(k) = state.getOrElse(k, 0L) + r.getLong(2)
      }
    }
  }

  /** The w16-shaped report over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val hourly = synchronized {
      state.toSeq.map { case ((t, h), c) => (t, h, c) }
    }.toDF("event_type", "hour_idx", "cents")
    graft.ext.WindowFns.dayOverDayFromHourly(hourly)
  }

  protected def reset(): Unit = state.clear()
}
