package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** W15's streaming twin — the live EWMA volume baseline. The batch
  * op's whole design is already the streaming state shape: w15 reduces
  * the corpus to the (series, hour) exact-cents frame and runs the
  * power-of-two weight arithmetic ON that frame, and hourly cents are
  * ADDITIVE — a per-hour long that merges across micro-batches by plain
  * addition. So the fold's state IS the batch op's intermediate, and
  * the serve pass replays [[graft.ext.WindowFns.ewmaFromHourly]] — the
  * IDENTICAL kernel the batch query runs — over the folded state, which
  * makes stream ≡ batch parity exact by construction (the
  * a22'/a26'/seasonalReport shared-kernel discipline), not approximate.
  *
  * Per micro-batch: ONE distributed pass
  * ([[graft.ext.WindowFns.hourlyCents]], the same map-side-combined
  * reduction) collapsed to per-(series, hour) partials; the
  * [[KeyedSums]] state is bounded by series × ALL OBSERVED hours — it
  * keeps every
  * (series, hour) key ever folded, the same cardinality the batch op's
  * own hourly profile frame has over the full corpus. That is exactly
  * what full-corpus batch parity requires; a long-lived deployment that
  * only serves the recent tail would add a retention trim (drop hours
  * older than the serve horizon), intentionally diverging from
  * full-history parity. Addition is a monoid ⇒ [[onBatch]]
  * carries the batchId and drops foreachBatch retries (the QuantileFold
  * exactly-once device); restart = [[rebuildFrom]] over the landed
  * corpus, exact by additivity.
  */
class EwmaStreamFold extends StreamFold {

  private val hourly =
    new KeyedSums("event_type STRING, hour_idx BIGINT, cents BIGINT", keys = 2)

  /** Fold one micro-batch of raw events (ts, event_type, value, ...). */
  def foldBatch(batch: DataFrame): Unit =
    hourly.add(graft.ext.WindowFns.hourlyCents(batch))

  /** The w15-shaped report over everything folded so far: the folded
    * hourly state re-enters the BATCH kernel, so every weight, round,
    * and gap-renormalization rule is the batch op's own. */
  def serve(spark: SparkSession): DataFrame =
    graft.ext.WindowFns.ewmaFromHourly(hourly.frame(spark))

  protected def reset(): Unit = hourly.clear()
}
