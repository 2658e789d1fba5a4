package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** W14's streaming twin — the live rolling cross-correlation matrix.
  * The r12 batch refactor made the twin trivial by design: w14's corpus
  * reduction now quantizes values to the exact ×10⁴ integer basis
  * PER EVENT and reduces to (Σ v4, n) per (series, hour)
  * ([[graft.ext.WindowFns.hourlyMeanPartials]]) — and that pair is an
  * ADDITIVE MONOID, so micro-batch partials merge by plain integer
  * addition, fully ORDER-IMMUNE (unlike w13's hold-until-next twin, a
  * late or out-of-order event folds identically here — hourly sums
  * don't care when their rows arrive). The serve pass replays
  * [[graft.ext.WindowFns.rollingCorrFromHourly]] — the identical kernel
  * the batch query runs: hourly mean, pair alignment, the five
  * exact-long windowed moments, the one-float Pearson expression —
  * over the folded state, so stream ≡ batch parity is exact by
  * construction (the w15'/a26' shared-kernel discipline).
  *
  * The [[KeyedSums]] state is series × observed hours of two longs. Addition is a
  * monoid ⇒ [[onBatch]] carries the batchId and drops foreachBatch
  * retries; restart = [[rebuildFrom]] over the landed corpus, exact by
  * additivity.
  */
class RollingCorrStreamFold extends StreamFold {

  private val hourly = new KeyedSums(
    "event_type STRING, hour_idx BIGINT, v4sum BIGINT, n BIGINT", keys = 2)

  /** Fold one micro-batch of raw events (ts, event_type, value, ...). */
  def foldBatch(batch: DataFrame): Unit =
    hourly.add(graft.ext.WindowFns.hourlyMeanPartials(batch))

  /** The w14-shaped report over everything folded so far, through the
    * byte-identical batch kernel (means, windows, Pearson, rounding). */
  def serve(spark: SparkSession): DataFrame =
    graft.ext.WindowFns.rollingCorrFromHourly(hourly.frame(spark))

  protected def reset(): Unit = hourly.clear()
}
