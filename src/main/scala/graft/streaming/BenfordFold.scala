package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A41's streaming twin — the live Benford audit. State is the batch
  * op's own reduction ([[graft.etl.Analyze.benfordDigitCounts]]): at
  * most NINE long counters, an additive monoid, so the fold is
  * bounded BY CONSTRUCTION at any corpus size (the t24 discipline) and
  * the per-batch collect is ≤ 9 rows — the smallest fold state in the
  * engine. serve replays [[graft.etl.Analyze.benfordFromCounts]] — the
  * identical digit spine, expected-share and chi-square chain the
  * batch query runs — so stream ≡ batch parity is exact by
  * construction at every point in the stream.
  *
  * SUM is not idempotent, so the [[onBatch]] batchId guard is
  * correctness: a re-delivered batch would double its digits' counts
  * and silently bend the chi-square. Restart = [[rebuildFrom]] over
  * the landed corpus (one batch-kernel pass). */
class BenfordFold extends StreamFold {

  private val counts = new KeyedSums("digit INT, n BIGINT", keys = 1)

  /** Fold one micro-batch of raw events (event_type, value). */
  def foldBatch(batch: DataFrame): Unit =
    counts.add(graft.etl.Analyze.benfordDigitCounts(batch)) // ≤ 9 rows

  /** The a41-shaped Benford card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.benfordFromCounts(counts.frame(spark))

  protected def reset(): Unit = counts.clear()
}
