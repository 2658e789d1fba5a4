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

  private var counts: Map[Int, Long] = Map.empty

  /** Fold one micro-batch of raw events (event_type, value). */
  def foldBatch(batch: DataFrame): Unit = {
    val partial = graft.etl.Analyze.benfordDigitCounts(batch)
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ 9 rows
    synchronized {
      counts = partial.foldLeft(counts) { case (m, (d, n)) =>
        m.updated(d, m.getOrElse(d, 0L) + n)
      }
    }
  }

  /** The a41-shaped Benford card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.etl.Analyze.benfordFromCounts(
      synchronized(counts).toSeq.toDF("digit", "n"))
  }

  protected def reset(): Unit = counts = Map.empty
}
