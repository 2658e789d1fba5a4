package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** D41's streaming twin — the live weighted reservoir. Because the
  * batch op's Efraimidis–Spirakis priority is a DETERMINISTIC pure
  * function of (doc_id, seed) — seeded md5, no RNG state — the
  * weighted without-replacement draw is an order-free monoid: the
  * global top-k by priority equals the top-k of the union of per-batch
  * top-ks, so the fold carries exactly k rows of state and serving is
  * EXACT parity with the batch query at every point in the stream (not
  * approximate reservoir sampling — the same draw the batch would
  * make on everything landed so far).
  *
  * State is k (doc_id, lang, source, n_chars, priority) tuples on the
  * driver — genuinely bounded (k = 20, the TwapFold driver-state
  * class), unlike the corpus it samples. Each fold computes the
  * BATCH's top-k through the batch op's own kernel
  * ([[graft.ext.Curate.weightedSampleDf]] — shared formula, shared
  * rounding, shared tie-break), merges, dedups by doc_id (a replayed
  * micro-batch re-derives identical priorities, so replay is a
  * content no-op even without the batchId guard), and keeps the k best.
  * Late data is absorbed by construction: a higher-priority late row
  * evicts whatever it beats, exactly as a batch rerun would. */
class ReservoirStreamFold(k: Int = graft.ext.Curate.D41K,
                          seed: Long = graft.ext.Curate.D41Seed)
    extends StreamFold {

  private var best: Seq[(Long, String, String, Long, Double)] = Seq.empty

  def foldBatch(batch: DataFrame): Unit = {
    val top = graft.ext.Curate.weightedSampleDf(batch, k, seed)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
      .toSeq
    synchronized {
      best = (best ++ top)
        .groupBy(_._1).map(_._2.head).toSeq
        .sortBy(t => (-t._5, t._1))
        .take(k)
    }
  }

  /** The d41-shaped sample over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synchronized(best)
      .toDF("doc_id", "lang", "source", "n_chars", "priority")
  }

  protected def reset(): Unit = best = Seq.empty
}
