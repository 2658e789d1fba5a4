package graft.streaming

import scala.annotation.unused
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.TextStats

/** T24′ — live hashed-LM training, the streaming twin of t24: the
  * bucketed count tables maintained as fold state while the corpus
  * streams in. Two properties make this the RIGHT op to run live
  * where the exact LM (t22) could never be:
  *
  *  - the state is BOUNDED BY CONSTRUCTION — Bu + Bb longs (the d20
  *    device), the same footprint after ten documents or ten trillion;
  *    an exact-vocabulary fold would grow without bound, which is the
  *    very wall t24 removed from the batch tier;
  *  - bucket counts are an ADDITIVE MONOID over disjoint batches, so
  *    per-batch counts (computed by the SAME frame-level kernel the
  *    batch op uses, [[TextStats.hashedLmCountsOf]]) fold into the
  *    running tables order-free and EXACTLY: fold ≡ batch train at
  *    every point in the stream — no approximation, no decay.
  *
  * [[serve]] scores any docs frame against the CURRENT model through
  * the shared report tail ([[TextStats.hashedLmReport]]) — the model
  * is the state; scoring is stateless. The daily-crawl loop this
  * implements: documents land continuously, the quality-filter LM is
  * always current, and no serving pass ever pays a training scan.
  *
  * Replay, rebuild and restart follow [[StreamFold]]. */
class HashedLmFold(uniBuckets: Int = TextStats.T24UniBuckets,
                   biBuckets: Int = TextStats.T24BiBuckets)
    extends StreamFold {

  private val uniC = new Array[Long](uniBuckets)
  private val biC = new Array[Long](biBuckets)

  /** Fold one micro-batch of documents (… text …) into the tables. */
  def foldBatch(batch: DataFrame): Unit = synchronized {
    if (!batch.isEmpty) {
      val (u, b) = TextStats.hashedLmCountsOf(batch, uniBuckets, biBuckets)
      var i = 0
      while (i < u.length) { uniC(i) += u(i); i += 1 }
      i = 0
      while (i < b.length) { biC(i) += b(i); i += 1 }
    }
  }

  /** Score `docs` under the model as trained SO FAR — identical to
    * batch t24 trained on everything folded to this point. The
    * scorer expression carries a snapshot (clone) of the tables, so a
    * later batch cannot change an earlier, still-unexecuted served
    * frame. */
  def serve(@unused spark: SparkSession, docs: DataFrame): DataFrame =
    synchronized { TextStats.hashedLmReport(docs, uniC.clone(), biC.clone()) }

  protected def reset(): Unit = {
    java.util.Arrays.fill(uniC, 0L)
    java.util.Arrays.fill(biC, 0L)
  }
}
