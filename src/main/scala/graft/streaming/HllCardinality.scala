package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}

/** A12's streaming twin, completing the mergeable-sketch tier's
  * canonical trio — frequency ([[MgStreamFold]], Misra–Gries),
  * membership ([[BloomStreamDedup]], Bloom), and here CARDINALITY
  * (HLL): "how many distinct users/tokens/docs has this stream carried,
  * ever" with O(2^lgK) state forever, the monitor a feed operator reads
  * where a grouped `approx_count_distinct` would be batch-only and an
  * exact distinct would hold key-cardinality state.
  *
  * Scale shape per micro-batch: the batch is sketched DISTRIBUTED by
  * Spark's Datasketches-backed `hll_sketch_agg` (register arrays merge
  * map-side; keys never collect), and only the finished ~KB sketch
  * rides to the driver, where it folds into a running
  * [[org.apache.datasketches.hll.Union]]. HLL union is register-wise
  * max, so merge order can never matter (max is commutative/
  * associative/idempotent) and a union of per-batch sketches holds the
  * same register content as one sketch of all rows — the ESTIMATES
  * agree within estimator tolerance rather than bitwise, because a
  * directly-updated sketch serves the sharper HIP estimator while a
  * union can only serve the composite one (measured ~0.1% apart at 600
  * distinct; both inside the same ±3σ envelope around truth).
  * Idempotence IS exact: a micro-batch re-sketched after a
  * foreachBatch retry folds to identical union state.
  *
  * Restart follows [[StreamFold]]: the union is driver state outside
  * the streaming checkpoint; recovery is one distributed
  * `hll_sketch_agg` over the landed corpus, exact by the same
  * register-max argument (pinned in StreamingSpec). The `key`-taking
  * forms project the frame to that one column.
  */
class HllStreamFold(lgK: Int = 12) extends StreamFold {
  private val union = new Union(lgK)

  /** Fold a frame whose first column is the key. */
  def foldBatch(batch: DataFrame): Unit = foldBatch(batch, batch.columns.head)

  /** Sketch one micro-batch (distributed) and fold the finished sketch
    * into the running union. */
  def foldBatch(batch: DataFrame, key: String): Unit = {
    val bytes = batch.filter(col(key).isNotNull)
      .select(hll_sketch_agg(col(key), lit(lgK)).as("s"))
      .head().getAs[Array[Byte]](0)
    if (bytes != null)
      synchronized { union.update(HllSketch.heapify(bytes)) }
  }

  /** Distinct-count estimate over everything the stream has carried. */
  def estimate: Double = synchronized(union.getEstimate)

  /** The folded sketch itself (for persistence beside a checkpoint, or
    * further unioning across streams). */
  def sketchBytes: Array[Byte] =
    synchronized(union.getResult(TgtHllType.HLL_4).toCompactByteArray)

  protected def reset(): Unit = union.reset()

  def rebuildFrom(landed: DataFrame, key: String): Unit =
    rebuildFrom(landed.select(col(key)))

  def start(docs: DataFrame, key: String, checkpoint: String): StreamingQuery =
    start(docs, key, checkpoint, None)

  def start(docs: DataFrame, key: String, checkpoint: String,
            landed: Option[DataFrame]): StreamingQuery =
    start(docs.select(col(key)), checkpoint, landed.map(_.select(col(key))))
}
