package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter

/** Exact-dedup's UNBOUNDED-horizon streaming twin — the state shape
  * `dropDuplicatesWithinWatermark` cannot give: watermark dedup holds
  * per-key state and only within the lateness horizon, so a duplicate
  * arriving a day after its original sails through, and widening the
  * horizon grows state with the key cardinality. This fold instead
  * holds ONE fixed-size Bloom filter over everything ever seen — state
  * is `bits` forever, however long the stream runs and however many
  * distinct documents pass (the streaming counterpart of d35's
  * Bloom-prune strategy, and the same `spark.util.sketch.BloomFilter`).
  *
  * Scale shape per micro-batch: survivors are selected by shipping the
  * CURRENT filter's serialized image into the plan and probing with
  * Spark's codegen `BloomFilterMightContain` expression
  * ([[graft.functions.BloomProbe]] — keyed on `xxhash64(key)` on both
  * build and probe sides; no per-row Scala closure, the batch scan
  * keeps one whole-stage span); the batch's own fingerprints then fold
  * into the filter via `DataFrame.stat.bloomFilter`, a distributed
  * mergeable aggregate — only the fixed-size per-partition filters ride
  * to the driver, never the fingerprints (the MisraGries/MgStreamFold
  * discipline applied to set membership). Within-batch duplicates are
  * collapsed by a batch-local `dropDuplicates` BEFORE the filter test,
  * so the op is exact within a batch and Bloom-approximate across
  * batches (hashing folds the negligible 64-bit collision mass into the
  * same spurious-drop budget).
  *
  * Approximation contract (the Bloom guarantee, inverted by the use):
  * a TRUE duplicate is ALWAYS dropped (no false negatives in
  * `mightContain`), while a genuinely-new document is spuriously
  * dropped with probability ≤ fpp — the right trade for training-data
  * dedup, where a duplicate shipped poisons the corpus but a clean doc
  * dropped at 1e-4 merely shrinks it.
  *
  * Restart note: like [[MgStreamFold]], the filter is driver state
  * outside the streaming checkpoint; recovery is one distributed
  * `bloomFilter` aggregate over the landed (already-deduped) corpus —
  * order-independent by mergeability, pinned ≡ continuous in
  * StreamingSpec.
  */
class BloomStreamDedup(expectedItems: Long, fpp: Double) extends Serializable {
  private var filter: BloomFilter = BloomFilter.create(expectedItems, fpp)

  /** Fold one micro-batch: return the (materialized) survivors whose
    * `key` column has never been seen — batch-locally exact,
    * cross-batch Bloom-approximate — and absorb their fingerprints into
    * the running filter. Directly unit-testable on static frames.
    * Returns a frame, never collected rows: survivors flow to a
    * distributed sink, not the driver. */
  def foldBatch(batch: DataFrame, key: String): DataFrame = {
    val (fresh, batchFilter) = survivors(batch, key)
    absorb(batchFilter)
    fresh
  }

  private def absorb(batchFilter: BloomFilter): Unit =
    synchronized { filter.mergeInPlace(batchFilter) }

  /** The survivors of a batch and the filter of their keys, without
    * absorbing it: the caller merges it once the survivors are safe. */
  private def survivors(batch: DataFrame, key: String): (DataFrame, BloomFilter) = {
    val f = synchronized(filter)
    val bytes = graft.functions.BloomProbe.serialize(f)
    val neverSeen =
      !graft.functions.BloomProbe.mightContainHashed(bytes, col(key))
    // Eager localCheckpoint: the survivor set is consumed twice (filter
    // build + sink) and must be decided against ONE filter snapshot.
    val fresh = batch.dropDuplicates(key).filter(neverSeen)
      .localCheckpoint(true)
    (fresh, graft.functions.BloomProbe.buildHashed(fresh, key, expectedItems, fpp))
  }

  /** Current membership probe — exposed for specs and serving; keyed
    * identically to the distributed path. */
  def seen(key: String): Boolean =
    synchronized(graft.functions.BloomProbe.seenHashed(filter, key))

  /** Rebuild the filter from the landed corpus (the restart recipe):
    * one distributed aggregate, no driver-side row traffic. */
  def rebuildFrom(landed: DataFrame, key: String): Unit = synchronized {
    filter = graft.functions.BloomProbe.buildHashed(landed, key, expectedItems, fpp)
  }

  /** Wire a streaming frame into the fold, landing survivors via the
    * supplied sink callback (typically a parquet append — the S5
    * micro-batch sink discipline). A batch's keys join the filter only
    * after `sink` returns: if it throws, the re-delivered batch is
    * still unseen and lands on the retry. */
  def start(docs: DataFrame, key: String, checkpoint: String)
           (sink: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val (fresh, batchFilter) = survivors(batch.toDF(), key)
        sink(fresh)
        absorb(batchFilter)
      }
      .start()
}
