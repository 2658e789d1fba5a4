package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** A18's streaming twin — the mergeable-sketch fold tier's fourth leg,
  * ORDER STATISTICS: frequency ([[MgStreamFold]]), membership
  * ([[BloomStreamDedup]]), cardinality ([[HllStreamFold]]), and here
  * "where do the quantiles of everything this stream has carried sit",
  * served with fixed state forever. The state is a18's value-range-
  * bounded grid histogram (bin = floor(value/grain) → count): bounded
  * by the VALUE RANGE, never by row count or key cardinality, which is
  * what lets an unbounded stream hold exact-to-the-grain order
  * statistics in O(range/grain) memory where a percentile window would
  * buffer the corpus.
  *
  * Scale shape per micro-batch: the batch aggregates to its own grid
  * histogram DISTRIBUTED (map-side partial count, one narrow shuffle of
  * bin keys); only the ≤bins rows ride to the driver and fold by
  * integer addition. Addition is commutative/associative, so — unlike
  * the HLL fold's estimator-tolerance equivalence — the folded
  * histogram is EXACTLY the one-pass batch histogram of the same rows,
  * and the served bounds are bit-identical to the batch kernel's:
  * serving goes through the SAME [[graft.etl.Analyze.equidepthBounds]]
  * driver arithmetic a18 and s18 use, so stream and batch can never
  * bucket differently (pinned in StreamingSpec).
  *
  * Counts are additive, so a re-folded micro-batch WOULD double-count
  * (no register-max/idempotent-OR safety net); [[onBatch]] therefore
  * carries the foreachBatch batchId and drops replays — the
  * exactly-once device Spark's sink contract expects of stateful
  * foreachBatch bodies. Restart follows [[StreamFold]]: the histogram
  * is driver state outside the streaming checkpoint, and recovery is
  * ONE distributed grouped count over the landed corpus
  * ([[rebuildFrom]]), exact by the same additivity argument. The
  * `valueCol`-taking forms project the frame to that one column.
  */
class QuantileStreamFold(grain: Double = 100.0, maxBins: Int = 100000)
  extends StreamFold {

  private val hist = scala.collection.mutable.LongMap.empty[Long]

  /** Fold a frame whose first column holds the values. */
  def foldBatch(batch: DataFrame): Unit = foldBatch(batch, batch.columns.head)

  /** Aggregate one micro-batch to its grid histogram (distributed) and
    * fold the bin counts into the running map. */
  def foldBatch(batch: DataFrame, valueCol: String): Unit = {
    val rows = batch.filter(col(valueCol).isNotNull)
      .select(floor(col(valueCol) / grain).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .collect()
    synchronized {
      rows.foreach(r => hist(r.getLong(0)) =
        hist.getOrElse(r.getLong(0), 0L) + r.getLong(1))
      require(hist.size <= maxBins,
        s"quantile fold histogram exceeds $maxBins bins — raise grain " +
          s"(value range grew past the sizing assumption)")
    }
  }

  def onBatch(batch: DataFrame, batchId: Long, valueCol: String): Unit =
    onBatch(batch.select(col(valueCol)), batchId)

  /** Equal-depth bucket upper bounds (bin units) over everything the
    * stream has carried — the a18 serve, through the SAME kernel. */
  def bounds(k: Int): Seq[Long] =
    graft.etl.Analyze.equidepthBounds(histogram, k)

  /** A44's streaming twin (r17 verdict ask #6): the approximate
    * percentile of everything the stream has carried, served from the
    * SAME folded grid the bounds read — a serve on the existing fold,
    * not a new fold class (the r14 shared-state lesson). Grid, not GK:
    * the batch a44 card keeps a mergeable Greenwald-Khanna sketch per
    * GROUP because its state must stay bounded per key; this fold
    * already holds the global value-range-bounded histogram, whose
    * serve is rank-exact to the grain — the true percentile lies
    * within one `grain` below the served value (bin upper edge), the
    * grid analogue of a44's ±n/1000 rank contract, CHECKED in
    * StreamingSpec against raw sorted values at every wave. None until
    * the first row lands. */
  def serveApproxPercentile(p: Double): Option[Double] =
    graft.etl.Analyze.gridApproxPercentile(histogram, p, grain)

  /** The folded grid histogram, bin-sorted (exact, not an estimate). */
  def histogram: Seq[(Long, Long)] =
    synchronized(hist.toSeq.sortBy(_._1))

  protected def reset(): Unit = hist.clear()

  def rebuildFrom(landed: DataFrame, valueCol: String): Unit =
    rebuildFrom(landed.select(col(valueCol)))

  def start(rows: DataFrame, valueCol: String, checkpoint: String): StreamingQuery =
    start(rows, valueCol, checkpoint, None)

  def start(rows: DataFrame, valueCol: String, checkpoint: String,
            landed: Option[DataFrame]): StreamingQuery =
    start(rows.select(col(valueCol)), checkpoint,
      landed.map(_.select(col(valueCol))))
}
