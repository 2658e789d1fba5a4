package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A31's streaming twin — live frequent-path mining. A 3-step path can
  * straddle a micro-batch boundary in two ways (two carried events +
  * one new, or one carried + two new), and both collapse to the same
  * device: carry each user's last TWO events and fold them in FRONT of
  * the next batch through the batch op's own two-lag window kernel
  * ([[graft.etl.Analyze.pathTriples]]). Every triple in the union
  * contains at least one NEW event (two carried rows alone cannot form
  * a triple), and every interior-or-boundary new triple forms exactly
  * once — no double counting, by construction rather than by dedup.
  *
  * State is the batch op's own mergeable intermediate: per-(path, user)
  * traversal counts ([[graft.etl.Analyze.pathUserCounts]]) — additive
  * across batches, and the ONE shape from which both report numbers
  * recompute exactly (n_paths = Σ n, n_users = row count per path).
  * Both state pieces are potentially user-sized, so both live as
  * distributed frames: the (path, user) [[FrameState]] is bounded by
  * users × distinct-paths-per-user (the same bound the batch shuffle
  * has); the carry, 2 rows per user, is replaced by each batch. Serve replays
  * [[graft.etl.Analyze.pathReport]] over the folded frame. Ordering
  * contract: event_id monotone per user across batches (the a25'/w13'
  * statement). [[onBatch]] drops foreachBatch retries; restart =
  * [[rebuildFrom]] (no carry ⇒ interior triples are ALL triples).
  */
class PathStreamFold extends StreamFold {

  private val pairs = new FrameState(
    "step1 STRING, step2 STRING, step3 STRING, user_id BIGINT, n BIGINT")(
    _.groupBy(col("step1"), col("step2"), col("step3"), col("user_id"))
      .agg(sum(col("n")).as("n")))
  private var carry2: Option[DataFrame] = None

  /** Fold one micro-batch of raw events (event_id, user_id,
    * event_type, ...). */
  def foldBatch(batch: DataFrame): Unit = {
    val cols = Seq(col("event_id"), col("user_id"), col("event_type"))
    val b = batch.select(cols: _*)
    val all = synchronized(carry2) match {
      case Some(c) => c.select(cols: _*).unionByName(b)
      case None => b
    }
    val allCk = all.localCheckpoint(true) // triples + next carry read it
    pairs.fold(graft.etl.Analyze.pathUserCounts(
      graft.etl.Analyze.pathTriples(allCk)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id").desc)
    val nextCarry = allCk
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
      .localCheckpoint(true)
    synchronized { carry2 = Some(nextCarry) }
  }

  /** The a31-shaped report over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.etl.Analyze.pathReport(pairs.frame(spark))

  protected def reset(): Unit = { pairs.clear(); carry2 = None }
}
