package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A26's streaming twin — live seasonal-profile anomaly monitoring
  * against a TRAINED hour-of-day baseline (the deployment mode: μ/σ per
  * (series, clock-hour) come from an in-control training window; a
  * stream cannot standardize by a profile it hasn't finished observing.
  * Batch a26 exposes the same fixed-reference mode via
  * [[graft.etl.Analyze.seasonalAnomalyWithRef]], so the parity pin is
  * exact, not approximate).
  *
  * Per micro-batch: ONE distributed pass through the SHARED scoring
  * kernel ([[graft.etl.Analyze.seasonalReport]] — the same broadcast
  * join + per-row z the batch query runs), collapsed to per-cell
  * partials. Driver state is the cell grid itself: ≤ |types| × 24
  * entries of (n, n_anomalies, max_abs_z) — counts merge additively,
  * maxes by max, so the fold is a monoid and a 100 TB/day stream
  * carries the same state as a trickle. Additive counts ⇒ [[onBatch]]
  * carries the batchId and drops foreachBatch retries (the QuantileFold
  * exactly-once device). Restart = [[rebuildFrom]] over the landed
  * corpus — one batch-kernel pass, exact by additivity.
  */
class SeasonalStreamFold(ref: Map[(String, Int), (Double, Double)])
    extends StreamFold {

  /** Per-cell carry: (n, nAnomalies, maxAbsZ). */
  private case class S(n: Long, nAnom: Long, maxZ: Double)

  private val state = scala.collection.mutable.Map.empty[(String, Int), S]

  /** Fold one micro-batch of raw events (ts, event_type, value, ...). */
  def foldBatch(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val prof = ref.toSeq.map { case ((t, h), (mu, sd)) => (t, h, mu, sd) }
      .toDF("event_type", "hod", "mu", "sd")
    val cells = graft.etl.Analyze.seasonalReport(
      batch.withColumn("hod", hour(col("ts"))), prof).collect()
    synchronized {
      cells.foreach { r =>
        val k = (r.getString(0), r.getInt(1))
        val prev = state.getOrElse(k, S(0L, 0L, 0.0))
        state(k) = S(prev.n + r.getLong(2), prev.nAnom + r.getLong(5),
          math.max(prev.maxZ, r.getDouble(6)))
      }
    }
  }

  /** The a26-shaped report over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = synchronized {
    import spark.implicits._
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    state.toSeq.sortBy(_._1).map { case ((t, h), s) =>
      val (mu, sd) = ref((t, h))
      (t, h, s.n, r4(mu), r4(sd), s.nAnom, s.maxZ)
    }.toDF("event_type", "hod", "n", "mu", "sd", "n_anomalies",
      "max_abs_z")
  }

  protected def reset(): Unit = state.clear()
}
