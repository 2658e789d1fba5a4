package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W13's streaming twin — the live TWAP (time-weighted average) bars.
  * Hold-until-next semantics make this the one fold in the family whose
  * state needs TWO pieces: the additive per-(series, hour) partials
  * every fold has, plus a per-series PENDING carry — the latest
  * observation, whose hold segment cannot close until its successor
  * arrives, possibly micro-batches later. Each batch folds the carry
  * row in FRONT of the batch through the batch op's own segment kernel
  * ([[graft.ext.WindowFns.hourlyTwapPartials]] — the identical lead
  * window/pro-rata explode/aggregate), so the boundary-crossing segment
  * is computed by the same code path as every interior one; the new
  * carry is the union's latest (us, event_id) row per series.
  *
  * Parity is exact by construction: a series' final observation holds
  * nothing in the batch op (stated w13 contract) and is exactly the
  * still-pending carry here, so serve ≡ batch over the landed corpus at
  * every batch boundary. The partials triple (n_obs, mass, weight) is
  * an additive monoid — mass folds as BigInt, mirroring the batch
  * kernel's DECIMAL(38,0) accumulator, and re-enters the serve kernel
  * as decimal(38,0). Contract: per-series event times arrive in order
  * across batches (hold-until-next is order-DEFINED — an out-of-order
  * straggler would need segment retraction, which a monitor deployment
  * would handle upstream via watermarked reordering); within a batch,
  * order is free. [[onBatch]] carries the batchId and drops foreachBatch
  * retries (a replay must neither re-add partials nor re-advance the
  * carry); restart = [[rebuildFrom]] over the landed corpus. Driver
  * state is series × observed hours + one carry row per series.
  */
class TwapStreamFold extends StreamFold {

  // (series, hour) -> (n_obs, mass = Σ v4·w, w = Σ hold micros)
  private val state =
    scala.collection.mutable.Map.empty[(String, Long), (Long, BigInt, Long)]
  // series -> (us, event_id, value) of the pending last observation
  private val carry =
    scala.collection.mutable.Map.empty[String, (Long, Long, Double)]

  /** Fold one micro-batch of raw events (event_id, ts, event_type, value). */
  def foldBatch(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val carried = synchronized {
      carry.toSeq.map { case (t, (us, id, v)) => (id, us, t, v) }
    }
    val carryDf = carried.toDF("event_id", "us", "event_type", "value")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
        col("event_type"), col("value"))
    val all = batch
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .unionByName(carryDf)
    val partials = graft.ext.WindowFns.hourlyTwapPartials(all).collect()
    val newCarry = all
      .groupBy(col("event_type"))
      .agg(max(struct(expr("unix_micros(ts)").as("us"),
        col("event_id"), col("value"))).as("s"))
      .select(col("event_type"), col("s.us"), col("s.event_id"),
        col("s.value"))
      .collect()
    synchronized {
      partials.foreach { r =>
        val k = (r.getString(0), r.getLong(1))
        val (n0, m0, w0) = state.getOrElse(k, (0L, BigInt(0), 0L))
        state(k) = (n0 + r.getLong(2),
          m0 + BigInt(r.getDecimal(3).toBigInteger),
          w0 + r.getLong(4))
      }
      newCarry.foreach { r =>
        carry(r.getString(0)) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      }
    }
  }

  /** The w13-shaped report over everything folded so far: the folded
    * partials re-enter the BATCH serve kernel, so the division, round,
    * and order rules are the batch op's own. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = synchronized {
      state.toSeq.map { case ((t, h), (n, m, w)) => (t, h, n, m.toString, w) }
    }.toDF("event_type", "hour_idx", "n_obs", "mass_str", "w")
    graft.ext.WindowFns.twapReport(
      rows.withColumn("mass", col("mass_str").cast("decimal(38,0)"))
        .drop("mass_str"))
  }

  protected def reset(): Unit = { state.clear(); carry.clear() }
}
