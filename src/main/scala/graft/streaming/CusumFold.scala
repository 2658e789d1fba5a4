package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A24's streaming twin — live CUSUM drift monitoring against a FIXED
  * reference baseline (the process-control deployment: μ/σ come from a
  * trained in-control period, not from the stream itself — a live
  * monitor cannot standardize by full-series statistics it hasn't seen
  * yet; batch a24 exposes the same fixed-reference mode via
  * [[graft.etl.Analyze.cusumChangepointWithRef]] so the parity pin is
  * exact, not approximate).
  *
  * The recurrence Sᵢ = max(0, Sᵢ₋₁ + xᵢ − k) looks like it forces a
  * sequential, per-event stateful loop. It doesn't: with carry-in S₀
  * the closed form generalizes to Sᵢ = Pᵢ − min(−S₀, 0, min_{j≤i} Pⱼ)
  * ([[graft.etl.Analyze.cusumWindows]], shared with batch), so each
  * micro-batch folds in ONE distributed window pass — the driver holds
  * only per-series carry state: (S⁺, S⁻, maxes, alarm counts, first
  * alarm ids, n), a dozen numbers per event_type whatever the event
  * volume. A 100 TB/day stream carries the same state as a trickle.
  *
  * Ordering contract (the w11'/locfStream discipline): CUSUM is
  * order-DEFINED, not arrival-defined — event_id order within a type
  * must be monotone across micro-batches (a replay/out-of-order
  * delivery belongs to the ingest layer's dedup/sort, t1-t8). Restart
  * = [[rebuildFrom]] over the landed corpus, exact by construction
  * (it IS the batch kernel).
  */
class CusumStreamFold(ref: Map[String, (Double, Double)])
    extends StreamFold {

  /** Per-type carry: (sHi, sLo, maxHi, maxLo, nHiAlarms, nLoAlarms,
    * firstHiId, firstLoId, n). */
  private case class S(sHi: Double, sLo: Double, maxHi: Double,
      maxLo: Double, nHi: Long, nLo: Long, firstHi: Option[Long],
      firstLo: Option[Long], n: Long)

  private val state = scala.collection.mutable.Map.empty[String, S]

  /** Fold one micro-batch: join the carry frame (types-sized,
    * broadcast), run the SHARED carry-in window kernel, collect the
    * types-sized per-type summary, merge into the driver state. */
  def foldBatch(batch: DataFrame): Unit = synchronized {
    val spark = batch.sparkSession
    import spark.implicits._
    val refDf = ref.toSeq.map { case (t, (mu, sd)) => (t, mu, sd) }
      .toDF("event_type", "mu", "sd")
    val carryDf = ref.keys.toSeq.map { t =>
      val s = state.getOrElse(t, S(0, 0, 0, 0, 0, 0, None, None, 0))
      (t, s.sHi, s.sLo)
    }.toDF("event_type", "s0_hi", "s0_lo")
    val scored = graft.etl.Analyze.cusumWindows(batch
      .join(broadcast(refDf.filter(col("sd") > 0)), "event_type")
      .join(broadcast(carryDf), "event_type")
      .withColumn("x", round((col("value") - col("mu")) / col("sd"), 6)))
    val perType = scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("s_hi")).as("max_hi"), max(col("s_lo")).as("max_lo"),
        sum(when(col("s_hi") > 4.0, 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("s_lo") > 4.0, 1L).otherwise(0L)).as("n_lo"),
        min(when(col("s_hi") > 4.0, col("event_id"))).as("first_hi"),
        min(when(col("s_lo") > 4.0, col("event_id"))).as("first_lo"),
        max_by(col("s_hi"), col("event_id")).as("last_hi"),
        max_by(col("s_lo"), col("event_id")).as("last_lo"))
      .collect()
    perType.foreach { r =>
      val t = r.getString(0)
      val prev = state.getOrElse(t, S(0, 0, 0, 0, 0, 0, None, None, 0))
      def optLong(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      state(t) = S(
        sHi = r.getDouble(8), sLo = r.getDouble(9),
        maxHi = math.max(prev.maxHi, r.getDouble(2)),
        maxLo = math.max(prev.maxLo, r.getDouble(3)),
        nHi = prev.nHi + r.getLong(4), nLo = prev.nLo + r.getLong(5),
        firstHi = prev.firstHi.orElse(optLong(6)),
        firstLo = prev.firstLo.orElse(optLong(7)),
        n = prev.n + r.getLong(1))
    }
  }

  /** The a24-shaped report over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = synchronized {
    import spark.implicits._
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    state.toSeq.sortBy(_._1).map { case (t, s) =>
      (t, s.n, r4(s.maxHi), r4(s.maxLo), s.nHi, s.nLo,
        s.firstHi.map(Long.box).orNull, s.firstLo.map(Long.box).orNull)
    }.toDF("event_type", "n", "max_s_hi", "max_s_lo",
      "n_hi_alarms", "n_lo_alarms", "first_hi_alarm_id",
      "first_lo_alarm_id")
  }

  protected def reset(): Unit = state.clear()
}
