package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A23's streaming twin — the live rolling z-score monitor. The
  * PathFold carry device at depth 20: each batch folds its series'
  * carried last-20 observations in FRONT of the batch as flagged
  * context rows, so every batch row's −20..−1 frame sees exactly the
  * global trailing window even when the baseline spans micro-batches;
  * context rows never re-score. The per-type census (n_scored,
  * n_anomalies, max |z|) is a (sum, sum, max) monoid in driver state,
  * and the carry is |types| × 20 observations — bounded by the type
  * vocabulary, so unlike the user-sized folds it stays a driver map.
  *
  * The fold's window pass is the SIMPLE per-type formulation — correct
  * here because a micro-batch is small — while the batch query runs
  * the r12 global-index re-block; the StreamingSpec parity pin
  * (fold ≡ batch over the landed corpus) therefore doubles as an
  * independent equivalence witness for the re-blocked plan. Ordering
  * contract: event_id monotone per series across batches (the
  * a25'/w13' statement). Additive census ⇒ [[onBatch]] carries the
  * batchId and drops foreachBatch retries; restart = [[rebuildFrom]].
  */
class RollingZStreamFold extends StreamFold {

  // type -> (n_scored, n_anomalies, max_abs_z)
  private val census =
    scala.collection.mutable.Map.empty[String, (Long, Long, Double)]
  // type -> last <=20 (event_id, value), ascending event_id
  private val carry =
    scala.collection.mutable.Map.empty[String, Seq[(Long, Double)]]

  /** Fold one micro-batch of raw events (event_id, event_type, value). */
  def foldBatch(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val carried = synchronized {
      carry.toSeq.flatMap { case (t, vs) =>
        vs.map { case (id, v) => (id, t, v, true) }
      }
    }
    val all = carried.toDF("event_id", "event_type", "value", "ctx")
      .unionByName(batch
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("ctx", lit(false)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(-20, -1)
    val partials = all
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("n_base", count(col("value")).over(w))
      .filter(!col("ctx") && col("n_base") >= 10 && col("sd") > 0)
      .withColumn("z", round((col("value") - col("mu")) / col("sd"), 4))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("anom"),
        max(abs(col("z"))).as("mz"))
      .collect()
    val wTail = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id").desc)
    val tails = all
      .withColumn("rn", row_number().over(wTail))
      .filter(col("rn") <= 20)
      .select(col("event_type"), col("event_id"), col("value"))
      .collect()
    synchronized {
      partials.foreach { r =>
        val k = r.getString(0)
        val (n0, a0, m0) = census.getOrElse(k, (0L, 0L, 0.0))
        census(k) = (n0 + r.getLong(1), a0 + r.getLong(2),
          math.max(m0, r.getDouble(3)))
      }
      val grouped = tails.groupBy(_.getString(0))
      grouped.foreach { case (t, rs) =>
        carry(t) = rs.map(r => (r.getLong(1), r.getDouble(2)))
          .sortBy(_._1)
      }
    }
  }

  /** The a23-shaped census over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synchronized {
      census.toSeq.map { case (t, (n, a, m)) =>
        (t, n, a, BigDecimal(m).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toDF("event_type", "n_scored", "n_anomalies", "max_abs_z")
      .orderBy(col("event_type"))
  }

  protected def reset(): Unit = { census.clear(); carry.clear() }
}
