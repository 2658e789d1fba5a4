package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables

/** Running (count, mean, M2) — the Welford/Chan moment sketch. Fixed-size,
  * mergeable state: exactly what a distributed aggregate buffer must be.
  * Null-count semantics match SQL aggregates: nulls are skipped in
  * `reduce`, so n counts only non-null inputs. */
case class Moments(n: Long, mean: Double, m2: Double)

/** WelfordStats — a typed custom `Aggregator` registered through
  * `functions.udaf` (SURVEY §2.10's fourth UDF tier: Column functions,
  * codegen Expressions, Generators, and this — a custom aggregate).
  *
  * Computes mean + sample variance in ONE streaming pass with the
  * numerically-stable Welford update and Chan's pairwise merge — unlike the
  * naive E[x²]−E[x]² form, no catastrophic cancellation when stddev ≪ mean.
  * The buffer is 24 bytes regardless of input size and merges
  * associatively, so Spark runs it as partial aggregation: map-side
  * combine per partition, then a merge-only shuffle of 3 doubles per
  * group — the same execution shape as a built-in agg, safe at 100 TB.
  */
object WelfordStats extends Aggregator[java.lang.Double, Moments, (Double, Double)] {

  override def zero: Moments = Moments(0L, 0.0, 0.0)

  override def reduce(b: Moments, x: java.lang.Double): Moments =
    if (x == null) b
    else {
      val n = b.n + 1
      val delta = x.doubleValue() - b.mean
      val mean = b.mean + delta / n
      Moments(n, mean, b.m2 + delta * (x.doubleValue() - mean))
    }

  /** Chan's parallel combine: exact for counts/means, stable for M2. */
  override def merge(a: Moments, b: Moments): Moments =
    if (a.n == 0) b
    else if (b.n == 0) a
    else {
      val n = a.n + b.n
      val delta = b.mean - a.mean
      Moments(n,
        a.mean + delta * b.n / n,
        a.m2 + b.m2 + delta * delta * a.n * b.n / n)
    }

  /** (mean, sample variance); NaN below 1/2 observations like var_samp. */
  override def finish(r: Moments): (Double, Double) =
    (if (r.n < 1) Double.NaN else r.mean,
     if (r.n < 2) Double.NaN else r.m2 / (r.n - 1))

  override def bufferEncoder: Encoder[Moments] = Encoders.product[Moments]
  override def outputEncoder: Encoder[(Double, Double)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
}

object WelfordQueries {

  /** U1 — per-flag quantity moments via the custom Aggregator, verified
    * value-for-value against DuckDB's avg/var_samp. */
  def u1WelfordStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        udaf(WelfordStats).apply(col("l_quantity").cast("double")).as("st"))
      .select(col("l_returnflag"), col("n"),
        round(col("st._1"), 4).as("mean_qty"),
        round(col("st._2"), 4).as("var_qty"))
      .orderBy(col("l_returnflag"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u1_welford_stats" -> u1WelfordStats
  )

  val oracle: Map[String, String] = Map(
    "u1_welford_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(avg(l_quantity), 4) AS mean_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
