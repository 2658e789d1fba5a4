package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Moments, WelfordStats}

/** The custom Aggregator must match the built-in avg/var_samp, skip nulls,
  * and merge associatively (partition layout must not change the answer). */
class WelfordSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("welford_stats matches built-in avg/var_samp incl. null skipping") {
    val df = Seq[java.lang.Double](1.0, 2.0, null, 4.0, 8.0, null, 16.0)
      .toDF("x")
    val got = df.agg(udaf(WelfordStats).apply(col("x")).as("st"),
        avg(col("x")).as("m"), var_samp(col("x")).as("v"))
      .select(col("st._1"), col("st._2"), col("m"), col("v")).head()
    assert(math.abs(got.getDouble(0) - got.getDouble(2)) < 1e-12)
    assert(math.abs(got.getDouble(1) - got.getDouble(3)) < 1e-9)
  }

  test("result is independent of partitioning (merge is correct)") {
    // 4-decimal agreement — the query surface's rounding; double merge
    // order shifts the last couple of ulps, which is inherent, not a bug.
    val vals = (1 to 1000).map(i => (i % 7).toString -> (i * 0.37 + 1e6))
    def stats(parts: Int) =
      vals.toDF("k", "x").repartition(parts)
        .groupBy("k").agg(udaf(WelfordStats).apply(col("x")).as("st"))
        .select(col("k"), round(col("st._1"), 4), round(col("st._2"), 4))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .toSet
    assert(stats(1) == stats(13))
  }

  test("welford update is numerically stable where E[x2]-E[x]2 is not") {
    // mean 1e9, stddev ~0.5: the naive form loses all variance digits in
    // double; Welford keeps them.
    val xs = Seq(1e9, 1e9 + 1.0, 1e9 - 1.0, 1e9 + 0.5, 1e9 - 0.5)
    val m = xs.foldLeft(WelfordStats.zero)((b, x) => WelfordStats.reduce(b, x))
    val (_, v) = WelfordStats.finish(m)
    val exact = {
      val mean = xs.sum / xs.size
      xs.map(x => (x - mean) * (x - mean)).sum / (xs.size - 1)
    }
    assert(math.abs(v - exact) / exact < 1e-12)
  }

  test("merge handles empty sides") {
    val m = WelfordStats.reduce(WelfordStats.zero, 5.0)
    assert(WelfordStats.merge(WelfordStats.zero, m) == m)
    assert(WelfordStats.merge(m, WelfordStats.zero) == m)
    assert(WelfordStats.finish(Moments(1, 5.0, 0.0))._2.isNaN)
  }
}
