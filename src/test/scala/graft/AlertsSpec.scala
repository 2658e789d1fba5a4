package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Alerts, Materialize, Reading, Snapshot}

/** Stateful alerting (T9 arbitrary state) and the T8 refresh surface. */
class AlertsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("alert fires once per upward crossing; state evicts on timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Reading]
    val q = Alerts.thresholdAlerts(in.toDS(), threshold = 35.0)
      .writeStream.format("memory").queryName("alerts_out")
      .outputMode("append").start()

    // Rise through the threshold → one alert; staying above → silent.
    in.addData(
      Reading("A", t("2024-01-01 10:00:00"), 20.0),
      Reading("A", t("2024-01-01 10:05:00"), 50.0),
      Reading("A", t("2024-01-01 10:10:00"), 60.0))
    q.processAllAvailable()
    // Dip below then rise again → a second alert (a new episode).
    in.addData(
      Reading("A", t("2024-01-01 10:20:00"), 10.0),
      Reading("A", t("2024-01-01 10:25:00"), 70.0))
    q.processAllAvailable()
    // Two watermark-advancing batches from another key: first carries the
    // watermark past A's timeout (last A event 10:25 + 30 min TTL), the
    // second triggers A's timeout invocation → state evicted.
    in.addData(Reading("B", t("2024-01-01 13:00:00"), 1.0))
    q.processAllAvailable()
    in.addData(Reading("B", t("2024-01-01 13:30:00"), 1.0))
    q.processAllAvailable()
    // A returns above the threshold. Without eviction its state still says
    // "above" and this would be silent; eviction makes it a fresh episode.
    in.addData(Reading("A", t("2024-01-01 14:00:00"), 80.0))
    q.processAllAvailable(); q.stop()

    val alerts = spark.table("alerts_out")
      .filter($"location" === "A").orderBy($"ts")
      .as[(String, Timestamp, Double, Double)].collect()
    assert(alerts.map(_._2) sameElements
      Array(t("2024-01-01 10:05:00"), t("2024-01-01 10:25:00"), t("2024-01-01 14:00:00")))
    assert(alerts.forall(_._4 == 35.0))
    // B never crossed — no alerts.
    assert(spark.table("alerts_out").filter($"location" === "B").isEmpty)
  }

  test("snapshot serves from cache within TTL and reloads on refresh (T8)") {
    import spark.implicits._
    var loads = 0
    val snap = new Snapshot("t8_snap", ttlMs = 60 * 60 * 1000, () => {
      loads += 1
      Seq((1, "a"), (2, "b")).toDF("id", "v")
    })
    assert(snap.frame().count() == 2)
    assert(snap.frame().count() == 2)
    assert(loads == 1) // second read inside TTL → no reload
    assert(spark.table("t8_snap").count() == 2) // SQL-visible
    snap.refresh()
    assert(loads == 2) // the manual refresh button
    val stale = new Snapshot("t8_snap2", ttlMs = 0, () => {
      loads += 1; Seq((1, "a")).toDF("id", "v")
    })
    stale.frame(); Thread.sleep(5); stale.frame()
    assert(loads == 4) // ttl 0 → every read reloads
  }

  test("aggregate streams snapshot via complete mode (T8)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    def agg = in.toDF().toDF("k", "v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("total"))
    in.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
    Materialize.refreshFromStream(agg, "t8_agg_snap", outputMode = "complete")
    def state = spark.table("t8_agg_snap").as[(String, Double)].collect().toMap
    assert(state == Map("a" -> 3.0, "b" -> 5.0))
    in.addData(("a", 4.0))
    Materialize.refreshFromStream(agg, "t8_agg_snap", outputMode = "complete")
    assert(state == Map("a" -> 7.0, "b" -> 5.0))
  }

  test("refreshFromStream drains available data into a queryable table (T8)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1, 2)
    Materialize.refreshFromStream(in.toDF(), "t8_stream_snap")
    assert(spark.table("t8_stream_snap").count() == 2)
    in.addData(3)
    Materialize.refreshFromStream(in.toDF(), "t8_stream_snap")
    // no checkpoint → the snapshot is rebuilt from the full source buffer
    assert(spark.table("t8_stream_snap").as[Int].collect().toSet == Set(1, 2, 3))
  }
}
