package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W17's streaming twin — the live conversion-latency card, closing the
  * funnel family (w8/w8'/w17). Unlike the in-order `funnelStream`
  * state machine, this fold is EXACT UNDER ARBITRARY ARRIVAL ORDER
  * (the w9' set-union discipline): state is the compacted per-user
  * funnel-relevant event set, and serving replays the batch op's OWN
  * [[graft.ext.WindowFns.conversionLatency]] kernel over it — parity
  * by construction, late data absorbed retroactively exactly as a
  * batch rerun would absorb it.
  *
  * The state bound comes from a sufficiency argument on the funnel
  * semantics (v = min view; c = min click ≥ v; p = min purchase ≥ c,
  * all per user). As more data arrives, v, c and p can only DECREASE,
  * so the only rows that can ever influence a future answer are:
  *   - the current minimum view (future views only lower v further);
  *   - clicks ≤ c (a click > c can never become the minimum eligible
  *     click: c itself stays eligible under any lower v and is
  *     smaller) — ALL clicks while c is still null, since any of them
  *     may become eligible once a low-enough view lands;
  *   - purchases ≤ p, by the same argument against c (all of them
  *     while p is null).
  * Everything else is provably dead and drops at each fold, so state
  * is per-user (1 view + eligible-frontier clicks/purchases), not the
  * event history. Set-union state makes the fold IDEMPOTENT — a
  * replayed micro-batch distincts away to a content no-op — so the
  * batchId replay guard is belt-and-braces; restart is
  * [[rebuildFrom]] over the landed corpus (one distributed pass). */
class ConversionLatencyFold extends StreamFold {

  /** Compacted (user_id, event_type, ts) state. A batch's partials are
    * compacted too, so the first batch and a rebuild hold the frontier
    * only (deadness against a subset implies deadness against the
    * whole, so compacting twice drops nothing live). */
  private val ev = new FrameState(
    "user_id BIGINT, event_type STRING, ts TIMESTAMP")(u => compacted(u.distinct()))

  def foldBatch(batch: DataFrame): Unit = ev.fold(compacted(batch
    .filter(col("event_type").isin("view", "click", "purchase"))
    .select(col("user_id"), col("event_type"), col("ts")).distinct()))

  /** Drop rows that can never influence any future serve (the
    * sufficiency rule above), using the batch kernel's OWN stage frame
    * as the frontier — the compaction can't drift from the semantics
    * it protects. */
  private def compacted(events: DataFrame): DataFrame =
    events
      .join(graft.ext.WindowFns.funnelStages(events), Seq("user_id"), "left")
      .filter(
        (col("event_type") === "view" && col("ts") === col("v")) ||
          (col("event_type") === "click" &&
            (col("c").isNull || col("ts") <= col("c"))) ||
          (col("event_type") === "purchase" &&
            (col("p").isNull || col("ts") <= col("p"))))
      .select(col("user_id"), col("event_type"), col("ts"))

  /** The w17 card over everything folded so far, through the batch
    * query's identical kernel (funnelStages → latency card). */
  def serve(): DataFrame =
    graft.ext.WindowFns.conversionLatency(ev.frame(SparkSession.active))

  /** The compacted state frame — exposed for specs (size bounds). */
  def stateFrame: Option[DataFrame] = ev.current

  protected def reset(): Unit = ev.clear()
}
