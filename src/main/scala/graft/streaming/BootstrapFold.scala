package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A43's streaming twin — the live bootstrap-CI. State is the batch
  * op's own reductions ([[graft.etl.Analyze.bootstrapReplicaSums]] +
  * [[graft.etl.Analyze.bootstrapRawSums]]): |types|·B weighted-cent
  * counters plus 2 raw counters per type, all additive monoids —
  * bounded BY CONSTRUCTION at any corpus size (the t24/a41
  * discipline), and valid incrementally BECAUSE the replica weights
  * are a pure function of (event_id, replica) — a Poisson draw keyed
  * by the row, not by arrival order, so folding a new batch is
  * exactly extending every replica's resample with the new rows'
  * draws. serve replays [[graft.etl.Analyze.bootstrapCiFromSums]] —
  * the identical replica-mean + percentile chain the batch query runs
  * — so stream ≡ batch parity is exact by construction at every point
  * in the stream.
  *
  * SUM is not idempotent, so the [[onBatch]] batchId guard is
  * correctness: a re-delivered batch would double its rows' weights
  * in every replica and silently narrow the interval. Restart =
  * [[rebuildFrom]] over the landed corpus (one batch-kernel pass); a
  * `landed` that breaks [[StreamFold]]'s marker-committed contract
  * would not error either, it would silently narrow the served CI. */
class BootstrapFold extends StreamFold {

  private var reps: Map[(String, Int), (Long, Long)] = Map.empty
  private var raw: Map[String, (Long, Long)] = Map.empty

  /** Fold one micro-batch of raw events (event_type, event_id, value). */
  def foldBatch(batch: DataFrame): Unit = {
    val pr = graft.etl.Analyze.bootstrapReplicaSums(batch)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))) // |types|·B rows
    val pw = graft.etl.Analyze.bootstrapRawSums(batch)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    synchronized {
      reps = pr.foldLeft(reps) { case (m, (k, (wc, wn))) =>
        val (a, b) = m.getOrElse(k, (0L, 0L)); m.updated(k, (a + wc, b + wn))
      }
      raw = pw.foldLeft(raw) { case (m, (k, (n, sc))) =>
        val (a, b) = m.getOrElse(k, (0L, 0L)); m.updated(k, (a + n, b + sc))
      }
    }
  }

  /** The a43-shaped CI card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (r, w) = synchronized((reps, raw))
    graft.etl.Analyze.bootstrapCiFromSums(
      r.toSeq.map { case ((t, b), (wc, wn)) => (t, b, wc, wn) }
        .toDF("event_type", "b", "wc", "wn"),
      w.toSeq.map { case (t, (n, sc)) => (t, n, sc) }
        .toDF("event_type", "n_events", "sc"))
  }

  protected def reset(): Unit = { reps = Map.empty; raw = Map.empty }
}
