package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SIM28's streaming twin — the LIVE retrain alarm. The batch card
  * compares two finished corpus generations; production wants the
  * alarm DURING the new crawl: the reference occupancy (the frozen
  * published cells' census, captured ONCE from the served index) sits
  * immutable while each micro-batch of newly-ingested, already-
  * assigned vectors folds its per-cell counts — state is one long
  * counter per cell, bounded by the PUBLISHED cell count k at any
  * corpus size (the t24 discipline), and the per-batch collect is
  * ≤ k rows. serve replays [[graft.ext.Similarity.cellPsiFromCounts]]
  * — the identical fixed-domain/smoothing/round chain the batch query
  * runs — so stream ≡ batch parity is exact by construction at every
  * point in the stream, and `drift_major` flipping true mid-crawl IS
  * the "stop and retrain the quantizer" signal
  * ([[graft.ext.IndexStore]]'s missing staleness trigger, live).
  *
  * Batches must arrive ALREADY assigned to the frozen cells (a `cell`
  * column — d51's ingest shape: `ivfAssign` on the published
  * centroids rides the ingest pass, so the fold never touches
  * vectors). SUM is not idempotent, so the [[onBatch]] batchId guard
  * is correctness: a re-delivered batch would double its cells'
  * counts and bend the PSI. Restart = [[rebuildFrom]] over the landed
  * (marker-committed — [[StreamFold]]'s contract) assigned corpus. */
class CellDriftFold(refCounts: Map[Int, Long], k: Int)
    extends StreamFold {

  // cell -1 holds the rows outside [0, k); the fixed-domain join of
  // serve drops it from the totals
  private val counts = new KeyedSums("cell INT, cc BIGINT", keys = 1)

  /** Rows whose `cell` violated the published [0, k) domain (or was
    * null) across every folded batch — counted EXPLICITLY (advisor
    * r17): [[serve]]'s fixed-domain join would otherwise silently
    * drop them from the totals, hiding an ingest assignment that no
    * longer matches the served generation — which is itself a
    * retrain-grade alarm, not noise to swallow. */
  def domainViolations: Long = counts(-1).head

  /** Fold one micro-batch of assigned vectors (… cell …). */
  def foldBatch(batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    // cast-to-int tolerates a LongType cell column (advisor r17: the
    // raw getInt threw on long or null); the domain filter keeps the
    // k-bounded state contract and the violation count is served, not
    // silently shifted out of the totals by the fixed-domain join
    counts.add(batch // ≤ k+1 rows
      .groupBy(when(col("cell").isNotNull &&
          col("cell") >= 0 && col("cell") < k,
        col("cell").cast("int")).otherwise(lit(-1)))
      .agg(count(lit(1))))
  }

  /** The sim28-shaped drift card: frozen reference vs everything
    * folded so far. */
  def serve(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.ext.Similarity.cellPsiFromCounts(
      refCounts.toSeq.toDF("cell", "cr"), counts.frame(spark), k)
  }

  protected def reset(): Unit = counts.clear()
}
