package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SIM32's streaming twin — the LIVE representation-collapse alarm.
  * The batch card reads a finished corpus; production wants the alarm
  * DURING the crawl: a provider silently swapping to a degenerate
  * embedding model (or a feed flooding near-constant vectors) should
  * flip `collapse_major` mid-ingest, BEFORE the corpus lands in an
  * ANN index or the semantic dedup tier.
  *
  * State is the [[graft.functions.CovarianceSketch]] sufficient
  * statistic — (n, Σx, upper-tri ΣxxT), 1 + d + d(d+1)/2 doubles
  * (2145 at d = 64), the same footprint after ten vectors or ten
  * trillion (the t24 bounded-state discipline). The buffer is an
  * additive monoid over disjoint batches, so per-batch partials (the
  * SAME frame-level Aggregator the batch op runs) fold order-free up
  * to float summation order, and [[serve]] replays
  * [[graft.ext.Similarity.spectrumCardFromFlat]] — the identical
  * covariance/Jacobi/round chain — so stream ≡ batch parity holds at
  * the card level at every point in the stream. Each per-batch
  * collect is ONE 2145-double row.
  *
  * SUM is not idempotent, so the [[onBatch]] batchId guard is
  * correctness (a re-delivered batch would double-count its vectors
  * into the covariance); restart = [[rebuildFrom]] over the landed
  * (marker-committed — [[StreamFold]]'s contract) corpus. */
class SpectrumFold(dim: Int) extends StreamFold {

  private val tri = dim * (dim + 1) / 2
  private var n: Long = 0L
  private val sums = new Array[Double](dim)
  private val cross = new Array[Double](tri)

  /** Fold one micro-batch of (… embedding: array …) rows. Non-finite
    * rows SKIP, matching the batch kernel's tolerant sketch
    * ([[graft.ext.Similarity.covSketchFlat]], advisor r19) — stream ≡
    * batch parity includes the skip rule. */
  def foldBatch(batch: DataFrame): Unit = {
    val sketch =
      udaf(new graft.functions.CovarianceSketch(dim, tolerateNonFinite = true))
    val flat = batch.filter(col("embedding").isNotNull)
      .select(transform(col("embedding"), x => x.cast("double")).as("emb"))
      .agg(sketch(col("emb")).as("flat"))
      .collect().head.getSeq[Double](0)
    synchronized {
      n += flat.head.toLong
      var i = 0
      while (i < dim) { sums(i) += flat(1 + i); i += 1 }
      var t = 0
      while (t < tri) { cross(t) += flat(1 + dim + t); t += 1 }
    }
  }

  private def flatState(): Seq[Double] = synchronized {
    val out = new Array[Double](1 + dim + tri)
    out(0) = n.toDouble
    System.arraycopy(sums, 0, out, 1, dim)
    System.arraycopy(cross, 0, out, 1 + dim, tri)
    out.toSeq
  }

  /** The sim32-shaped spectrum card over everything folded so far. */
  def serve(spark: SparkSession): DataFrame =
    graft.ext.Similarity.spectrumCardFromFlat(spark, flatState(), dim)

  /** sim33's live serve off the SAME state (the a44′ device — a new
    * serve on the existing fold, never a new fold class): the current
    * PCA basis (n, μ, eigenvalues clamped ≥ 0 descending, aligned
    * eigenvectors) through the ONE shared tail
    * ([[graft.ext.Similarity.basisFromFlat]]), so the live basis ≡
    * the batch basis by construction at every wave. An in-flight
    * pipeline can project arriving batches with
    * [[graft.ext.Similarity.pcaProjectFrame]] over this basis without
    * waiting for the corpus to land — the streaming half of the
    * reduce-the-fleet decision sim33's batch card grades. */
  def serveBasis(): (Long, Array[Double], Array[Double],
      Array[Array[Double]]) =
    graft.ext.Similarity.basisFromFlat(flatState(), dim)

  protected def reset(): Unit = {
    n = 0L
    java.util.Arrays.fill(sums, 0.0)
    java.util.Arrays.fill(cross, 0.0)
  }
}
