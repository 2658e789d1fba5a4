package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The lifecycle every JVM-state fold in this package shares: the
  * replay guard, the rebuild recipe, the restart guard and the
  * `foreachBatch` wiring. A fold supplies its state, its [[foldBatch]]
  * body, a [[reset]] that clears the state, and its serves.
  *
  * Exactly-once: a `foreachBatch` retry re-delivers the same batch id,
  * so [[onBatch]] folds a batch only when its id is above the last one
  * folded. Additive state (counts, sums, carries) would double on a
  * replay; for idempotent state (set union, max, register max) the
  * guard is a content no-op.
  *
  * Restart: the state lives in the JVM (a driver map or a
  * session-pinned frame), not in the checkpoint. On a restart with the
  * same checkpoint dir the source resumes PAST the committed batches,
  * which is correct only if the fold already holds them. So [[start]]
  * refuses a checkpoint with committed batches when this fold object
  * has folded nothing: it rebuilds from the caller's `landed` corpus,
  * or throws rather than undercount. A fold that has folded (the
  * live-continuation case) resumes.
  *
  * CONTRACT on `landed`: it must reflect only MARKER-COMMITTED batches.
  * [[rebuildFrom]] resets the batch-id guard, so the stream's
  * re-delivery of its last UNcommitted batch folds again on top of the
  * rebuilt state. That is correct exactly when the re-delivered rows
  * are absent from `landed`, which is what an exactly-once sink gives
  * for free: reading the landed corpus through its `_spark_metadata`
  * commit log (how Spark reads a streaming file sink) exposes committed
  * files only. Feeding a raw directory listing (or any at-least-once
  * sink) here double counts the re-delivered tail; for a SUM-shaped
  * fold that is a silently narrowed or shifted readout, not an error.
  *
  * State: most folds hold one of two shapes, and take it from a holder
  * below rather than hand-coding it. [[FrameState]] is a user-sized
  * frame merged per batch (`groupBy/agg` or `distinct` over the union
  * of the state and the batch's partials); [[KeyedSums]] is a small
  * driver map of long sums per key. The rules, stated once here:
  *   - Pinning: a merged frame is eagerly `localCheckpoint`ed, so its
  *     lineage stays one plan deep and it never re-reads a batch whose
  *     source range the stream has moved past.
  *   - Lock: each holder reads, merges and writes back under its own
  *     lock, so a [[rebuildFrom]] reset is never overwritten by a merge
  *     that started before it. A serve blocks only while a merge runs.
  *   - Empty serve: before its first batch a holder serves a typed empty
  *     frame (its DDL), so every serve equals its batch kernel over
  *     zero rows.
  * The holders are the swap point for a move to Spark's checkpointed
  * state store: the folds on them only name their partials, merge and
  * kernel.
  *
  * Folds that keep their own state, and why: [[QuantileStreamFold]]
  * (its histogram is read directly and it serves by driver
  * arithmetic), [[TwapStreamFold]] (its mass is a decimal),
  * [[SeasonalStreamFold]] and [[RollingZStreamFold]] (each keeps a max
  * beside its sums), [[CusumStreamFold]], [[ReservoirFold]],
  * [[SpectrumFold]], [[HllStreamFold]], [[MgStreamFold]] and
  * [[HashedLmFold]] (a sketch, an array or a carry), and the carries of
  * [[PathStreamFold]] and [[AttributionStreamFold]] (each batch
  * replaces them rather than merging into them).
  *
  * Three streaming twins stay off this adapter: [[IngestSync]], whose
  * guard is the on-disk version log; [[BloomStreamDedup]], whose fold
  * returns survivors to a caller-supplied sink; and [[CdcApplySink]],
  * whose state starts from an `initial` snapshot. */
abstract class StreamFold extends Serializable {

  private var lastBatchId = -1L
  private var folded = false

  /** Fold one micro-batch into the state. */
  def foldBatch(batch: DataFrame): Unit

  /** Clear the state; [[rebuildFrom]] calls it under the fold's lock. */
  protected def reset(): Unit

  /** The foreachBatch body: fold unless this batchId already folded. */
  final def onBatch(batch: DataFrame, batchId: Long): Unit = {
    val replay = synchronized(batchId <= lastBatchId)
    if (!replay) {
      foldBatch(batch)
      synchronized { lastBatchId = batchId; folded = true }
    }
  }

  /** Rebuild from the landed corpus (the restart recipe): clear the
    * state and the batch-id guard, then fold `landed` in one pass. */
  final def rebuildFrom(landed: DataFrame): Unit = {
    synchronized { reset(); lastBatchId = -1L; folded = false }
    foldBatch(landed)
    synchronized { folded = true }
  }

  /** Wire a streaming frame into the fold, after the restart guard. */
  final def start(frame: DataFrame, checkpoint: String,
                  landed: Option[DataFrame] = None): StreamingQuery = {
    if (hasCommittedBatches(checkpoint) && !synchronized(folded))
      landed match {
        case Some(l) => rebuildFrom(l)
        case None => throw new IllegalStateException(
          s"checkpoint '$checkpoint' has committed batches but this " +
            "fold holds no state — resuming would silently skip those " +
            "batches. Pass the landed corpus (start(events, checkpoint, " +
            "landed = Some(df))) to rebuild, or use a fresh checkpoint " +
            "dir.")
      }
    frame.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        onBatch(batch.toDF(), id)
      }
      .start()
  }

  /** True iff the checkpoint dir records at least one committed batch
    * (the `offsets/` write-ahead log is the first thing a micro-batch
    * commit creates, so its non-emptiness is the resume marker). */
  private def hasCommittedBatches(checkpoint: String): Boolean = {
    val offsets = new java.io.File(checkpoint, "offsets")
    offsets.isDirectory &&
      Option(offsets.listFiles()).exists(_.nonEmpty)
  }
}

/** A pinned frame merged per batch (the rules are on [[StreamFold]]).
  * `ddl` types the empty frame served before the first batch; `merge`
  * reduces the union of the state and a batch's partials. */
final class FrameState(ddl: String)(merge: DataFrame => DataFrame)
    extends Serializable {

  private var state: Option[DataFrame] = None

  /** Fold one batch's partials: the first batch's as they are, later
    * ones merged with the state, pinned either way. */
  def fold(partials: DataFrame): Unit = synchronized {
    state = Some(state.fold(partials)(s => merge(s.unionByName(partials)))
      .localCheckpoint(true))
  }

  /** The state frame, or the typed empty frame before the first batch. */
  def frame(spark: SparkSession): DataFrame = current.getOrElse(
    spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(ddl)))

  /** The state frame; None before the first batch. */
  def current: Option[DataFrame] = synchronized(state)

  def clear(): Unit = synchronized { state = None }
}

/** Long sums per key on the driver, for partials of at most a few
  * thousand rows (the rules are on [[StreamFold]]). `ddl` names the
  * columns: the first `keys` are the key, the rest are summed. */
final class KeyedSums(ddl: String, keys: Int) extends Serializable {

  private val schema = StructType.fromDDL(ddl)
  private val sums = scala.collection.mutable.Map.empty[Seq[Any], Array[Long]]

  /** Collect a partial frame (columns by position, as in `ddl`) and add
    * its sums per key. */
  def add(partials: DataFrame): Unit = {
    val rows = partials.toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .collect()
    synchronized {
      rows.foreach { r =>
        val s = sums.getOrElseUpdate(r.toSeq.take(keys),
          new Array[Long](schema.size - keys))
        s.indices.foreach(i => s(i) += r.getLong(keys + i))
      }
    }
  }

  /** The sums of one key (zeros if it was never added). */
  def apply(key: Any*): Seq[Long] = synchronized(
    sums.get(key).fold(Seq.fill(schema.size - keys)(0L))(_.toSeq))

  /** The sums as a local frame with the declared schema. */
  def frame(spark: SparkSession): DataFrame = {
    val rows = synchronized(sums.toList.map { case (k, s) => Row.fromSeq(k ++ s) })
    spark.createDataFrame(rows.asJava, schema)
  }

  def clear(): Unit = synchronized(sums.clear())
}
