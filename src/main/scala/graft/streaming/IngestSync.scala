package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Sources

/** S21' — the landing-directory sync as a STREAM (r13 verdict ask #7):
  * a `FileStreamSource` discovers newly landed parquet (checkpointed
  * offsets replace s21's manifest — the Auto Loader shape end-to-end)
  * and each micro-batch publishes the next state version through the
  * SAME aggregate/merge kernels the manifest-based
  * [[Sources.incrementalSync]] uses ([[Sources.eventDelta]] /
  * [[Sources.mergeState]]) into the SAME versioned layout — so s22's
  * time travel reads a stream-maintained history identically, and
  * StreamingSpec pins stream ≡ manifest on the same landed waves.
  *
  * Retry discipline: `foreachBatch` may RE-DELIVER a batch id after a
  * failure between the body and the commit. The state write is
  * versioned and immutable, so a blind re-run would publish a
  * duplicate version — double-counting the batch in the history s22
  * serves. The WAP answer: a per-batch marker commits LAST, and a
  * batch id whose marker exists is a no-op — the version count must
  * not advance under replay (spec-pinned).
  *
  * The marker alone leaves one window open (advisor r14): a crash
  * BETWEEN the version write and the marker write makes the orphan
  * version the visible latest, and a naive replay would read it as
  * `prev` and merge the same delta AGAIN — a double count published
  * into the history s22 serves. Closed by making the version publish
  * idempotent ON THE BATCH ID: the merged state stages under a
  * non-version name, a `_batch_b<id>` tag (underscore-prefixed, so
  * parquet readers skip it) is written INSIDE the staging dir, and
  * one rename publishes state and tag together. On re-delivery the
  * latest version's tag adjudicates: tagged with THIS batch id → the
  * publish already completed, re-commit the marker only (no second
  * merge); tagged with a batch whose marker is absent and which is
  * not this one → a lost batch's orphan, deleted before merging (its
  * delta is re-delivered by the checkpoint). Untagged versions are
  * manifest-published ([[Sources.incrementalSync]]) and always
  * trusted. The whole tagged-unmarked SUFFIX of the chain is
  * validated, not just the latest version (advisor r15): two or more
  * consecutive orphans mean a manifest publish or a checkpoint-reset
  * batch landed on top of an orphan — a possibly double-merged
  * history this writer refuses (sys.error) rather than extends. Unlike
  * the fold family this twin is not a [[StreamFold]] and needs no
  * restart guard: its state lives in the versioned store, not the
  * JVM, so a restart resumes correctly from whatever the markers and
  * tags say is done. */
object IngestSync {

  /** The batch-id tag riding inside a stream-published version dir
    * (None for manifest-published versions). */
  private def versionBatchTag(fs: org.apache.hadoop.fs.FileSystem,
                              vdir: Path): Option[Long] =
    if (!fs.exists(vdir)) None
    else fs.listStatus(vdir).toSeq.map(_.getPath.getName)
      .find(_.startsWith("_batch_b"))
      .map(_.drop("_batch_b".length).toLong)

  /** The foreachBatch body — public so the replay spec can re-deliver
    * a committed batch id directly and assert the no-op. */
  def onBatch(stateRoot: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val marker = new Path(s"$stateRoot/batches/b$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // re-delivered batch: WAP no-op
    // Crash-window repair over the WHOLE tagged suffix (advisor r15):
    // walk versions latest-first while they are tagged AND unmarked.
    // Inductively a marked tag or an untagged (manifest-published,
    // always-trusted) version certifies everything beneath it — it was
    // validated when ITS batch published — so the walk is O(1) per
    // batch in steady state. A single trailing orphan is the repaired
    // crash window: re-commit if it is THIS batch, sweep it if its
    // batch was lost. TWO OR MORE consecutive orphans cannot be
    // produced by one well-behaved stream (a marker commits between
    // publishes); they mean a manifest publish or a checkpoint-reset
    // batch landed ON TOP of an orphan — the history below is already
    // suspect, so refuse loudly instead of silently double-merging.
    val unmarked = Sources.stateVersions(spark, stateRoot).reverse.iterator
      .map(v => v -> versionBatchTag(fs, new Path(s"$stateRoot/versions/v$v")))
      .takeWhile(_._2.exists(b =>
        !fs.exists(new Path(s"$stateRoot/batches/b$b"))))
      .toList
    val alreadyPublished = unmarked match {
      case Nil => false
      case (_, Some(`batchId`)) :: Nil =>
        true // crashed after publish: re-commit the marker only
      case (v, Some(_)) :: Nil =>
        // a lost batch's orphan — sweep it; the checkpoint re-delivers
        fs.delete(new Path(s"$stateRoot/versions/v$v"), true)
        false
      case more =>
        sys.error(s"state chain at $stateRoot carries ${more.size} " +
          "consecutive unmarked stream-tagged versions " +
          s"(${more.map(_._1).mkString(",")}) — a publish landed on top " +
          "of an orphan (mixed manifest/stream publishes on one " +
          "stateRoot, or a checkpoint reset); refusing to extend a " +
          "possibly double-merged history")
    }
    if (!alreadyPublished && !batch.isEmpty) {
      val versions = Sources.stateVersions(spark, stateRoot)
      val prev = versions.lastOption.map(v =>
        spark.read.parquet(s"$stateRoot/versions/v$v"))
      val merged = Sources.mergeState(prev, Sources.eventDelta(batch))
      val next = versions.lastOption.getOrElse(0) + 1
      // stage → tag → one rename: the tag can never be seen without
      // the state it describes, and a half-written staging dir is
      // invisible to stateVersions (name is not v<digits>)
      val staging = new Path(s"$stateRoot/versions/staging_b$batchId")
      merged.write.mode("overwrite").parquet(staging.toString)
      fs.create(new Path(staging, s"_batch_b$batchId"), true).close()
      if (!fs.rename(staging, new Path(s"$stateRoot/versions/v$next")))
        sys.error(s"version publish v$next failed for batch $batchId")
    }
    fs.create(marker, true).close() // commit marker LAST
  }

  /** Drain everything currently landed (Trigger.AvailableNow — the
    * scheduled-ingest posture; a continuous deployment would drop the
    * trigger and keep the same body). The landing dir must hold at
    * least one file at first start: the stream's schema is read from
    * the landed parquet itself, which is also the s21 contract (a sync
    * against nothing is a no-op there too). */
  def start(spark: SparkSession, landing: String, stateRoot: String,
            checkpoint: String): StreamingQuery =
    spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .parquet(landing)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        onBatch(stateRoot, batch.toDF(), id)
      }
      .start()
}
