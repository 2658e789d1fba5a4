package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** T8 — the refresh/materialization surface: the reference dashboard
  * TTL-caches its load and offers a manual refresh (dashboard.py:37,
  * 220-228). Two shapes:
  *
  *  - [[Snapshot]]: a named, TTL-cached batch materialization — load once,
  *    serve many reads from executor cache, reload on demand or when
  *    stale. This is the dashboard-facing pattern: N dashboard hits cost
  *    one scan per TTL window, not N scans.
  *  - [[Materialize.refreshFromStream]]: drain everything currently
  *    available on a stream into a queryable in-memory table
  *    (`Trigger.AvailableNow`), returning when the snapshot is complete —
  *    a pull-based refresh of streaming results.
  *
  * Memory-sink snapshots are for serving-size results (aggregates), never
  * fact tables — the bounded thing here is the OUTPUT, as with the CSV
  * sink.
  */
object Materialize {

  /** Run the stream until all currently-available data is processed into
    * in-memory table `name`, then return. Re-invoking re-drains: without a
    * checkpoint the snapshot is rebuilt from the source's full buffer,
    * with one it advances incrementally. Pass `outputMode = "complete"`
    * for aggregate streams (append requires a watermark to finalize
    * rows; a snapshot of a running aggregation wants the full state). */
  def refreshFromStream(stream: DataFrame, name: String,
                        outputMode: String = "append"): Unit = {
    val q = stream.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

/** TTL-cached named materialization of a batch load. `frame()` serves the
  * cached snapshot and transparently reloads when older than `ttlMs`;
  * `refresh()` is the manual button. The snapshot is also registered as
  * temp view `name` so SQL/dashboards can `spark.table(name)` it. */
final class Snapshot(name: String, ttlMs: Long,
                     load: () => DataFrame) {
  private var current: Option[DataFrame] = None
  private var loadedAt = Long.MinValue

  def refresh(): DataFrame = synchronized {
    // Build the replacement FIRST: if the load fails, the previous
    // snapshot stays intact (still cached, still served) instead of the
    // dashboard silently degrading to a full scan per read.
    val df = load().persist()
    df.count() // materialize NOW — serving reads must not pay the scan
    df.createOrReplaceTempView(name)
    current.foreach(_.unpersist())
    current = Some(df)
    loadedAt = System.currentTimeMillis()
    df
  }

  def frame(): DataFrame = synchronized {
    if (current.isEmpty || System.currentTimeMillis() - loadedAt > ttlMs) refresh()
    else current.get
  }
}
