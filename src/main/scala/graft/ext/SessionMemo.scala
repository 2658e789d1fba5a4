package graft.ext

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** A per-session memo: `key → value`, built at most once per
  * (session, key) and dropped on demand — the serve side's one device
  * for reusing built artifacts (indexes, vocabularies, graph views,
  * corpus sizes) across the queries of a session.
  *
  * The contract every memo shares, stated once here:
  *  - A served dir's data is immutable while a session serves it (the
  *    ingest/serve split every index deployment assumes). After
  *    rewriting a dir in place, call [[Similarity.invalidateCaches]]:
  *    declaring a memo registers it, so that one entry point drops
  *    every memo by construction. A memo read through
  *    [[getOrRebuild]] is validated by a fingerprint of its source
  *    instead ([[graft.Tables.t]]'s parquet schemas), so an in-place
  *    rewrite needs no invalidation there.
  *  - Sessions are WEAK keys: a stopped, dereferenced session's
  *    entries (and the checkpoint blocks behind them) become
  *    collectable instead of living for the JVM lifetime.
  *  - Values are view/table NAMES or plain driver data (arrays,
  *    tuples, maps), never a DataFrame: a frame references its
  *    SparkSession through QueryExecution, so a frame-valued entry
  *    would pin its weak session key forever. A checkpointed frame is
  *    memoized as a temp view in the session's own catalog, which
  *    dies with the session.
  *  - `getOrBuild` runs `build` at most once per (session, key), even
  *    when driver pools ask concurrently: a racing second builder would
  *    pin a redundant eager checkpoint for the rest of the session. A
  *    build that throws stores nothing (the next caller builds again),
  *    and the stored value keeps neither the build closure nor the
  *    session reachable. */
final class SessionMemo[K, V] private () {
  import SessionMemo.Slot

  private val sessions =
    new java.util.WeakHashMap[SparkSession, TrieMap[K, Slot[V]]]()

  private def slotsOf(spark: SparkSession): TrieMap[K, Slot[V]] =
    sessions.synchronized {
      var m = sessions.get(spark)
      if (m == null) {
        m = TrieMap.empty[K, Slot[V]]
        sessions.put(spark, m)
      }
      m
    }

  private def existing(spark: SparkSession): Option[TrieMap[K, Slot[V]]] =
    sessions.synchronized(Option(sessions.get(spark)))

  def getOrBuild(spark: SparkSession, key: K)(build: => V): V =
    getOrRebuild(spark, key)(_ => true)(build)

  /** [[getOrBuild]] for a memo validated on every read: a stored value
    * that fails `valid` is dropped and rebuilt in place, so a key keeps
    * one entry however often its source changes. */
  def getOrRebuild(spark: SparkSession, key: K)(valid: V => Boolean)
      (build: => V): V = {
    val slot = slotsOf(spark).getOrElseUpdate(key, new Slot[V])
    slot.synchronized {
      if (!slot.value.exists(valid)) {
        slot.value = None
        slot.value = Some(build)
      }
      slot.value.get
    }
  }

  /** The built value for `key`, if this session has one. */
  def get(spark: SparkSession, key: K): Option[V] =
    existing(spark).flatMap(_.get(key)).flatMap(_.value)

  /** Drop this session's entries whose key matches; returns the
    * dropped keys. */
  def remove(spark: SparkSession)(p: K => Boolean): Seq[K] =
    existing(spark).toSeq.flatMap { m =>
      m.keys.filter(p).toSeq.filter(m.remove(_).isDefined)
    }

  private def invalidate(spark: SparkSession): Unit =
    sessions.synchronized(sessions.remove(spark)): Unit
}

object SessionMemo {
  /** One key's holder: its monitor serializes the build. */
  private final class Slot[V] {
    @volatile var value: Option[V] = None
  }

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_, _]]()

  def apply[K, V](): SessionMemo[K, V] = {
    val m = new SessionMemo[K, V]
    registry.add(m)
    m
  }

  /** Drop this session's entries in every declared memo. */
  private[ext] def invalidateAll(spark: SparkSession): Unit =
    registry.forEach(_.invalidate(spark))
}
