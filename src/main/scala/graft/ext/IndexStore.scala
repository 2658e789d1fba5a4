package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-SESSION persistence for trained ANN index artifacts — the
  * j11/d18 ingest/serve split applied to the quantization family
  * (r12 verdict ask #3). The per-session memos in [[Similarity]] stop a
  * session from retraining an index per QUERY; this store stops a new
  * session (a new JVM: tomorrow's bench round, a fresh notebook, the
  * driver's Verify run after the Bench run) from retraining per
  * SESSION. At 100 TB the difference is the whole point of a lakehouse
  * index: k-means coarse training + a corpus-wide encode are a
  * scheduled ingest job, and every serving session from then on pays
  * one parquet scan.
  *
  * The store speaks `org.apache.hadoop.fs.FileSystem` throughout (the
  * s19/s21 Sources discipline, r13 verdict ask #3) — the root may live
  * on ANY registered scheme (`file:`, `hdfs:`, an object store), not
  * just the local disk the old `java.io.File` form assumed. Because an
  * object store's rename is copy-then-delete (NOT atomic), the rename
  * is an optimization, never the correctness carrier: completeness is
  * carried by the [[OkMarker]], written strictly LAST, and a reader
  * loads a published dir only when the marker is present.
  *
  * Layout: `<root>/<dirTag>_<fingerprint>/<artifact>_v<F>/<part>/…`.
  *
  *  - `root` defaults to `java.io.tmpdir/graft_index_store`; override
  *    with system property `graft.index.store` (specs point it at a
  *    scratch dir — or a non-`file:` scheme — so store state can be
  *    controlled per test).
  *  - `fingerprint` hashes every (name, size, mtime) under the source
  *    table's path. The driver regenerates testdata between rounds;
  *    with the fingerprint in the KEY, a stale index is simply
  *    unreachable — there is no "is it fresh?" check to forget, the
  *    same device as content-addressed build caches.
  *  - `_v<F>` is [[FormatVersion]] — the CODE's artifact-layout
  *    version, folded into the path (advisor r13): the dataset
  *    fingerprint alone cannot see a change to the training code or
  *    codebook schema, so without the version a new binary would
  *    silently serve a stale index published by the old code from the
  *    shared store. Bump it on ANY training/layout change and the old
  *    publishes become unreachable, exactly like a rewritten dataset.
  *  - publish is complete-or-invisible: artifacts build in a
  *    `.tmp<pid>_<nonce>` sibling (the per-build nonce keeps two
  *    sessions of one JVM out of each other's tmp dir), the marker is
  *    written last INSIDE the tmp dir, and the tmp dir moves to the
  *    final path — a concurrent builder either wins the move or
  *    discards its copy and reads the winner's; a reader that arrives
  *    mid-copy on a non-atomic store sees no marker and does not load.
  *
  * [[builds]] records every actual build run; the IndexStoreSpec
  * "fresh session serves with zero training" pin reads it, which keeps
  * the no-retrain claim a TESTED property rather than a comment.
  * Delta artifacts (sim23's incremental maintenance) log here too —
  * their entries are named, so a spec can distinguish "assigned one
  * appended batch" (cheap, expected) from "retrained the quantizer"
  * (the failure the log exists to catch). */
object IndexStore {

  /** Artifact-layout version — part of every published path. Bump on
    * any change to what the build closures write (schemas, encoding,
    * k-means params) so old publishes can never be served by new code. */
  private val FormatVersion = 2

  private def hadoopConf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  private def root: Path = new Path(
    sys.props.getOrElse("graft.index.store",
      sys.env.getOrElse("SPARK_GRAFT_INDEX_STORE",
        System.getProperty("java.io.tmpdir") + "/graft_index_store")))

  /** Marker written LAST inside the tmp dir, so after the move its
    * presence proves every artifact under the published dir is
    * complete (parquet's own _SUCCESS only covers one frame). */
  private val OkMarker = "_GRAFT_OK"

  /** Build-run event log (artifact@dir). Appended ONLY when a build
    * closure actually executes — the observable the zero-retrain spec
    * pins. Bounded: one entry per (artifact, dataset fingerprint) per
    * process lifetime. */
  val builds = new java.util.concurrent.CopyOnWriteArrayList[String]()

  private val buildNonce = new java.util.concurrent.atomic.AtomicLong()

  /** (dir, table) pairs this session has served through the store —
    * lets [[Similarity.invalidateCaches]] drop the published indexes
    * for everything the session was serving (advisor r13: the session
    * memo cleared but the store kept serving a stale publish whenever
    * an in-place rewrite preserved file metadata). */
  private val servedBySession = SessionMemo[(String, String), Unit]()

  /** Drop every published index for each (dir, table) this session has
    * served — the store half of [[Similarity.invalidateCaches]]. */
  def invalidateServed(spark: SparkSession): Unit = {
    servedBySession.remove(spark)(_ => true).foreach { case (d, t) =>
      invalidate(spark, d, t)
    }
  }

  /** Content fingerprint of `<dir>/<table>.parquet` from file metadata
    * (names, sizes, mtimes) — cheap (one recursive listing, no data
    * read) and changes whenever the driver rewrites the table. */
  private[graft] def fingerprint(spark: SparkSession, dir: String,
                                 table: String): String = {
    val base = new Path(dir, table + ".parquet")
    val fs = base.getFileSystem(hadoopConf(spark))
    // A missing table is a benign constant signature, not a throw
    // (advisor r14): invalidate()/cleanup paths must stay no-ops when
    // the table was deleted or never written.
    if (!fs.exists(base)) return "absent00"
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
          .flatMap(s => walk(s.getPath))
      else Seq(st)
    }
    val sig = walk(base)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(sig) & 0xffffffffL}%08x"
  }

  /** Fingerprint over a SET of source tables — for artifacts derived
    * from more than one (the d49 card reads documents AND embeddings).
    * The single-table form returns [[fingerprint]] verbatim so every
    * pre-existing published path stays reachable. */
  private[graft] def combinedFingerprint(spark: SparkSession, dir: String,
                                         tables: Seq[String]): String =
    if (tables.sizeIs == 1) fingerprint(spark, dir, tables.head)
    else {
      val sig = tables.map(t => s"$t=${fingerprint(spark, dir, t)}")
        .mkString("|")
      f"${scala.util.hashing.MurmurHash3.stringHash(sig) & 0xffffffffL}%08x"
    }

  private def datasetRoot(spark: SparkSession, dir: String,
                          tables: Seq[String]): Path =
    new Path(root,
      Similarity.dirTag(dir) + "_" + combinedFingerprint(spark, dir, tables))

  /** Self-description record at each dataset root: the source tables
    * its fingerprint was computed from, so [[gcStore]] can re-derive
    * the CURRENT fingerprint and recognize a stale root without any
    * external registry. */
  private val TablesRecord = "_GRAFT_TABLES"

  private def recordTables(fs: FileSystem, dsRoot: Path,
                           tables: Seq[String]): Unit = {
    val p = new Path(dsRoot, TablesRecord)
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      out.write(tables.mkString(",").getBytes("UTF-8"))
      out.close()
    }
  }

  /** Serve the named artifact set for (dir, table): load it if a
    * complete publish exists, otherwise run `build` (the training
    * job), publish complete-or-invisible, and load the published copy.
    * Returns sub-artifact name → DataFrame read FROM THE STORE — even
    * the builder session serves off the published files, so the serve
    * lineage is identical for builder and reader sessions (no
    * builder-only fast path to hide a broken store). */
  def loadOrBuild(spark: SparkSession, dir: String, table: String,
                  name: String)(build: => Seq[(String, DataFrame)])
      : Map[String, DataFrame] =
    loadOrBuild(spark, dir, Seq(table), name)(build)

  /** Multi-table form: the artifact's fingerprint covers EVERY listed
    * source table, so a rewrite of any one of them re-keys it. */
  def loadOrBuild(spark: SparkSession, dir: String, tables: Seq[String],
                  name: String)(build: => Seq[(String, DataFrame)])
      : Map[String, DataFrame] = {
    tables.foreach(t => servedBySession.getOrBuild(spark, (dir, t))(()))
    val dsRoot = datasetRoot(spark, dir, tables)
    val path = new Path(dsRoot, s"${name}_v$FormatVersion")
    val fs = path.getFileSystem(hadoopConf(spark))
    if (!fs.exists(new Path(path, OkMarker))) {
      builds.add(s"$name@$dir")
      val parts = build
      val tmp = new Path(path.getParent,
        path.getName + ".tmp" + ProcessHandle.current().pid() + "_" +
          buildNonce.incrementAndGet())
      parts.foreach { case (sub, df) =>
        df.write.mode("overwrite").parquet(new Path(tmp, sub).toString)
      }
      fs.create(new Path(tmp, OkMarker), true).close()
      fs.mkdirs(path.getParent)
      // The move is best-effort: losing it (concurrent publish landed
      // between the check and here) means the winner's copy is
      // complete — discard ours and serve theirs. The sweep runs
      // UNCONDITIONALLY (advisor r14): when dst appears between the
      // exists check and the rename, POSIX/HDFS rename moves tmp
      // INSIDE dst and still returns TRUE, so gating the sweep on the
      // rename's result would leave a stray .tmp child under the
      // published dir. Win or lose: drop any sibling tmp, drop any
      // stray copy of it under dst, then let the marker adjudicate.
      if (!fs.exists(path)) fs.rename(tmp, path): Unit
      fs.delete(tmp, true)
      fs.delete(new Path(path, tmp.getName), true)
      if (!fs.exists(new Path(path, OkMarker)))
        sys.error(s"index publish failed for $path")
    }
    recordTables(fs, dsRoot, tables)
    fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      // defense in depth for publishes by PRE-sweep binaries: a stray
      // .tmp<pid> child is a lost race's debris, never a sub-artifact
      .filterNot(_.getPath.getName.contains(".tmp"))
      .map(s => s.getPath.getName -> spark.read.parquet(s.getPath.toString))
      .toMap
  }

  /** Load the named artifact set ONLY if a complete publish exists —
    * no build closure, no side effects beyond the session's served
    * bookkeeping. This is how a serve path consults a GENERATION
    * POINTER (sim31's retrain commit): the committed generation's
    * marker-gated publish IS the pointer — complete-or-invisible, so
    * preferring it over the base artifact is an atomic cutover carried
    * by the store's existing correctness mechanism, with no separate
    * pointer file to corrupt or half-write. Returns None when the
    * marker is absent (never-committed, mid-publish, or invalidated). */
  def loadIfPublished(spark: SparkSession, dir: String, table: String,
                      name: String): Option[Map[String, DataFrame]] = {
    val path = new Path(datasetRoot(spark, dir, Seq(table)),
      s"${name}_v$FormatVersion")
    val fs = path.getFileSystem(hadoopConf(spark))
    if (!fs.exists(new Path(path, OkMarker))) None
    else {
      servedBySession.getOrBuild(spark, (dir, table))(())
      Some(fs.listStatus(path).toSeq
        .filter(_.isDirectory)
        .filterNot(_.getPath.getName.contains(".tmp"))
        .map(s => s.getPath.getName -> spark.read.parquet(s.getPath.toString))
        .toMap)
    }
  }

  /** Pure existence probe: is a complete publish of `name` present?
    * The job-free form of [[loadIfPublished]] — one marker check, no
    * frame reads, no served-registry side effect — for serve paths
    * that only need to VALIDATE a session memo against the store (the
    * sim31 warm card: its flags memo is good exactly while the
    * transition receipt it was read from is still published). */
  def isPublished(spark: SparkSession, dir: String, table: String,
                  name: String): Boolean = {
    val path = new Path(datasetRoot(spark, dir, Seq(table)),
      s"${name}_v$FormatVersion")
    path.getFileSystem(hadoopConf(spark)).exists(new Path(path, OkMarker))
  }

  /** Names of every COMPLETELY PUBLISHED artifact (marker present,
    * current [[FormatVersion]]) under (dir, table)'s dataset root, with
    * the version suffix stripped — how sim31's commit DERIVES its
    * superseded set from what actually exists instead of naming
    * maintenance suffixes as constants (r18 verdict ask #3: a changed
    * batch size or tombstone mod must not orphan artifacts the commit
    * should retire). Unpublished (mid-build, markerless) and
    * stale-version dirs are not listed: the former may be a concurrent
    * publish in flight, the latter is [[gcStore]]'s own version sweep's
    * job. */
  def listArtifacts(spark: SparkSession, dir: String,
                    table: String): Seq[String] = {
    val dsRoot = datasetRoot(spark, dir, Seq(table))
    val fs = dsRoot.getFileSystem(hadoopConf(spark))
    if (!fs.exists(dsRoot)) return Seq.empty
    val suffix = s"_v$FormatVersion"
    fs.listStatus(dsRoot).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.endsWith(suffix) &&
        fs.exists(new Path(p, OkMarker)))
      .map(_.getName.dropRight(suffix.length))
      .sorted
  }

  /** Drop every published index for (dir, table) — the store-side
    * companion of [[Similarity.invalidateCaches]] for callers that
    * rewrote a served dir in place (same mtime/size, e.g. a test
    * fixture) and need the fingerprint shortcut overridden. Sweeps the
    * single-table root AND any multi-table root whose recorded source
    * set includes the table. */
  def invalidate(spark: SparkSession, dir: String, table: String): Unit = {
    val p = datasetRoot(spark, dir, Seq(table))
    val fs = p.getFileSystem(hadoopConf(spark))
    fs.delete(p, true)
    val r = root
    if (fs.exists(r))
      fs.listStatus(r).toSeq.filter(_.isDirectory)
        .filter(st => isRootOfTag(st.getPath.getName,
          Similarity.dirTag(dir)))
        .foreach { st =>
          val rec = new Path(st.getPath, TablesRecord)
          if (fs.exists(rec) &&
              readSmall(fs, rec).split(",").contains(table))
            fs.delete(st.getPath, true): Unit
        }
  }

  /** `<dirTag>_<8-hex-fingerprint>` shape check — how [[gcStore]] and
    * [[invalidate]] recognize which store roots belong to a dir
    * without a registry (prefix tests alone would cross-match tags
    * that prefix each other). */
  private def isRootOfTag(name: String, tag: String): Boolean =
    name.length == tag.length + 9 && name.startsWith(tag + "_") &&
      name.drop(tag.length + 1).forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private val VersionSuffix = "_v(\\d+)$".r.unanchored

  /** Store GARBAGE COLLECTION (r14 verdict ask #7) — s16's compaction
    * economics at the store tier. Publishes are content-addressed, so
    * nothing ever overwrites: every dataset rewrite (new fingerprint),
    * every [[FormatVersion]] bump, and every superseded maintenance
    * generation (sim25 folds delta + tombstones into a compacted
    * generation) leaves its predecessor on disk forever unless swept.
    *
    * Deletes, for each store root belonging to one of `dirs`:
    *  - whole dataset roots whose recorded source tables no longer
    *    fingerprint to the root's key (the dataset was rewritten — the
    *    root is unreachable by construction);
    *  - root-level `.gc_probe_*` files older than `tmpAgeMs` — a
    *    prior sweep's clock probe whose delete failed (advisor r17;
    *    the tag-matched descent below never visits root files);
    *  - inside LIVE roots: artifacts published under a non-current
    *    `_v<k>` (unreachable since the code bump), `.tmp` debris from
    *    crashed pre-sweep binaries, and artifacts the caller names in
    *    `superseded` (the compaction contract: after sim25 publishes
    *    `..._compacted_g1`, a pipeline that has cut serving over to
    *    the generation declares the delta/tombstone artifacts folded
    *    — GC never infers this itself, because sim23/sim24 may still
    *    legitimately serve them).
    *
    * Roots whose name does not match a known dir tag, or that predate
    * the `_GRAFT_TABLES` record, are left untouched (possibly another
    * pipeline's data — GC only removes what it can PROVE unreachable
    * or was explicitly declared superseded). `.tmp` children are only
    * swept when OLDER than `tmpAgeMs` (advisor r15): a fresh `.tmp` is
    * indistinguishable from a live [[loadOrBuild]] publish staging its
    * parts RIGHT NOW, and deleting it mid-write would fail that
    * publish at its OkMarker check — age is the only signal that
    * separates crashed debris from in-flight work without a lock.
    * Ages are measured against the FILESYSTEM's clock (a probe file's
    * mtime), never the client wall clock (advisor r16) — client/
    * namenode skew cannot age a live publish. On object stores whose
    * listed mtimes lag writes, size `tmpAgeMs` past the store's
    * metadata-consistency window. Returns the deleted paths so
    * callers and specs can audit the sweep. */
  def gcStore(spark: SparkSession, dirs: Seq[String],
              superseded: Seq[String] = Nil,
              tmpAgeMs: Long = 3600000L): Seq[String] = {
    val r = root
    val fs = r.getFileSystem(hadoopConf(spark))
    if (!fs.exists(r)) return Seq.empty
    // "now" from the FILESYSTEM'S OWN clock, not the client's
    // (advisor r16): with client/namenode skew — or an object store
    // whose directory entries report epoch-0 or unstable mtimes — a
    // wall-clock comparison could age a LIVE in-flight publish's .tmp
    // past the threshold and sweep it mid-write, the exact failure
    // tmpAgeMs exists to prevent. A freshly-created probe file's
    // mtime IS that clock; both sides of the age comparison then come
    // from the same authority. (Caveat documented on the method: on
    // stores whose LIST mtimes lag writes, tmpAgeMs should exceed the
    // store's metadata-consistency window.)
    val probe = new Path(r, s".gc_probe_${System.nanoTime()}.tmp.probe")
    val now = try {
      fs.create(probe, true).close()
      fs.getFileStatus(probe).getModificationTime
    } finally {
      // Non-throwing cleanup (advisor r17): a delete() that returns
      // false or throws must neither mask the create/stat failure nor
      // abort the sweep — a leaked probe is exactly the root-level
      // stale-probe debris the pass below collects.
      try fs.delete(probe, false): Unit
      catch { case _: java.io.IOException => }
    }
    val byTag = dirs.map(d => Similarity.dirTag(d) -> d).toMap
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    def drop(p: Path): Unit = {
      fs.delete(p, true)
      deleted += p.toString
    }
    // Root-level stale-probe sweep (advisor r17): the tag-matched
    // descent below never visits FILES at the store root, so a probe
    // whose delete failed in some earlier run would otherwise leak
    // forever. Same age discipline as .tmp children — a probe younger
    // than tmpAgeMs may belong to a CONCURRENT gcStore mid-stat.
    fs.listStatus(r).toSeq
      .filter(st => !st.isDirectory &&
        st.getPath.getName.startsWith(".gc_probe_") &&
        st.getPath != probe &&
        now - st.getModificationTime > tmpAgeMs)
      .foreach(st => drop(st.getPath))
    fs.listStatus(r).toSeq.filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      byTag.collectFirst {
        case (tag, d) if isRootOfTag(name, tag) => (tag, d)
      }.foreach { case (tag, d) =>
        val rec = new Path(st.getPath, TablesRecord)
        if (fs.exists(rec)) {
          val tables = readSmall(fs, rec).split(",").toSeq
          if (tag + "_" + combinedFingerprint(spark, d, tables) != name)
            drop(st.getPath) // stale fingerprint: unreachable root
          else fs.listStatus(st.getPath).toSeq
            .filter(_.getPath.getName != TablesRecord)
            .foreach { sub =>
              val sn = sub.getPath.getName
              val staleVersion = VersionSuffix.findFirstMatchIn(sn)
                .exists(_.group(1).toInt != FormatVersion)
              val folded =
                superseded.exists(s => sn == s"${s}_v$FormatVersion")
              // a YOUNG .tmp may be a concurrent publish mid-stage —
              // leave it; its own publisher sweeps it on completion.
              // Age against the filesystem-clock probe, never the
              // client wall clock (see `now` above).
              val deadTmp = sn.contains(".tmp") &&
                now - sub.getModificationTime > tmpAgeMs
              if (deadTmp || staleVersion || folded)
                drop(sub.getPath)
            }
        }
      }
    }
    deleted.toSeq
  }
}
