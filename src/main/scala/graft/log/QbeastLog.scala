package graft.log

import graft.core.model._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.collection.immutable.SortedMap
import scala.collection.mutable

/**
 * Materialized state of a qbeast table at one log version.
 *
 * Replaces the reference's Delta-backed `QbeastSnapshot`
 * (`core/.../model/QbeastSnapshot.scala`) with a self-contained log.
 * All file paths are relative to `tablePath`.
 */
final case class QbeastSnapshot(
    tablePath: String,
    version: Long,
    schema: Option[StructType],
    configuration: Map[String, String],
    revisions: Map[Long, Revision],
    files: Vector[IndexFile],
    txns: Map[String, Long],
    /** When false (light replay, see [[QbeastLog.lightSnapshot]]):
     * `files` holds ONLY the adds from commits after `checkpointVersion`;
     * the consolidated bulk lives in the parquet sidecar and is consumed
     * distributively by `read.DistributedQbeastFileIndex` /
     * [[DistributedMetadata]]. */
    filesComplete: Boolean = true,
    /** The JSON checkpoint this replay started from (-1 = none). For a
     * light snapshot this is also the parquet-sidecar version. */
    checkpointVersion: Long = -1L,
    /** Paths added or removed by commits after `checkpointVersion`.
     * Light reads mask sidecar rows with these; incremental sidecar
     * writes use them as the exact delta vs the previous checkpoint. */
    tailTouchedPaths: Set[String] = Set.empty,
    /** The asOfVersion this snapshot was replayed at (-1 = head). A
     * refresh of a time-traveled relation must re-pin to this version,
     * not jump to the new head. */
    asOf: Long = -1L,
    /** Deletion vectors: data-file path → (vector file, masked-row
     * count). O(#masked files), never O(#files) — carried in full by
     * light snapshots too (dv actions live in the JSON checkpoint and
     * the tail, never only the parquet sidecar). */
    dvs: Map[String, DvInfo] = Map.empty) {

  def isEmpty: Boolean = version < 0

  def lastRevisionID: Long =
    configuration.get("qbeast.lastRevisionID").map(_.toLong)
      .getOrElse(if (revisions.isEmpty) -1L else revisions.keys.max)

  def lastRevision: Option[Revision] = revisions.get(lastRevisionID)

  def filesOfRevision(revisionId: Long): Vector[IndexFile] =
    files.filter(_.revisionId == revisionId)

  /** Files written by plain parquet writers (staging revision 0). */
  def unindexedFiles: Vector[IndexFile] = filesOfRevision(Revision.StagingID)

  /** Reconstruct the per-cube tree state of one revision (reference:
   * `IndexStatusBuilder.indexCubeStatuses`): maxWeight = min over block
   * maxWeights, elementCount = sum. */
  def indexStatus(revisionId: Long): IndexStatus = {
    val revision = revisions.getOrElse(revisionId,
      throw new IllegalArgumentException(
        s"revision $revisionId does not exist for qbeast table $tablePath " +
          s"(have ${revisions.keys.toSeq.sorted.mkString(", ")})"))
    val acc = mutable.HashMap.empty[CubeId, (Weight, Long)]
    filesOfRevision(revisionId).foreach { f =>
      f.blocks.foreach { b =>
        val (w, n) = acc.getOrElse(b.cube, (Weight.MaxValue, 0L))
        acc.update(b.cube, (w.min(b.maxWeight), n + b.elementCount))
      }
    }
    val statuses = SortedMap.newBuilder[CubeId, CubeStatus]
    acc.foreach { case (cube, (w, n)) => statuses += cube -> CubeStatus(cube, w, n) }
    IndexStatus(revision, statuses.result())
  }

  def allFilesCount: Long = files.size.toLong
  def totalBytes: Long = files.map(_.size).sum

  /** Rows logically deleted by deletion vectors (0 for most tables). */
  def dvMaskedRows: Long = dvs.valuesIterator.map(_.cardinality).sum
}

/** One deletion-vector attachment (see [[graft.log.DvFileAction]]). */
final case class DvInfo(dvPath: String, cardinality: Long) extends Serializable

/**
 * Versioned JSON-lines commit log under `<table>/_qbeast_log/`:
 * `00000000000000000000.json`, `...001.json`, ... Commits are atomic via
 * put-if-absent (CREATE_NEW) of the next version file; a losing writer
 * re-reads and retries (reference behavior: `DeltaMetadataWriter.scala`
 * optimistic retry loop, minus Delta).
 *
 * Scale note: snapshot replay starts at the latest consolidated
 * checkpoint (written every CheckpointInterval commits), so driver work
 * is O(live files + commit tail), not O(table history).
 */
object QbeastLog extends org.apache.spark.internal.Logging {

  val LogDirName = "_qbeast_log"

  /** Write a consolidated checkpoint every N commits so snapshot replay
   * is O(checkpoint + tail), not O(all commits) — the Delta-checkpoint
   * pattern; matters once streaming ingestion produces one commit per
   * micro-batch. */
  val CheckpointInterval = 20

  /** A replay that parses more than this many log lines writes a
   * consolidated checkpoint even if the commit-count interval hasn't
   * elapsed — replay cost is driven by log LENGTH (add/remove lines),
   * not commit count: a 3-commit optimize log over thousands of files
   * is as expensive to replay as dozens of small commits. */
  val CheckpointMinLines = 4000L

  def logDir(tablePath: String) = new Path(tablePath, LogDirName)

  // ---- driver-side snapshot cache -----------------------------------
  // Replaying the log on EVERY read is O(log length) driver work per
  // query; at bench scale it dominated small metadata-heavy reads and
  // at 100 TB it would re-parse 1e5 add entries per query. Delta solves
  // this with a cached Snapshot per DeltaLog validated by a cheap
  // listing; same here: one listStatus per access, full replay only
  // when the log actually changed. Entries are keyed by
  // (path, asOf, light) and validated against a fingerprint of the
  // newest commit file (version + size + mtime) and newest checkpoint,
  // so out-of-band log rewrites (fault-injection tests, manual edits)
  // invalidate naturally.
  private final case class CachedSnap(fingerprint: String, snap: QbeastSnapshot)
  // LRU, not clear-on-overflow: a session touching >64 (table, mode)
  // keys keeps its hot heads resident instead of re-replaying all of
  // them at once after an eviction storm
  private val snapshotCache =
    new graft.core.LruCache[String, CachedSnap](MaxCachedSnapshots)
  private def MaxCachedSnapshots = 64

  private def fingerprintOf(fs: FileSystem, dir: Path): String = {
    if (!fs.exists(dir)) return "empty"
    val statuses = fs.listStatus(dir)
    var lastV = -1L
    var lastLen = -1L
    var lastMod = -1L
    var lastCp = -1L
    var cpLen = -1L
    var cpMod = -1L
    statuses.foreach { s =>
      val n = s.getPath.getName
      if (n.endsWith(".checkpoint.json")) {
        val v = n.stripSuffix(".checkpoint.json")
        if (v.forall(_.isDigit) && v.toLong > lastCp) {
          lastCp = v.toLong; cpLen = s.getLen; cpMod = s.getModificationTime
        }
      } else if (n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit)) {
        val v = n.stripSuffix(".json").toLong
        if (v > lastV) { lastV = v; lastLen = s.getLen; lastMod = s.getModificationTime }
      }
    }
    // the checkpoint carries len+mtime too: an out-of-band rewrite of
    // the checkpoint FILE (fault injection, manual surgery) must
    // invalidate just like a commit rewrite — version alone can't see it
    s"$lastV:$lastLen:$lastMod:cp$lastCp:$cpLen:$cpMod"
  }

  /** Snapshot-cache misses (full JSON replays) since JVM start —
   * read by tools/CdfStreamProbe to attribute streaming floors; no
   * production consumer. */
  private[graft] val uncachedReplays = new java.util.concurrent.atomic.AtomicLong()

  /** Drop all cached snapshots (tests; or after out-of-band surgery).
   * Also clears the metadata-fold and sidecar-usable memos, which key
   * on snapshot IDENTITY (plus path/version) and must not outlive
   * surgically rewritten logs: an out-of-band rewrite that keeps the
   * same version (e.g. editing a commit file in place) would otherwise
   * keep serving the pre-surgery fold through the still-live snapshot
   * instance — any same-version surgery path MUST route through here
   * (spec-pinned in LogCheckpointSpec). */
  def invalidateCache(): Unit = {
    snapshotCache.clear()
    graft.rules.MetadataCountRule.invalidateFoldMemo()
    DistributedMetadata.invalidateUsableMemo()
  }

  private def versionFile(tablePath: String, v: Long): Path =
    new Path(logDir(tablePath), f"$v%020d.json")

  private def checkpointFile(tablePath: String, v: Long): Path =
    new Path(logDir(tablePath), f"$v%020d.checkpoint.json")

  def exists(tablePath: String, conf: Configuration): Boolean = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(conf)
    fs.exists(dir) && listVersions(fs, dir)._1.nonEmpty
  }

  /** Newest consolidated-checkpoint version, or -1 (vacuum housekeeping:
   * parquet sidecars older than this are safe to drop — time travel to
   * their versions degrades to the flat path). */
  def latestCheckpointVersion(tablePath: String, conf: Configuration): Long = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return -1L
    listVersions(fs, dir)._2.lastOption.getOrElse(-1L)
  }

  private def listVersions(fs: FileSystem, dir: Path): (Seq[Long], Seq[Long]) = {
    if (!fs.exists(dir)) return (Nil, Nil)
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val commits = names
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json") &&
        n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong).sorted
    val checkpoints = names
      .filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json")).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted
    (commits, checkpoints)
  }

  /** Replay the log into a snapshot, starting from the latest checkpoint
   * if one exists. Empty/missing log → empty snapshot.
   * `asOfVersion ≥ 0` reconstructs the table at that commit (time
   * travel). */
  def snapshot(
      tablePath: String,
      conf: Configuration,
      asOfVersion: Long = -1L): QbeastSnapshot =
    replaySnapshot(tablePath, conf, asOfVersion, withFiles = true)

  /** Light replay for the distributed read path: skips materializing the
   * checkpointed file list on the driver (only the post-checkpoint tail
   * is parsed), provided a parquet sidecar exists for the checkpoint.
   * Falls back to a full snapshot when it doesn't — callers check
   * `filesComplete`. */
  def lightSnapshot(
      tablePath: String,
      conf: Configuration,
      asOfVersion: Long = -1L): QbeastSnapshot =
    replaySnapshot(tablePath, conf, asOfVersion, withFiles = false)

  private def replaySnapshot(
      tablePath: String,
      conf: Configuration,
      asOfVersion: Long,
      withFiles: Boolean): QbeastSnapshot = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(conf)
    val cacheKey = s"$tablePath|$asOfVersion|$withFiles"
    val fingerprint = fingerprintOf(fs, dir)
    snapshotCache.get(cacheKey) match {
      case Some(cached) if cached.fingerprint == fingerprint => return cached.snap
      case _ =>
    }
    uncachedReplays.incrementAndGet() // probe-only visibility (cache misses)
    val snap = replaySnapshotUncached(tablePath, conf, fs, dir, asOfVersion, withFiles)
    // time-traveled snapshots are unbounded in key space (one per
    // asOf) and rarely re-read — caching them would evict the hot
    // head-snapshot entries every table depends on
    if (asOfVersion < 0) {
      // cache under the PRE-replay fingerprint: a commit (or our own
      // maybeCheckpoint) landing during replay must make this entry
      // stale on the next access, not masquerade as current — a
      // post-replay fingerprint would claim freshness for a snapshot
      // that never saw the concurrent commit, wedging writers'
      // optimistic-retry loops
      snapshotCache.put(cacheKey, CachedSnap(fingerprint, snap))
      ()
    }
    snap
  }

  private def replaySnapshotUncached(
      tablePath: String,
      conf: Configuration,
      fs: FileSystem,
      dir: Path,
      asOfVersion: Long,
      withFiles: Boolean): QbeastSnapshot = {
    val (allVersions0, checkpoints0) = listVersions(fs, dir)
    val allVersions =
      if (asOfVersion >= 0) allVersions0.filter(_ <= asOfVersion) else allVersions0
    if (asOfVersion >= 0 && !allVersions0.contains(asOfVersion))
      throw new IllegalArgumentException(
        s"version $asOfVersion does not exist for qbeast table $tablePath " +
          s"(have ${allVersions0.headOption.getOrElse(-1L)}..${allVersions0.lastOption.getOrElse(-1L)})")
    val checkpoints =
      if (asOfVersion >= 0) checkpoints0.filter(_ <= asOfVersion) else checkpoints0
    val fromCheckpoint = checkpoints.lastOption
    val versions = fromCheckpoint match {
      case Some(cv) => allVersions.filter(_ > cv)
      case None => allVersions
    }
    if (allVersions.isEmpty)
      return QbeastSnapshot(tablePath, -1L, None, Map.empty, Map.empty, Vector.empty,
        Map.empty)

    // Light replay is only possible when the checkpoint's file bulk is
    // available as a parquet sidecar for executors to scan.
    val light = !withFiles &&
      fromCheckpoint.exists(cv => FileCheckpoint.exists(tablePath, conf, cv))

    // lines parsed from the post-checkpoint commit tail only: the
    // length trigger must not count the checkpoint itself, or every
    // commit to a big table would rewrite the whole checkpoint
    var tailLines = 0L
    var schema: Option[StructType] = None
    var configuration = Map.empty[String, String]
    val revisions = mutable.HashMap.empty[Long, Revision]
    val files = mutable.LinkedHashMap.empty[String, IndexFile]
    val touched = Set.newBuilder[String]
    val txns = mutable.HashMap.empty[String, Long]
    val dvs = mutable.HashMap.empty[String, DvInfo]

    val dimensionsOf: Long => Int = { rid =>
      revisions.get(rid).map(r => math.max(r.dimensionCount, 1)).getOrElse(1)
    }

    def replay(path: Path, skipAdds: Boolean, isTail: Boolean): Unit = {
      val in = fs.open(path)
      val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      try {
        var line = reader.readLine()
        while (line != null) {
          if (isTail) tailLines += 1
          // serde writes adds as {"add":{...}} — cheap prefix test lets
          // light replay skip the (potentially millions of) file lines
          // without JSON-parsing them
          val skip = skipAdds && line.startsWith("{\"add\"")
          if (line.nonEmpty && !skip) QbeastLogSerde.parseLine(line, dimensionsOf) match {
            case MetaDataAction(schemaJson, conf) =>
              schema = Some(DataType.fromJson(schemaJson).asInstanceOf[StructType])
              configuration = conf
            case RevisionAction(r) => revisions.update(r.revisionID, r)
            case AddFileAction(f, _) =>
              files.update(f.path, f)
              // an added (re-added/rewritten) file starts unmasked.
              // Light replay skips only the CHECKPOINT's add lines,
              // whose dvs map is already post-clearing; tail adds
              // always replay fully, so no stale mask can survive.
              dvs.remove(f.path)
              if (isTail) touched += f.path
            case RemoveFileAction(r) =>
              files.remove(r.path)
              dvs.remove(r.path)
              if (isTail) touched += r.path
            case DvFileAction(p, dvPath, card) =>
              dvs.update(p, DvInfo(dvPath, card))
            case TxnAction(appId, version) => txns.update(appId, version)
            case CommitInfoAction(_, _) => // history-only metadata
            case CdcFileAction(_, _) => // change-feed-only metadata
          }
          line = reader.readLine()
        }
      } finally reader.close()
    }

    fromCheckpoint.foreach(cv =>
      replay(checkpointFile(tablePath, cv), skipAdds = light, isTail = false))
    versions.foreach(v =>
      replay(versionFile(tablePath, v), skipAdds = false, isTail = true))

    val snap = QbeastSnapshot(tablePath, allVersions.last, schema, configuration,
      revisions.toMap, files.values.toVector, txns.toMap,
      filesComplete = !light,
      checkpointVersion = fromCheckpoint.getOrElse(-1L),
      tailTouchedPaths = touched.result(),
      asOf = asOfVersion,
      dvs = dvs.toMap)
    if (asOfVersion < 0 && !light)
      maybeCheckpoint(fs, snap, fromCheckpoint.getOrElse(-1L), tailLines)
    snap
  }

  /** Parse ONE committed version's actions in line order — the
   * incremental-consumption primitive behind the streaming source:
   * per micro-batch cost is O(changed files in the commit), never
   * O(table). `knownRevisions` seeds block parsing for files of
   * revisions declared in earlier commits; a revision declared inside
   * this commit is picked up in order (serde contract: revisions
   * precede their files). */
  def commitActions(
      tablePath: String,
      conf: Configuration,
      version: Long,
      knownRevisions: Map[Long, Revision]): Seq[LogAction] = {
    val path = versionFile(tablePath, version)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path))
      throw new IllegalStateException(
        s"qbeast commit $version missing for $tablePath (vacuumed or corrupted log?)")
    val revs = mutable.HashMap.empty[Long, Revision]
    revs ++= knownRevisions
    val dimensionsOf: Long => Int = rid =>
      revs.get(rid).map(r => math.max(r.dimensionCount, 1)).getOrElse(1)
    val out = Seq.newBuilder[LogAction]
    val reader = new BufferedReader(
      new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    try {
      var line = reader.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val action = QbeastLogSerde.parseLine(line, dimensionsOf)
          action match {
            case RevisionAction(r) => revs.update(r.revisionID, r)
            case _ =>
          }
          out += action
        }
        line = reader.readLine()
      }
    } finally reader.close()
    out.result()
  }

  /** Committed log versions, oldest first (no checkpoints). */
  def commitVersions(tablePath: String, conf: Configuration): Seq[Long] = {
    val dir = logDir(tablePath)
    listVersions(dir.getFileSystem(conf), dir)._1
  }

  /** The leading [[CommitInfoAction]] of a commit file, read from its
   * FIRST LINE only ([[commit]] always writes it there) — one cheap
   * ranged read regardless of how many add/remove actions follow. */
  private def readFirstCommitInfo(fs: FileSystem, p: Path): Option[CommitInfoAction] = {
    val in = fs.open(p)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val line = reader.readLine()
      if (line != null && line.startsWith("{\"commitInfo\":"))
        QbeastLogSerde.parseLine(line, _ => 1) match {
          case c: CommitInfoAction => Some(c)
          case _ => None
        }
      else None
    } finally reader.close()
  }

  /** The IN-COMMIT timestamp of `version` (Delta's `inCommitTimestamp`
   * design): recorded inside the commit payload, so it survives
   * object-store migrations/copies that rewrite file mtimes and stays
   * MONOTONIC under writer clock skew ([[commit]] clamps each commit to
   * its predecessor + 1 ms). None for commits written before the
   * feature existed. */
  def inCommitTimestamp(tablePath: String, conf: Configuration, version: Long): Option[Long] = {
    val p = versionFile(tablePath, version)
    readFirstCommitInfo(p.getFileSystem(conf), p).map(_.timestamp)
  }

  /** Commit time of `version`: the in-commit timestamp when recorded,
   * the commit file's mtime for pre-feature logs (backs vacuum's
   * change-data retention accounting, DESCRIBE HISTORY and
   * `TIMESTAMP AS OF`). */
  def commitTimestamp(tablePath: String, conf: Configuration, version: Long): Long = {
    val p = versionFile(tablePath, version)
    val fs = p.getFileSystem(conf)
    readFirstCommitInfo(fs, p).map(_.timestamp)
      .getOrElse(fs.getFileStatus(p).getModificationTime)
  }

  /** Latest committed version at or before `timestampMillis` (backs SQL
   * `TIMESTAMP AS OF`). In-commit timestamps are monotonic, so this is
   * a BINARY SEARCH over the version list — O(log n) first-line reads,
   * not a scan; pre-feature commits fall back to their file mtime
   * (non-decreasing on any single filesystem). */
  def versionAt(tablePath: String, conf: Configuration, timestampMillis: Long): Option[Long] = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val versions = listVersions(fs, dir)._1
    if (versions.isEmpty) return None
    var lo = 0
    var hi = versions.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (commitTimestamp(tablePath, conf, versions(mid)) <= timestampMillis) {
        ans = mid; lo = mid + 1
      } else hi = mid - 1
    }
    if (ans < 0) None else Some(versions(ans))
  }

  /** Write a consolidated checkpoint at the current version if the tail
   * since the last checkpoint grew past the commit interval, OR if this
   * replay parsed more lines than CheckpointMinLines — the log-LENGTH
   * trigger that closes the mid-size valley where a few huge commits
   * (optimize/compact rewrites) make every subsequent replay expensive
   * long before the commit count reaches the interval. A checkpoint at
   * version v is only useful if it consolidates anything: skip when one
   * already exists at this version. Readers race here harmlessly:
   * CREATE_NEW means one winner, content is deterministic. */
  private def maybeCheckpoint(
      fs: FileSystem,
      snap: QbeastSnapshot,
      lastCheckpoint: Long,
      tailLines: Long): Unit = {
    if (snap.version <= lastCheckpoint) return
    val byInterval = snap.version - lastCheckpoint >= CheckpointInterval
    val byLength = tailLines >= CheckpointMinLines
    if (byInterval || byLength) writeCheckpoint(fs, snap)
  }

  /** Consolidate the current state into a JSON checkpoint, plus — when a
   * SparkSession is active and the table is big enough for it to pay —
   * the parquet sidecar consumed by the distributed read path. Public so
   * `QbeastTable.checkpoint()` can force one (Delta's `checkpoint()`
   * equivalent). */
  def writeCheckpoint(fs: FileSystem, snap: QbeastSnapshot): Unit = {
    require(snap.filesComplete, "cannot checkpoint a light snapshot")
    val target = checkpointFile(snap.tablePath, snap.version)
    // lazily evaluated: the add lines (one per live file — hundreds of
    // MB at 1e6 files) stream straight to the tmp file; materializing
    // the whole payload as one String (plus the getBytes copy) was a
    // driver-OOM risk triggered from an ordinary READ's maybeCheckpoint
    def actionLines: Iterator[String] =
      (snap.schema.map(sc => MetaDataAction(sc.json, snap.configuration)).iterator ++
        snap.revisions.values.toSeq.sortBy(_.revisionID).iterator.map(RevisionAction) ++
        snap.txns.iterator.map { case (a, v) => TxnAction(a, v) } ++
        snap.files.iterator.map(f => AddFileAction(f, dataChange = false)) ++
        // dv lines AFTER the adds (replay clears a dv on add)
        snap.dvs.iterator.map { case (p, i) => DvFileAction(p, i.dvPath, i.cardinality) })
        .map(QbeastLogSerde.actionToJsonLine)
    try writeAtomicLines(fs, logDir(snap.tablePath), target, actionLines, "checkpoint race")
    catch {
      // Checkpointing is a best-effort read-side optimization: a race
      // (another reader won the version) or ANY IO failure (e.g. a
      // read-only reader without write permission on _qbeast_log) must
      // never break a plain read — log-and-continue. The log line is
      // the only signal when checkpointing persistently fails (every
      // replay then pays the full O(tail) cost forever).
      case scala.util.control.NonFatal(e) =>
        logWarning(s"qbeast checkpoint write failed for ${snap.tablePath} " +
          s"at version ${snap.version} (reads continue uncheckpointed): $e")
    }
    // parquet sidecar: a Spark job, so gate on table size (default: only
    // once the driver-side flat scan starts to matter)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { spark =>
      // same log-and-continue invariant as above: a malformed conf value
      // must not break the read that triggered this checkpoint.
      // Crossover measured by tools/SelectBench (flat replay+selection
      // vs sidecar Spark job, same 10%-selectivity filter):
      //   1e5 files: flat ~188 ms total vs distributed ~278 ms
      //   3e5 files: flat ~618 ms vs ~313 ms
      //   1e6 files: flat ~3.3 s vs ~0.6 s
      //   4e6 files: flat ~8.4 s vs ~1.9 s
      // — the flat path wins until ~2e5 files (its JSON replay is the
      // floor; selection itself stays under 0.5 s even at 4e6, and the
      // in-memory list is only ~100 MB at 3e5), so the sidecar starts
      // there, not at the old 10k default where it tripled read latency
      val minFiles = spark.conf.getOption("spark.qbeast.metadata.sidecar.minFiles")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(200000L)
      if (snap.files.size >= minFiles) FileCheckpoint.write(spark, snap)
    }
  }

  /** Atomically commit `actions` as version `expectedVersion + 1`.
   * `operation` (when non-empty) is recorded as a leading
   * [[CommitInfoAction]] so DESCRIBE HISTORY reports intent instead of
   * inferring it from add/remove counts. Returns the committed version,
   * or throws [[ConcurrentCommitException]] if another writer won the
   * version. */
  def commit(
      tablePath: String,
      conf: Configuration,
      expectedVersion: Long,
      actions: Seq[LogAction],
      operation: String = ""): Long = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val next = expectedVersion + 1
    val target = versionFile(tablePath, next)
    // in-commit timestamp, clamped MONOTONIC against the predecessor's
    // (one first-line read; pre-feature predecessors just use now) — so
    // TIMESTAMP AS OF binary-searches correctly even under writer clock
    // skew or object-store mtime rewrites. Every commit carries the
    // CommitInfoAction so the chain has no holes.
    val prevIct =
      if (expectedVersion < 0) None
      else try readFirstCommitInfo(fs, versionFile(tablePath, expectedVersion))
        .map(_.timestamp)
      catch { case scala.util.control.NonFatal(_) => None }
    val ts = math.max(System.currentTimeMillis(), prevIct.map(_ + 1L).getOrElse(Long.MinValue))
    val allActions = CommitInfoAction(operation, ts) +: actions
    writeAtomicLines(fs, dir, target, allActions.iterator.map(QbeastLogSerde.actionToJsonLine),
      s"log version $next already written by a concurrent writer")
    next
  }

  /** Retries [[commitOptimistic]] grants after the first attempt. */
  val MaxCommitRetries = 20

  /** The optimistic commit every log writer goes through (reference:
   * `IndexedTable.scala` conflict-retry loop). `actionsAt(start)` is
   * committed against `start`; when another writer wins the version,
   * the head is re-read and `actionsAt(head)` re-derives the actions
   * against it, applying whatever [[Rebase]] rules the commit needs.
   * `None` stops without committing; a throw aborts. The first attempt
   * reads nothing beyond `start`. Returns the committed version, or
   * None when `actionsAt` declined; rethrows the conflict after
   * [[MaxCommitRetries]] lost races. */
  def commitOptimistic(
      start: QbeastSnapshot,
      conf: Configuration,
      operation: String)(
      actionsAt: QbeastSnapshot => Option[Seq[LogAction]]): Option[Long] = {
    var base = start
    var retries = 0
    while (true) actionsAt(base) match {
      case None => return None
      case Some(actions) =>
        try return Some(commit(start.tablePath, conf, base.version, actions, operation))
        catch {
          case _: ConcurrentCommitException if retries < MaxCommitRetries =>
            retries += 1
            base = snapshot(start.tablePath, conf)
        }
    }
    None // unreachable: the loop exits only by return or throw
  }

  /** Publish `lines` as `target`, atomically and only if absent. The
   * lines stream to a tmp file one by one (O(1) driver memory: a
   * checkpoint payload is one line per live file), then the tmp file
   * is published. Readers must never observe a partial file AND
   * exactly one writer may claim a version. Local filesystems: POSIX
   * rename OVERWRITES an existing destination, so the atomic
   * put-if-absent primitive is a hard link (fails with
   * FileAlreadyExists). HDFS-like stores: rename refuses existing
   * destinations and is atomic. Object stores without either need a
   * LogStore layer, exactly like Delta. */
  private def writeAtomicLines(
      fs: FileSystem,
      dir: Path,
      target: Path,
      lines: Iterator[String],
      conflictMessage: String): Unit = {
    // decide from the RESOLVED filesystem, never the raw path: a
    // scheme-less path on a cluster with fs.defaultFS=hdfs:// must go
    // through that filesystem — routing it to java.nio would write the
    // commit to the driver's LOCAL disk where no reader ever sees it
    val isLocal = fs.getScheme == "file"
    if (isLocal) {
      val dst = java.nio.file.Paths.get(
        Option(target.toUri.getPath).getOrElse(target.toString))
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.createDirectories(dst.getParent)
      val w = java.nio.file.Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      try lines.foreach { l => w.write(l); w.write('\n') }
      finally w.close()
      try java.nio.file.Files.createLink(dst, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new ConcurrentCommitException(conflictMessage)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(dir, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8))
      try lines.foreach { l => w.write(l); w.write('\n') }
      finally w.close()
      val renamed =
        try fs.rename(tmp, target)
        catch {
          case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.PathExistsException =>
            false
        }
      if (!renamed) {
        fs.delete(tmp, false)
        // rename returns false for IO reasons too; only an existing
        // destination is a genuine writer conflict — everything else
        // must surface as the IO failure it is, or the caller retries
        // against a broken filesystem
        if (fs.exists(target)) throw new ConcurrentCommitException(conflictMessage)
        else throw new java.io.IOException(
          s"failed to rename $tmp to $target (no conflicting file present)")
      }
    }
  }

}

/** The conflict rules a commit re-applies when
 * [[QbeastLog.commitOptimistic]] hands it a head that moved past its
 * start snapshot. Each commit applies the rules that fit its actions. */
object Rebase {

  /** Every file the commit removes or re-masks must still be live in
   * `head`, with the deletion vector it had in `start`. A file another
   * commit rewrote, removed or re-masked means the commit's survivors
   * or vectors were computed from stale rows: committing would
   * duplicate them, resurrect overwritten data or resurrect the rows a
   * concurrent merge-on-read DELETE masked. */
  def untouched(start: QbeastSnapshot, head: QbeastSnapshot, paths: Iterator[String]): Boolean = {
    val live = head.files.iterator.map(_.path).toSet
    paths.forall(p => live.contains(p) &&
      head.dvs.get(p).map(_.dvPath) == start.dvs.get(p).map(_.dvPath))
  }

  /** CHECK constraints `head` has and `checked` lacks gate the commit's
   * new rows too, or the race lets violating rows slip past a just-added
   * CHECK (Delta resolves the same conflict through metadata-change
   * detection). The commit's own written files are read back under the
   * schema they were written with, so the rows checked are the rows
   * committed whatever the input plan was; the cost is bounded by the
   * commit's output. Returns the constraints checked so far, so a later
   * rebase validates each constraint once. */
  def revalidate(
      spark: SparkSession,
      head: QbeastSnapshot,
      checked: Map[String, String],
      schema: StructType,
      adds: Seq[IndexFile],
      context: String): Map[String, String] = {
    val fresh = graft.write.Constraints.of(head.configuration)
      .filter { case (k, v) => !checked.get(k).contains(v) }
    if (fresh.nonEmpty && adds.nonEmpty)
      graft.write.Constraints.validate(
        ColumnMapping.readParquet(spark, schema,
          adds.map(f => new Path(head.tablePath, f.path).toString)),
        fresh, context)
    checked ++ fresh
  }

  /** A revision is self-contained (its own transformations; its files
   * carry its id), so when another writer claimed the commit's new
   * revision id, the revision and its files are renumbered past the
   * head's ids, with no re-indexing. */
  def renumber(
      head: QbeastSnapshot,
      revision: Option[Revision],
      adds: Seq[IndexFile]): (Option[Revision], Seq[IndexFile]) = revision match {
    case Some(r) if head.lastRevisionID >= r.revisionID =>
      val id = head.lastRevisionID + 1
      (Some(r.copy(revisionID = id)),
        adds.map(f => if (f.revisionId == r.revisionID) f.copy(revisionId = id) else f))
    case _ => (revision, adds)
  }
}

class ConcurrentCommitException(msg: String) extends RuntimeException(msg)
