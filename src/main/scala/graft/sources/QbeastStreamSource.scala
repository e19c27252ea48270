package graft.sources

import graft.cdf.{ChangeFeed, Commit, FeedUnit, Shape}
import graft.core.LruCache
import graft.log.QbeastLog

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SQLContext}

/**
 * Stream position in the commit log, file-granular so micro-batches can
 * be rate-limited below commit granularity (the Delta
 * `DeltaSourceOffset(reservoirVersion, index, isStartingVersion)`
 * shape).
 *
 *  - `snapshotPhase = true`: the initial table snapshot pinned at
 *    `version`; `index` files of the path-sorted snapshot file list are
 *    consumed. The phase ends by normalizing to the commits-phase
 *    offset `version` (snapshot(V) covers every commit ≤ V).
 *  - `snapshotPhase = false`: all commits < `version` fully consumed
 *    plus the first `index` admission steps of commit `version` (its
 *    data-adding files, or in CDF mode its feed units).
 *    `index = Long.MaxValue` means commit `version` fully consumed —
 *    serialized in the LEGACY form (just the version number) so
 *    un-rate-limited streams and pre-existing checkpoints keep their
 *    exact offset json.
 */
final case class QbeastSourceOffset(
    version: Long,
    index: Long = Long.MaxValue,
    snapshotPhase: Boolean = false)
    extends Offset {

  override def json: String =
    if (!snapshotPhase && index == Long.MaxValue) version.toString
    else s"""{"version":$version,"index":$index,"snapshot":$snapshotPhase}"""

}

object QbeastSourceOffset {

  def parse(json: String): QbeastSourceOffset = {
    val s = json.trim
    if (s.startsWith("{")) {
      def field(name: String): String = {
        val i = s.indexOf("\"" + name + "\"")
        require(i >= 0, s"qbeast source offset missing '$name': $s")
        s.substring(s.indexOf(':', i) + 1).takeWhile(c => c != ',' && c != '}').trim
      }
      QbeastSourceOffset(field("version").toLong, field("index").toLong,
        field("snapshot").toBoolean)
    } else QbeastSourceOffset(s.toLong)
  }

  def of(o: OffsetV2): QbeastSourceOffset = o match {
    case q: QbeastSourceOffset => q
    case other => parse(other.json)
  }

}

/**
 * `spark.readStream.format("qbeast").load(path)` — a qbeast table as a
 * Structured Streaming source, consumed incrementally out of the commit
 * log (the Delta-source pattern re-expressed over the qlog; reference
 * tables delegate this to Delta —
 * `delta/src/main/scala/io/qbeast/spark/delta/...` relies on the Delta
 * commit protocol for streaming reads).
 *
 * Semantics:
 *  - a batch is a contiguous run of files in the deterministic stream
 *    order: first the initial snapshot's files (path-sorted), then each
 *    data-changing commit's added files in commit order. Layout-only
 *    commits (optimize / compaction / convert: adds with
 *    `dataChange = false`) are skipped — a stream never re-reads
 *    rewritten rows.
 *  - the FIRST phase is the full table snapshot at the stream's start
 *    version (Delta's initial-snapshot behavior). `startingVersion`
 *    overrides: a number starts at that commit (no snapshot),
 *    `"latest"` streams only commits after stream start.
 *  - `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each
 *    micro-batch (admission control); at least one file is always
 *    admitted so the stream can't stall. Implemented via
 *    `SupportsAdmissionControl.latestOffset(start, limit)`, so the
 *    engine hands us the start position — and via
 *    `SupportsTriggerAvailableNow`, so `Trigger.AvailableNow` latches
 *    the head ONCE and then drains it in rate-limited batches instead
 *    of one giant batch (the FileStreamSource/Delta contract).
 *  - a data-changing commit that REMOVES files (DELETE / UPDATE /
 *    MERGE / RESTORE) breaks append-only semantics → the stream fails
 *    unless `ignoreDeletes` (skip delete-only commits) or
 *    `ignoreChanges` (emit the commit's re-added files anyway; rows
 *    that survived a copy-on-write rewrite are re-delivered —
 *    downstream must tolerate duplicates, same contract as Delta's
 *    option of the same name).
 *
 * Scale shape: per micro-batch the driver parses only the NEW commit
 * files (O(changed files), via [[QbeastLog.commitActions]]) — never a
 * full snapshot replay; the head version probe rides the fingerprinted
 * snapshot cache. Executors read only the admitted parquet files.
 */
class QbeastStreamSource(
    sqlContext: SQLContext,
    tablePath: String,
    userSchema: Option[StructType],
    parameters: Map[String, String])
    extends Source with SupportsTriggerAvailableNow with Logging {

  private val spark = sqlContext.sparkSession
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def opt(name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  private def boolOpt(name: String): Boolean =
    opt(name).exists(_.equalsIgnoreCase("true"))

  private val ignoreChanges = boolOpt("ignoreChanges")
  private val ignoreDeletes = boolOpt("ignoreDeletes") || ignoreChanges

  /** `readChangeFeed=true`: stream the CHANGE feed instead of the table
   * content — every row carries `_change_type` ('insert' | 'delete')
   * and `_commit_version`. The initial snapshot streams as inserts at
   * its anchor version, masked by the vectors live at the anchor; each
   * commit streams the [[graft.cdf.ChangeFeed]] units batch
   * [[graft.table.QbeastTable.changes]] unions, one admission step per
   * unit. A removes-plus-adds diff is one unit, so admission never
   * splits its before and after sides across micro-batches. */
  private val readChangeFeed = boolOpt("readChangeFeed")

  private val maxFilesPerTrigger: Option[Int] =
    opt("maxFilesPerTrigger").map(_.toInt).map { n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n"); n
    }
  private val maxBytesPerTrigger: Option[Long] =
    opt("maxBytesPerTrigger").map(_.toLong).map { n =>
      require(n > 0, s"maxBytesPerTrigger must be positive, got $n"); n
    }
  // light replay: the source needs schema/version/revisions here, never
  // the file bulk — on a sidecar-scale table this keeps the per-trigger
  // driver cost O(commit tail), not O(files)
  private val initialSnapshot = QbeastLog.lightSnapshot(tablePath, hadoopConf)
  require(!initialSnapshot.isEmpty, s"no qbeast table at $tablePath")

  private def dvsByName(s: graft.log.QbeastSnapshot): Map[String, String] =
    s.dvs.map { case (p, i) => new Path(p).getName -> i.dvPath }

  /** Deletion vectors pinned at stream start — the NON-CDF mask only
   * (plain streams read snapshot and append files through it; their
   * deleted rows must not stream, and the ignoreDeletes/ignoreChanges
   * contract those streams run under is explicitly at-least-once, so
   * start-time state is an acceptable approximation of the anchor).
   * The CDF path masks exactly instead: snapshot files by the vectors
   * AT the anchor, added files by their own commit's dv actions. A DV
   * landing mid-stream is a row-level delete the commit guards handle
   * like any delete commit. */
  private val initialDvByName: Map[String, String] = dvsByName(initialSnapshot)
  private def maskInitial(df: DataFrame): DataFrame =
    graft.write.DeletionVectors.maskWith(tablePath, initialDvByName, hadoopConf, df)

  /** The deletion-vector state after commit `v`, by data-file name: the
   * CDF decoder's `dvBefore` for commit v+1. Advanced from the state
   * after v-1 when that is cached, so a stream walking forward pays
   * O(commit) per commit; otherwise one light replay (dv actions are
   * never add lines and a checkpoint's dv map is post-clearing, so the
   * map is complete without the checkpointed file bulk). */
  private val dvStates = new LruCache[Long, Map[String, String]](4)

  private def dvAt(v: Long): Map[String, String] = dvStates.getOrElseUpdate(v,
    if (v < 0) Map.empty
    else dvStates.get(v - 1) match {
      case Some(before) => commitAt(v).advance(before)
      case None => dvsByName(QbeastLog.lightSnapshot(tablePath, hadoopConf, asOfVersion = v))
    })

  /** The TABLE's schema. In CDF mode the engine hands back the
   * already-widened source schema — strip the metadata columns there;
   * a NON-CDF table may legitimately contain columns with those names
   * (e.g. a materialized feed), so never strip outside CDF mode. */
  private val tableSchema: StructType = {
    val given =
      if (readChangeFeed) userSchema.map(s => StructType(
        s.fields.filterNot(f => ChangeFeed.CdfColumns.contains(f.name))))
      else userSchema
    val base = given.filter(_.fields.nonEmpty).orElse(initialSnapshot.schema).getOrElse(
      throw new IllegalStateException(s"qbeast table $tablePath has no schema"))
    // a USER-specified schema carries no column-mapping metadata: on a
    // mapped table the identity read path would resolve RENAMED columns
    // by their logical names — absent from every parquet footer — and
    // silently serve NULLs. Graft the log schema's physical names onto
    // the user's fields by logical name (no-op on unmapped tables).
    initialSnapshot.schema match {
      case Some(logSchema) if given.nonEmpty &&
          graft.core.model.ColumnMapping.isEnabled(logSchema) =>
        graft.write.SchemaEvolution.inheritMapping(base, logSchema)
      case _ => base
    }
  }

  if (readChangeFeed) {
    val clash = tableSchema.fieldNames.toSet
      .intersect(ChangeFeed.CdfColumns)
    require(clash.isEmpty,
      s"readChangeFeed reserves column names ${ChangeFeed.CdfColumns
        .mkString(", ")} but the table at $tablePath already has " +
        s"${clash.mkString(", ")}; stream it without readChangeFeed")
  }

  override val schema: StructType =
    if (readChangeFeed) ChangeFeed.withCdfColumns(tableSchema) else tableSchema

  /** CDF units read under the pinned schema. A unit whose file or
   * vector was vacuumed fails named, not with a FileNotFoundException
   * mid-task. */
  private lazy val feedReader = new ChangeFeed.Reader(spark, tablePath, hadoopConf, tableSchema,
    msg => new IllegalStateException(
      s"qbeast streaming CDF: $msg; restart the stream from a later startingVersion"))

  /** Commits ≤ this version are NOT part of the stream (exclusive lower
   * bound of the first incremental batch). -1 = emit the initial
   * snapshot first. */
  private val startExclusive: Long = opt("startingVersion") match {
    case Some(v) if v.equalsIgnoreCase("latest") => initialSnapshot.version
    case Some(v) => v.toLong - 1L
    case None => opt("startingTimestamp") match {
      // first commit written AT or AFTER the timestamp starts the
      // stream (Delta's startingTimestamp): versionAt gives the last
      // commit ≤ ts, which is exactly the exclusive lower bound
      case Some(ts) =>
        // accept the Delta-compatible shapes: date-only, space- or
        // 'T'-separated datetime, optional fraction, optional trailing
        // 'Z'. A zoneless literal resolves in the SESSION timezone
        // (Delta casts through the session zone, not the JVM default);
        // 'Z' pins UTC explicitly.
        val trimmed = ts.trim
        val utc = trimmed.endsWith("Z")
        val normalized = trimmed.stripSuffix("Z").replace(' ', 'T') match {
          case d if d.matches("""\d{4}-\d{2}-\d{2}""") => d + "T00:00:00"
          case other => other
        }
        // DateTimeUtils.getZoneId, not ZoneId.of: Spark-legal session
        // zones include SHORT_IDS ("PST") and unpadded offsets
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
          if (utc) "UTC"
          else spark.conf.get("spark.sql.session.timeZone",
            java.util.TimeZone.getDefault.getID))
        val epochMillis = java.time.LocalDateTime.parse(normalized)
          .atZone(zone).toInstant.toEpochMilli
        // versionAt is "last version ≤ t"; a commit exactly AT the
        // given timestamp must be INCLUDED, so bound at t-1ms
        QbeastLog.versionAt(tablePath, hadoopConf, epochMillis - 1L).getOrElse(-1L)
      case None => -1L
    }
  }

  /** `startingVersion=0` also yields startExclusive == -1; only the
   * OPTIONS' ABSENCE selects the initial-snapshot phase (for an
   * append-only table the two coincide, but the change feed
   * distinguishes "current content as inserts" from "full history").
   * Deliberate Delta-parity consequence for non-CDF streams too:
   * `startingVersion=0` REPLAYS history commit-by-commit — delete /
   * rewrite commits need ignoreDeletes/ignoreChanges, and commits
   * whose files were vacuumed cannot be replayed. Omit the option to
   * stream the clean current snapshot instead. */
  private val startingVersionGiven =
    opt("startingVersion").isDefined || opt("startingTimestamp").isDefined

  // Type-widening era guard at the ANCHOR: if the schema in effect at
  // the stream's first replayed commit does not UPCAST into the pinned
  // schema (a RESTORE rolled the table back past a type widening after
  // those commits were written), the replay would crash mid-scan on
  // wide-era footers — refuse NAMED at construction instead. Era
  // changes INSIDE the replayed range are already covered: any
  // MetaDataAction crossed mid-stream stops the stream with the pinned
  // restart error before its commit's files are read.
  if (startingVersionGiven && startExclusive + 1 >= 0 &&
    startExclusive + 1 < initialSnapshot.version) {
    QbeastLog.lightSnapshot(tablePath, hadoopConf,
      asOfVersion = startExclusive + 1).schema.foreach { es =>
      ChangeFeed.requireUpcast(es, tableSchema) { (f, e) =>
        s"qbeast streaming source: version ${startExclusive + 1} of " +
          s"$tablePath wrote column ${f.name} as " +
          s"${f.dataType.simpleString}, but the current schema reads " +
          s"it as ${e.dataType.simpleString} — this range crosses a " +
          "type change that cannot upcast (a RESTORE rolled back " +
          "past a type widening). Start the stream from a newer " +
          "startingVersion."
      }
    }
  }

  /** Trigger.AvailableNow: commits beyond the version latched here are
   * left for a later run, no matter how long this one drains. */
  @volatile private var latchedHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    latchedHead = Some(headVersion)
    logInfo(s"qbeast stream AvailableNow latched at version ${latchedHead.get}")
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** The latest light snapshot observed (one per headVersion probe) —
   * its revisions map covers every commit ≤ its version, so the
   * per-commit enumeration reuses it instead of re-listing the log
   * directory per commit (K extra LISTs per catching-up trigger on an
   * object store otherwise). */
  @volatile private var lastLight: graft.log.QbeastSnapshot = initialSnapshot

  private def headVersion: Long = {
    val snap = QbeastLog.lightSnapshot(tablePath, hadoopConf)
    lastLight = snap
    latchedHead.fold(snap.version)(math.min(snap.version, _))
  }

  // -------------------------------------------------------------------
  // deterministic file enumeration (driver-side, metadata only)
  // -------------------------------------------------------------------

  /** Path-sorted live files of the snapshot at `version` — the initial
   * snapshot phase's fixed ordering — as inserts stamped with the
   * anchor and masked by the vectors live at it. One O(files) replay
   * per anchor; bounded at 2 anchors so the O(files) list does not stay
   * pinned in driver heap once the snapshot phase is over. */
  private val snapshots = new LruCache[Long, Vector[FeedUnit.Inserted]](2)

  private def snapshotUnits(version: Long): Vector[FeedUnit.Inserted] =
    snapshots.getOrElseUpdate(version, {
      val snap = QbeastLog.snapshot(tablePath, hadoopConf, version)
      val dvs = dvsByName(snap)
      snap.files.sortBy(_.path).map(f => FeedUnit.Inserted(
        version, f.path, f.size, dvs.get(new Path(f.path).getName), None))
    })

  /** Decoded commits: one parse per commit file per stream (commit files
   * are immutable once published, so caching is always sound). */
  private val commits = new LruCache[Long, Commit](64)

  /** Commit `v` decoded, with the schema-change stop and, for a plain
   * stream, the delete and rewrite guards applied. */
  private def commitAt(v: Long): Commit = commits.getOrElseUpdate(v, {
    // lastLight covers every commit ≤ the head this trigger observed;
    // a revision cut INSIDE commit v is picked up by commitActions
    // itself (serde contract: revisions precede their files)
    val revisions =
      if (lastLight.version >= v) lastLight.revisions
      else QbeastLog.lightSnapshot(tablePath, hadoopConf).revisions
    // a plain stream reads only a commit's shape and data adds, so it
    // decodes without deletion-vector state
    val commit = ChangeFeed.decode(v,
      QbeastLog.commitActions(tablePath, hadoopConf, v, revisions),
      if (readChangeFeed) name => dvAt(v - 1).get(name) else _ => None)
    // a schema CHANGE mid-stream must stop the stream (Delta's
    // contract): delivering new-schema files through the pinned
    // schema silently drops or nulls the changed columns
    commit.schema.foreach { committed =>
      val same = committed.fields.map(f => (f.name, f.dataType)).toSeq ==
        tableSchema.fields.map(f => (f.name, f.dataType)).toSeq
      if (!same) throw new UnsupportedOperationException(
        s"qbeast streaming source: commit $v of $tablePath changed the table " +
          s"schema (${tableSchema.simpleString} -> ${committed.simpleString}). " +
          "Restart the streaming query to pick up the new schema.")
    }
    if (!readChangeFeed) requireAppendOnly(commit)
    commit
  })

  /** A plain stream delivers added files only: a commit that deletes
   * rows needs `ignoreDeletes`, one that rewrites rows `ignoreChanges`
   * (the updated images stream, duplicates possible downstream). */
  private def requireAppendOnly(c: Commit): Unit = {
    val v = c.version
    c.shape match {
      case Shape.DvDelete if !ignoreDeletes => throw new UnsupportedOperationException(
        s"qbeast streaming source: commit $v of $tablePath deletes rows via " +
          "a deletion vector. Streaming a non-append-only table requires " +
          "option 'ignoreDeletes' or 'ignoreChanges'.")
      case Shape.DvRewrite if !ignoreChanges => throw new UnsupportedOperationException(
        s"qbeast streaming source: commit $v of $tablePath rewrites rows " +
          "via deletion vectors (merge-on-read UPDATE). Set option " +
          "'ignoreChanges' to stream the updated images (duplicates " +
          "possible downstream).")
      case Shape.Delete if !ignoreDeletes => throw new UnsupportedOperationException(
        s"qbeast streaming source: commit $v of $tablePath deletes data. " +
          "Streaming a non-append-only table requires option " +
          "'ignoreDeletes' (skip delete-only commits) or 'ignoreChanges'.")
      case Shape.Rewrite if !ignoreChanges => throw new UnsupportedOperationException(
        s"qbeast streaming source: commit $v of $tablePath rewrites data " +
          "(UPDATE/MERGE/RESTORE). Set option 'ignoreChanges' to stream " +
          "re-added files (duplicates possible downstream).")
      case _ =>
    }
  }

  /** The admission steps of commit `v` in stream order: its feed units,
   * or for a plain stream its data-adding files. */
  private def stepsOf(v: Long): IndexedSeq[FeedUnit] = {
    val c = commitAt(v)
    if (readChangeFeed) c.units.toIndexedSeq
    else c.dataAdds.map { case (p, size) => FeedUnit.Inserted(v, p, size, None, None) }.toIndexedSeq
  }

  /** Where an un-started stream begins. */
  private def initialPosition(head: Long): QbeastSourceOffset =
    if (!startingVersionGiven) QbeastSourceOffset(head, 0L, snapshotPhase = true)
    else QbeastSourceOffset(startExclusive)

  /** The (maxFiles, maxBytes) budget the ENGINE asked for. Trigger.Once
   * passes ReadLimit.allAvailable() even when the source has configured
   * per-trigger limits — honoring the parameter (not the instance
   * options) is what makes "Once = drain everything available" hold,
   * the FileStreamSource/Delta contract. Unrecognized limit shapes fall
   * back to the configured options. */
  private def budgetOf(limit: ReadLimit): (Long, Long) = {
    import org.apache.spark.sql.connector.read.streaming._
    limit match {
      case _: ReadAllAvailable => (Long.MaxValue, Long.MaxValue)
      case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue)
      case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes())
      case c: CompositeReadLimit =>
        c.getReadLimits.map(budgetOf).reduce((a, b) =>
          (math.min(a._1, b._1), math.min(a._2, b._2)))
      case _ =>
        (maxFilesPerTrigger.map(_.toLong).getOrElse(Long.MaxValue),
          maxBytesPerTrigger.getOrElse(Long.MaxValue))
    }
  }

  /**
   * Advance from `start` admitting files under the budget; `head` caps
   * the walk. A batch never crosses the snapshot/commits boundary, so
   * the snapshot anchor is always recoverable from the offsets alone.
   * Returns `start` itself when nothing is admissible.
   */
  private def admit(
      start: QbeastSourceOffset,
      head: Long,
      budget: (Long, Long)): QbeastSourceOffset = {
    var files = budget._1
    var bytes = budget._2
    var admitted = 0L
    def take(size: Long): Boolean =
      if (files <= 0 || (bytes <= 0 && admitted > 0)) false
      else if (bytes < size && admitted > 0) false // at least one file always fits
      else { files -= 1; bytes -= size; admitted += 1; true }

    if (start.snapshotPhase) {
      val all = snapshotUnits(start.version)
      var i = start.index
      while (i < all.length && take(all(i.toInt).bytes)) i += 1
      if (i >= all.length) QbeastSourceOffset(start.version) // snapshot done
      else if (i == start.index) start
      else QbeastSourceOffset(start.version, i, snapshotPhase = true)
    } else {
      var v = start.version
      var i = if (start.index == Long.MaxValue) -1L else start.index
      // resume a partially consumed commit, then walk forward
      var done = false
      var last: QbeastSourceOffset = start
      while (!done) {
        val steps = if (i >= 0 || v > start.version) stepsOf(v) else Vector.empty
        if (i < 0) i = steps.length // legacy start: commit already consumed
        while (i < steps.length && take(steps(i.toInt).bytes)) i += 1
        if (i < steps.length) { // budget exhausted mid-commit
          last = QbeastSourceOffset(v, i)
          done = true
        } else {
          last = QbeastSourceOffset(v)
          // stop at the commit boundary when the budget is already
          // spent: walking into the next commit would evaluate ITS
          // guards (delete/rewrite/schema-change) and could fail the
          // trigger before the fully-admitted batch is ever delivered
          if (v >= head || files <= 0 || (bytes <= 0 && admitted > 0)) done = true
          else { v += 1; i = 0 }
        }
      }
      if (admitted == 0 && last.version == start.version) start else last
    }
  }

  /** Steps strictly after `start` up to and including `end` in stream
   * order (the non-CDF batch read builds its relation from their
   * log-recorded sizes without re-listing anything). */
  private def stepsBetween(
      start: QbeastSourceOffset,
      end: QbeastSourceOffset): Seq[FeedUnit] = {
    if (start.snapshotPhase || end.snapshotPhase) {
      // both bounds inside the pinned snapshot (a batch never crosses
      // the boundary; a legacy/done end equals "whole snapshot")
      val anchor = if (end.snapshotPhase) end.version else start.version
      val all = snapshotUnits(anchor)
      val from = if (start.snapshotPhase) start.index else 0L
      val until =
        if (end.snapshotPhase) end.index
        else all.length.toLong // end = commits-phase(anchor) = snapshot done
      all.slice(from.toInt, until.toInt)
    } else {
      val out = Vector.newBuilder[FeedUnit]
      var v = start.version
      if (start.index != Long.MaxValue) { // finish the partial commit
        val steps = stepsOf(v)
        val hi = if (v == end.version) math.min(end.indexOr(steps.length), steps.length.toLong)
          else steps.length.toLong
        out ++= steps.slice(start.index.toInt, hi.toInt)
      }
      v += 1
      while (v <= end.version) {
        val steps = stepsOf(v)
        val hi = if (v == end.version) math.min(end.indexOr(steps.length), steps.length.toLong)
          else steps.length.toLong
        out ++= steps.take(hi.toInt)
        v += 1
      }
      out.result()
    }
  }

  private implicit class OffsetOps(o: QbeastSourceOffset) {
    def indexOr(n: Long): Long = if (o.index == Long.MaxValue) n else o.index
  }

  // -------------------------------------------------------------------
  // engine entry points
  // -------------------------------------------------------------------

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head = headVersion
    val start = Option(startOffset).map(QbeastSourceOffset.of)
      .getOrElse {
        if (head < 0 && startExclusive < 0) return null
        initialPosition(head)
      }
    val budget = budgetOf(limit)
    val end =
      if (budget._1 == Long.MaxValue && budget._2 == Long.MaxValue) {
        // unlimited: one batch to the head (legacy behavior + offsets)
        if (start.snapshotPhase) QbeastSourceOffset(start.version)
        else QbeastSourceOffset(math.max(head, start.version))
      } else admit(start, head, budget)
    // an un-started stream with nothing admissible still returns its
    // START position (one empty batch 0): that checkpointed offset is
    // what makes the `startingVersion=latest` anchor DURABLE across
    // restarts — returning null here would re-anchor at the new head
    // on every restart and drop the commits in between
    if (end == start && startOffset != null) startOffset else end
  }

  override def reportLatestOffset(): OffsetV2 = {
    val head = headVersion
    if (head < 0 && startExclusive < 0) null else QbeastSourceOffset(math.max(head, startExclusive))
  }

  /** Legacy V1 entry — only reached if the engine ever treats this as a
   * plain Source (it doesn't once SupportsAdmissionControl is
   * implemented); kept correct for direct use in tests. */
  override def getOffset: Option[Offset] = {
    val head = headVersion
    if (head < 0 && startExclusive < 0) None
    else Some(QbeastSourceOffset(math.max(head, startExclusive)))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endO = QbeastSourceOffset.of(end)
    val startO = start.map(QbeastSourceOffset.of).getOrElse(initialPosition(endO.version))
    val steps = stepsBetween(startO, endO)
    logInfo(s"qbeast stream batch (${startO.json} .. ${endO.json}]: ${steps.length} files")
    val shims = org.apache.spark.sql.GraftShims
    if (steps.isEmpty) shims.emptyStreamingDataFrame(spark, schema)
    else if (readChangeFeed) shims.asStreamingDataFrame(feedReader.frame(steps))
    else {
      // non-CDF mode: schema == tableSchema (no metadata columns).
      // The relation is built from an EXPLICIT (path, size) index — the
      // sizes were recorded in the commit log, so the hot append path
      // skips the per-trigger DataSource resolution + driver re-listing
      // a spark.read.parquet(paths) would pay (one LIST/HEAD per file
      // per micro-batch on an object store).
      val idx = new graft.read.StaticFileIndex(new Path(tablePath),
        steps.collect { case f: FeedUnit.Inserted => (new Path(tablePath, f.path), f.bytes) })
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        location = idx,
        partitionSchema = StructType(Nil),
        dataSchema = tableSchema,
        bucketSpec = None,
        fileFormat = new QbeastParquetFileFormat(
          graft.core.model.ColumnMapping.toPhysicalMap(tableSchema)),
        options = Map.empty[String, String])(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      val batchDf = maskInitial(spark.baseRelationToDataFrame(relation))
      shims.asStreamingDataFrame(batchDf)
    }
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"QbeastStreamSource[$tablePath]"

}
