package graft.sources

import graft.log.{AddFileAction, CdcFileAction, QbeastLog, RemoveFileAction}

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SQLContext}

import scala.collection.mutable

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
 *    plus the first `index` data-adding files of commit `version`.
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
   * its anchor version; append commits as inserts; DML commits read
   * their persisted `_change_data` file when the table property
   * `qbeast.enableChangeDataFeed` was set before the DML. Commits
   * WITHOUT a change file mirror the batch replay exactly: delete-only
   * commits stream the removed files as deletes; deletion-vector
   * commits replay their vector DELTA — the rows masked at v but not
   * at v-1 — as deletes (merge-on-read UPDATE/upsert adds stream as
   * inserts alongside); and rewrite/RESTORE commits (removes + adds)
   * replay as ONE atomic whole-commit diff unit running the same
   * EXCEPT ALL frames batch [[graft.table.QbeastTable.changes]]
   * builds — admission never splits the unit, so the before/after
   * sides always land in the same micro-batch. */
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

  /** Deletion vectors pinned at stream start — the NON-CDF mask only
   * (plain streams read snapshot and append files through it; their
   * deleted rows must not stream, and the ignoreDeletes/ignoreChanges
   * contract those streams run under is explicitly at-least-once, so
   * start-time state is an acceptable approximation of the anchor).
   * The CDF path masks exactly instead: 's' units by the dv state AT
   * the anchor, 'a' units by their own commit's dv actions. A DV
   * landing mid-stream is a row-level delete the commit guards handle
   * like any delete commit. */
  private val initialDvByName: Map[String, String] =
    initialSnapshot.dvs.map { case (p, i) =>
      new Path(p).getName -> i.dvPath
    }
  private def maskInitial(df: DataFrame): DataFrame =
    graft.write.DeletionVectors.maskWith(tablePath, initialDvByName, hadoopConf, df)

  /** dv state as of `v` — for the CDF 'd' branch, whose removed files
   * must be read with the mask that applied just BEFORE their removal
   * (a dv commit that landed mid-stream already emitted its rows as
   * deletes via its change file or vector delta; re-emitting them here
   * would double count), and for the 'v' branch, whose delete feed is
   * exactly (state at v) minus (state at v-1). One full replay per
   * probed version, cached; both branches are replay surfaces, never
   * the hot append path. */
  private val dvAtCache = scala.collection.mutable.HashMap.empty[Long, Map[String, String]]
  private def dvByNameAt(v: Long): Map[String, String] =
    dvAtCache.getOrElseUpdate(v, {
      if (dvAtCache.size > 32) dvAtCache.clear()
      if (v < 0) Map.empty
      // LIGHT replay: dv actions are never add lines (and the JSON
      // checkpoint's dv map is post-clearing), so the dvs map is
      // complete without materializing the checkpointed file bulk —
      // O(tail) on a sidecar-scale table, and this now sits on the
      // CDF stream-start path (the 's' anchor mask)
      else QbeastLog.lightSnapshot(tablePath, hadoopConf, asOfVersion = v).dvs
        .map { case (p, i) => new Path(p).getName -> i.dvPath }
    })

  /** The TABLE's schema. In CDF mode the engine hands back the
   * already-widened source schema — strip the metadata columns there;
   * a NON-CDF table may legitimately contain columns with those names
   * (e.g. a materialized feed), so never strip outside CDF mode. */
  private val tableSchema: StructType = {
    val given =
      if (readChangeFeed) userSchema.map(s => StructType(
        s.fields.filterNot(f => QbeastStreamSource.CdfColumns.contains(f.name))))
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
      .intersect(QbeastStreamSource.CdfColumns)
    require(clash.isEmpty,
      s"readChangeFeed reserves column names ${QbeastStreamSource.CdfColumns
        .mkString(", ")} but the table at $tablePath already has " +
        s"${clash.mkString(", ")}; stream it without readChangeFeed")
  }

  override val schema: StructType =
    if (readChangeFeed) QbeastStreamSource.withCdfColumns(tableSchema) else tableSchema

  /** Mapping-aware parquet read of table data files: resolve by the
   * PHYSICAL footer names, expose the pinned logical names (identity
   * tables take the plain path — see ColumnMapping.readParquet). */
  private def readTableParquet(paths: Seq[String]): DataFrame =
    graft.core.model.ColumnMapping.readParquet(spark, tableSchema, paths)

  /** Same for persisted `_change_data` files (physical names +
   * `_change_type`, see QbeastTable.persistCdc). */
  private def readCdcParquet(paths: Seq[String]): DataFrame =
    graft.core.model.ColumnMapping.readParquetWith(spark, tableSchema,
      Seq(org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false)), paths)

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
      es.fields.foreach { f =>
        val phys = graft.core.model.ColumnMapping.physicalName(f)
        tableSchema.fields.find(e =>
          graft.core.model.ColumnMapping.physicalName(e).equalsIgnoreCase(phys))
          .foreach { e =>
            if (e.dataType != f.dataType &&
              !graft.core.model.TypeWidening.canWiden(f.dataType, e.dataType))
              throw new UnsupportedOperationException(
                s"qbeast streaming source: version ${startExclusive + 1} of " +
                  s"$tablePath wrote column ${f.name} as " +
                  s"${f.dataType.simpleString}, but the current schema reads " +
                  s"it as ${e.dataType.simpleString} — this range crosses a " +
                  "type change that cannot upcast (a RESTORE rolled back " +
                  "past a type widening). Start the stream from a newer " +
                  "startingVersion.")
          }
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
   * snapshot phase's fixed ordering. One O(files) replay per anchor;
   * bounded at 2 anchors so the O(files) path list does not stay
   * pinned in driver heap for the stream's lifetime once the snapshot
   * phase is over. */
  private val snapshotFilesCache = mutable.LinkedHashMap.empty[Long, Vector[(String, Long)]]

  private def snapshotFiles(version: Long): Vector[(String, Long)] =
    snapshotFilesCache.getOrElseUpdate(version, {
      if (snapshotFilesCache.size >= 2)
        snapshotFilesCache.remove(snapshotFilesCache.head._1)
      QbeastLog.snapshot(tablePath, hadoopConf, version)
        .files.map(f => (f.path, f.size)).sortBy(_._1)
    })

  private val commitDvCache = mutable.LinkedHashMap.empty[Long, Map[String, String]]

  /** The dv actions OF commit `v`, keyed by data-file basename — the
   * only masks that can apply to a file ADDED in that same commit (a
   * RESTORE re-attaching vectors; empty for ordinary appends). O(one
   * commit file), never a snapshot replay — this sits on the hot
   * append path of the CDF stream. */
  private def commitDvByName(v: Long): Map[String, String] =
    commitDvCache.getOrElseUpdate(v, {
      if (commitDvCache.size > 64) commitDvCache.remove(commitDvCache.head._1)
      commitActionsCached(v).collect {
        case graft.log.DvFileAction(p, dvPath, _) => new Path(p).getName -> dvPath
      }.toMap
    })

  // one parse per commit file per stream: enumeration (commitAdds), dv
  // masks (commitDvByName) and the whole-commit diff replay ('x') all
  // read the SAME committed actions — commit files are immutable once
  // published (atomic put-if-absent), so caching is always sound
  private val commitActionsCache =
    mutable.LinkedHashMap.empty[Long, Seq[graft.log.LogAction]]

  private def commitActionsCached(v: Long): Seq[graft.log.LogAction] =
    commitActionsCache.getOrElseUpdate(v, {
      if (commitActionsCache.size > 8) commitActionsCache.remove(commitActionsCache.head._1)
      val revisions =
        if (lastLight.version >= v) lastLight.revisions
        else QbeastLog.lightSnapshot(tablePath, hadoopConf).revisions
      QbeastLog.commitActions(tablePath, hadoopConf, v, revisions)
    })

  private val commitAddsCache = mutable.LinkedHashMap.empty[Long, Vector[(String, Long)]]

  /** The data-adding files of commit `v` in commit-file order, with the
   * delete / rewrite guards applied. Empty for layout-only or
   * tolerated delete commits. */
  private def commitAdds(v: Long): Vector[(String, Long)] =
    commitAddsCache.getOrElseUpdate(v, {
      if (commitAddsCache.size > 64) commitAddsCache.remove(commitAddsCache.head._1)
      // lastLight covers every commit ≤ the head this trigger observed;
      // a revision cut INSIDE commit v is picked up by commitActions
      // itself (serde contract: revisions precede their files)
      val actions = commitActionsCached(v)
      // a schema CHANGE mid-stream must stop the stream (Delta's
      // contract): delivering new-schema files through the pinned
      // schema silently drops or nulls the changed columns
      actions.collectFirst {
        case graft.log.MetaDataAction(schemaJson, _) if schemaJson.nonEmpty =>
          org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[StructType]
      }.foreach { committed =>
        val same = committed.fields.map(f => (f.name, f.dataType)).toSeq ==
          tableSchema.fields.map(f => (f.name, f.dataType)).toSeq
        if (!same) throw new UnsupportedOperationException(
          s"qbeast streaming source: commit $v of $tablePath changed the table " +
            s"schema (${tableSchema.simpleString} -> ${committed.simpleString}). " +
            "Restart the streaming query to pick up the new schema.")
      }
      val adds = actions.collect { case AddFileAction(f, dc) => (f, dc) }
      val removes = actions.collect { case r: RemoveFileAction => r }
      val dataAdds = adds.collect { case (f, true) => (f.path, f.size) }
      val layoutOnly = removes.nonEmpty && dataAdds.isEmpty && adds.nonEmpty
      // a deletion-vector commit is a row-level delete of already-
      // emitted files: the CDF branch replays it as vector-delta rows
      // (with or without a persisted change file); a plain stream needs
      // the same tolerance as a delete commit
      val dvActs = actions.collect { case d: graft.log.DvFileAction => d }
      val hasDv = dvActs.nonEmpty
      val dvOnly = hasDv && dataAdds.isEmpty && removes.isEmpty
      if (dvOnly && !readChangeFeed && !ignoreDeletes)
        throw new UnsupportedOperationException(
          s"qbeast streaming source: commit $v of $tablePath deletes rows via " +
            "a deletion vector. Streaming a non-append-only table requires " +
            "option 'ignoreDeletes' or 'ignoreChanges'.")
      if (readChangeFeed) {
        // CDF enumeration: version-tagged units so getBatch can stamp
        // _commit_version ("v:kind:path"; kind a=insert file, d=removed
        // file read as deletes, c=persisted change-data directory,
        // v=deletion-vector delta of a data file — its newly masked
        // rows read as deletes). dv units carry size 0 (the action has
        // no file size — admitted for free, still file-counted), the
        // same budget shape as pre-size removes.
        val cdcs = actions.collect { case CdcFileAction(p, sz) => (s"$v:c:$p", sz) }
        // a dv action on a file ADDED in this same commit (a RESTORE
        // resurrecting a file that was MASKED at the target version) is
        // the add's OWN mask, not a vector delta: the 'a' unit already
        // inserts only the live rows (commitDvByName), and a 'v' unit
        // would emit its masked rows as deletes that were never
        // inserted (the file was dead at v-1)
        lazy val addPaths = dataAdds.map(_._1).toSet
        lazy val dvUnits = dvActs.filterNot(d => addPaths.contains(d.path))
          .map(d => (s"$v:v:${d.path}", 0L))
        if (cdcs.nonEmpty) cdcs.toVector
        else if (layoutOnly) Vector.empty // optimize: content unchanged
        else if (removes.isEmpty && dataAdds.isEmpty) dvUnits.toVector // dv-only DELETE
        else if (removes.isEmpty)
          // adds, possibly with dv actions (merge-on-read UPDATE/upsert
          // without CDF): new images insert, newly masked rows delete
          (dataAdds.map { case (p, sz) => (s"$v:a:$p", sz) } ++ dvUnits).toVector
        else if (adds.isEmpty && !hasDv)
          // delete-only: the removed files' rows ARE the delete feed;
          // the remove action carries the file's size (0 on pre-size
          // log lines → admitted for free, still file-counted), so
          // maxBytesPerTrigger budgets these like any other unit
          removes.map(r => (s"$v:d:${r.remove.path}", r.remove.size)).toVector
        else if (adds.isEmpty)
          // stats-proved dv DELETE: boundary files drop whole ('d'),
          // straddlers mask ('v') — same decomposition as the batch
          // changes() replay
          (removes.map(r => (s"$v:d:${r.remove.path}", r.remove.size)) ++ dvUnits).toVector
        else
          // rewrite / RESTORE without a persisted change file: the
          // before/after diff needs BOTH sides of the commit at once
          // (after ∖ before inserts, before ∖ after deletes — the
          // same frames batch changes() builds), so the commit
          // replays as ONE atomic pseudo-unit ('x') sized as its
          // added PLUS removed bytes — the EXCEPT ALL frames read both
          // sides, so admission must budget the actual IO, not half of
          // it. Admission never splits a single unit ("at least one
          // file always fits"), so the diff is always whole.
          Vector((s"$v:x:", dataAdds.map(_._2).sum +
            removes.map(_.remove.size).sum))
      } else {
        // a dv+adds commit is a row-level rewrite (merge-on-read
        // UPDATE): the updated images stream as appends only under the
        // same tolerance a copy-on-write rewrite needs
        if (hasDv && dataAdds.nonEmpty && !ignoreChanges)
          throw new UnsupportedOperationException(
            s"qbeast streaming source: commit $v of $tablePath rewrites rows " +
              "via deletion vectors (merge-on-read UPDATE). Set option " +
              "'ignoreChanges' to stream the updated images (duplicates " +
              "possible downstream).")
        if (removes.nonEmpty && !layoutOnly) {
          // delete-only commit → tolerated by ignoreDeletes; rewrite
          // commit (removes + dataChange adds) → needs ignoreChanges
          if (dataAdds.isEmpty) {
            if (!ignoreDeletes) throw new UnsupportedOperationException(
              s"qbeast streaming source: commit $v of $tablePath deletes data. " +
                "Streaming a non-append-only table requires option " +
                "'ignoreDeletes' (skip delete-only commits) or 'ignoreChanges'.")
          } else if (!ignoreChanges) throw new UnsupportedOperationException(
            s"qbeast streaming source: commit $v of $tablePath rewrites data " +
              "(UPDATE/MERGE/RESTORE). Set option 'ignoreChanges' to stream " +
              "re-added files (duplicates possible downstream).")
        }
        dataAdds.toVector
      }
    })

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
      val all = snapshotFiles(start.version)
      var i = start.index
      while (i < all.length && take(all(i.toInt)._2)) i += 1
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
        val adds = if (i >= 0 || v > start.version) commitAdds(v) else Vector.empty
        if (i < 0) i = adds.length // legacy start: commit already consumed
        while (i < adds.length && take(adds(i.toInt)._2)) i += 1
        if (i < adds.length) { // budget exhausted mid-commit
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

  /** Files strictly after `start` up to and including `end` in stream
   * order, with their log-recorded sizes (CDF units keep their encoded
   * "version:kind:path" form in `_1`; the non-CDF batch read builds its
   * relation from the sizes without re-listing anything). */
  private def filesBetween(
      start: QbeastSourceOffset,
      end: QbeastSourceOffset): Seq[(String, Long)] = {
    if (start.snapshotPhase || end.snapshotPhase) {
      // both bounds inside the pinned snapshot (a batch never crosses
      // the boundary; a legacy/done end equals "whole snapshot")
      val anchor = if (end.snapshotPhase) end.version else start.version
      val all = snapshotFiles(anchor)
      val from = if (start.snapshotPhase) start.index else 0L
      val until =
        if (end.snapshotPhase) end.index
        else all.length.toLong // end = commits-phase(anchor) = snapshot done
      val slice = all.slice(from.toInt, until.toInt)
      // CDF: the snapshot streams as inserts stamped with its anchor
      if (readChangeFeed) slice.map { case (p, sz) => (s"$anchor:s:$p", sz) }
      else slice
    } else {
      val out = Vector.newBuilder[(String, Long)]
      var v = start.version
      if (start.index != Long.MaxValue) { // finish the partial commit
        val adds = commitAdds(v)
        val hi = if (v == end.version) math.min(end.indexOr(adds.length), adds.length.toLong)
          else adds.length.toLong
        adds.slice(start.index.toInt, hi.toInt).foreach(f => out += f)
      }
      v += 1
      while (v <= end.version) {
        val adds = commitAdds(v)
        val hi = if (v == end.version) math.min(end.indexOr(adds.length), adds.length.toLong)
          else adds.length.toLong
        adds.take(hi.toInt).foreach(f => out += f)
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

  /** The vector-delta frame of commit `v` over the given data files
   * (relative paths): rows newly masked since v-1 feed as deletes;
   * rows a RESTORE unmasked (vector shrink) feed as inserts. Vectors
   * load lazily on executors, so their existence is probed HERE
   * (vacuum check) — a reclaimed vector must fail NAMED, not with a
   * mid-task FileNotFoundException. Grow-only short-circuit, same as
   * the batch dvDeltaFrames: old ⊆ new per file (driver-side, over
   * the cached sorted index arrays) proves the resurrect side empty
   * for every ordinary DML commit, so only files a RESTORE actually
   * shrank pay the second probe-scan. Shared by the 'v' units and the
   * whole-commit diff ('x') replay. */

  /** Batched replay-surface existence check: ONE listStatus per parent
   * directory, diffed against the needed set — a 10k-file replayed
   * commit on an object store pays a couple of LIST round trips instead
   * of 10k serial exists() probes. The first missing path fails NAMED
   * (the batch changes() contract), never with a raw
   * FileNotFoundException mid-task. */
  private def requireAllExist(
      v: Long,
      relPaths: Iterable[String],
      what: String,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    if (relPaths.isEmpty) return
    relPaths.groupBy(p => new Path(tablePath, p).getParent).foreach {
      case (dir, ps) =>
        val present: Set[String] =
          try fs.listStatus(dir).iterator.map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        ps.find(p => !present.contains(new Path(tablePath, p).getName)).foreach { p =>
          throw new IllegalStateException(
            s"qbeast streaming CDF: $what $p of commit $v was vacuumed — " +
              "this range cannot be replayed; restart the stream from a " +
              "later startingVersion")
        }
    }
  }

  private def vectorDeltaFrame(
      v: Long,
      relPaths: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem): DataFrame = {
    val dvs = graft.write.DeletionVectors
    val newM = dvByNameAt(v)
    val oldM = dvByNameAt(v - 1)
    val names = relPaths.map(p => new Path(p).getName).toSet
    // probe BOTH maps' entries (not their merged map: a file re-masked
    // at v has a different vector path in each, and the merge would
    // hide one of them from the check); batched — one LIST, not N probes
    requireAllExist(v,
      (newM.iterator ++ oldM.iterator).collect {
        case (n, dvp) if names.contains(n) => dvp
      }.toSeq.distinct, "deletion vector", fs)
    val absolute = relPaths.map(p => new Path(tablePath, p).toString)
    val df = readTableParquet(absolute)
    val newProbe = dvs.probeCol(tablePath, newM, hadoopConf)
    if (oldM.isEmpty) {
      df.filter(newProbe).withColumn("_change_type", lit("delete"))
    } else {
      val oldProbe = dvs.probeCol(tablePath, oldM, hadoopConf)
      val deletes = df.filter(newProbe && !oldProbe)
        .withColumn("_change_type", lit("delete"))
      val shrunk = names.filter(n => oldM.contains(n) && {
        val oldIdx = dvs.cached(tablePath, hadoopConf, oldM(n))
        newM.get(n) match {
          case Some(np) =>
            !dvs.subsetOf(oldIdx, dvs.cached(tablePath, hadoopConf, np))
          case None => oldIdx.nonEmpty
        }
      })
      if (shrunk.isEmpty) deletes
      else {
        val shrunkAbs = relPaths
          .filter(p => shrunk.contains(new Path(p).getName))
          .map(p => new Path(tablePath, p).toString)
        deletes.union(
          readTableParquet(shrunkAbs)
            .filter(oldProbe && !newProbe)
            .withColumn("_change_type", lit("insert")))
      }
    }
  }

  /** Whole-commit diff replay (the 'x' unit): a rewrite / RESTORE
   * without a persisted change file, delivered atomically. Builds the
   * SAME frames batch changes() builds for a removes+adds commit: the
   * removed files' live-before image (masked by the dv state at v-1)
   * plus masked re-adds' live-before rows form the BEFORE side; the
   * added files, masked by the commit's OWN dv actions (a restore
   * resurrecting a file that was masked at the target version), the
   * AFTER. after ∖ before feeds as inserts, before ∖ after as
   * deletes, and dv actions on files NOT added in this commit replay
   * as vector deltas. */
  private def wholeCommitDiffFrame(
      v: Long,
      fs: org.apache.hadoop.fs.FileSystem): DataFrame = {
    val dvs = graft.write.DeletionVectors
    // cached: commitAdds already parsed this commit when sizing the unit
    val actions = commitActionsCached(v)
    val removes = actions.collect { case graft.log.RemoveFileAction(r) => r.path }
    val dataAdds = actions.collect {
      case graft.log.AddFileAction(f, true) => f.path
    }
    val dvActs = actions.collect { case d: graft.log.DvFileAction => d }
    def readRel(ps: Seq[String]): DataFrame =
      readTableParquet(ps.map(p => new Path(tablePath, p).toString))
    val oldM = dvByNameAt(v - 1)
    val addSet = dataAdds.toSet
    val (selfDvs, deltaDvs) = dvActs.partition(d => addSet.contains(d.path))
    val removeNames = removes.map(p => new Path(p).getName).toSet
    val removeMask = oldM.filter { case (n, _) => removeNames.contains(n) }
    val reAddNames = dataAdds.map(p => new Path(p).getName)
      .filter(oldM.contains).toSet
    val reAddMask = oldM.filter { case (n, _) => reAddNames.contains(n) }
    val selfMask = selfDvs.map(d => new Path(d.path).getName -> d.dvPath).toMap
    // ONE batched existence sweep for every path this replay will read
    // (data files on both sides + all vectors), not per-file probes
    requireAllExist(v, removes ++ dataAdds, "file", fs)
    requireAllExist(v,
      (removeMask.values ++ reAddMask.values ++ selfMask.values).toSeq.distinct,
      "deletion vector", fs)
    val removesBefore =
      dvs.maskWith(tablePath, removeMask, hadoopConf, readRel(removes))
    val before =
      if (reAddNames.isEmpty) removesBefore
      else {
        // files re-added while live AND masked at v-1 (restore clearing
        // a dv): only their previously-masked rows are new content
        val reAdds = dataAdds.filter(p => reAddNames.contains(new Path(p).getName))
        removesBefore.unionByName(
          dvs.maskWith(tablePath, reAddMask, hadoopConf, readRel(reAdds)))
      }
    val after = dvs.maskWith(tablePath, selfMask, hadoopConf, readRel(dataAdds))
    val base = after.exceptAll(before)
      .withColumn("_change_type", lit("insert"))
      .union(before.exceptAll(after)
        .withColumn("_change_type", lit("delete")))
    if (deltaDvs.isEmpty) base
    else base.union(vectorDeltaFrame(v, deltaDvs.map(_.path), fs))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endO = QbeastSourceOffset.of(end)
    val startO = start.map(QbeastSourceOffset.of).getOrElse(initialPosition(endO.version))
    val sized = filesBetween(startO, endO)
    val paths = sized.map(_._1)
    logInfo(s"qbeast stream batch (${startO.json} .. ${endO.json}]: ${paths.length} files")
    val shims = org.apache.spark.sql.GraftShims
    if (paths.isEmpty) shims.emptyStreamingDataFrame(spark, schema)
    else if (readChangeFeed) {
      // decode "version:kind:path" units into per-(version, kind)
      // frames; the output column set is fixed (table schema +
      // _change_type + _commit_version) so the union is by position
      val units = paths.map { u =>
        val Array(v, kind, p) = u.split(":", 3)
        (v.toLong, kind, p)
      }
      val outCols = schema.fieldNames.map(col).toSeq
      val frames = units.groupBy(u => (u._1, u._2)).toSeq.sortBy(_._1).map {
        case ((v, kind), list) =>
          lazy val absolute = list.map(u => new Path(tablePath, u._3).toString)
          // EVERY CDF kind can land behind vacuum: 'd' files are
          // tombstoned at this very commit, 'c' change files expire
          // with the data-file retention, and an 'a' file a LATER
          // commit removed is reclaimable while a lagging stream still
          // needs it. A replay reaching such a range must fail NAMED
          // (the batch changes() contract), not with a raw
          // FileNotFoundException mid-task. Batched: one listStatus per
          // parent directory, never per-file exists() round trips. ('x'
          // units carry no path — the diff replay checks its own set.)
          val fs = new Path(tablePath).getFileSystem(hadoopConf)
          if (kind != "x") requireAllExist(v, list.map(_._3), "file", fs)
          val tagged = kind match {
            case "c" => readCdcParquet(absolute)
            case "d" => graft.write.DeletionVectors.maskWith(tablePath,
              dvByNameAt(v - 1), hadoopConf,
              readTableParquet(absolute))
              .withColumn("_change_type", lit("delete"))
            case "v" =>
              vectorDeltaFrame(v, list.map(_._3), fs)
            case "x" =>
              wholeCommitDiffFrame(v, fs)
            case "s" =>
              // snapshot-phase files: inserts as of the ANCHOR, masked
              // by the vectors AT the anchor version (v IS the anchor —
              // the unit is stamped "$anchor:s:$path"). The
              // construction-time state is wrong in both directions: a
              // dv DELETE landing between construction and the first
              // trigger is <= anchor (never replayed as a 'v' delta, so
              // its rows must not stream as inserts), and on restart
              // the construction state is LATER than the anchor (mid-
              // stream deletes already streamed as 'v' deltas would be
              // double-dropped from the insert feed).
              graft.write.DeletionVectors.maskWith(tablePath,
                dvByNameAt(v), hadoopConf,
                readTableParquet(absolute))
                .withColumn("_change_type", lit("insert"))
            case _ =>
              // commit adds ('a'): the insert feed is the file AS
              // COMMITTED — an added file's only possible mask at v is
              // a dv action in the SAME commit (a RESTORE re-attaching
              // a vector; fresh appends have none, so this is a no-op).
              // A LATER mask streams as its own commit's vector delta —
              // masking with any later state (the old maskInitial bug)
              // double-drops those rows from the insert feed.
              // A file re-added WHILE LIVE AND MASKED at v-1 is a
              // RESTORE clearing its deletion vector: only its
              // previously-masked rows are new content (the still-live
              // rows would double downstream) — batch changes() parity.
              val oldM = dvByNameAt(v - 1)
              val (reAdds, freshAdds) = list.partition(u =>
                oldM.contains(new Path(u._3).getName))
              val fresh =
                if (freshAdds.isEmpty) None
                else Some(graft.write.DeletionVectors.maskWith(tablePath,
                  commitDvByName(v), hadoopConf,
                  readTableParquet(
                    freshAdds.map(u => new Path(tablePath, u._3).toString))))
              val resurrected =
                if (reAdds.isEmpty) None
                else {
                  val names = reAdds.map(u => new Path(u._3).getName).toSet
                  val masks = oldM.filter { case (n, _) => names.contains(n) }
                  requireAllExist(v, masks.values.toSeq.distinct,
                    "deletion vector", fs)
                  Some(readTableParquet(
                    reAdds.map(u => new Path(tablePath, u._3).toString))
                    .filter(graft.write.DeletionVectors
                      .probeCol(tablePath, masks, hadoopConf)))
                }
              (fresh.toSeq ++ resurrected.toSeq).reduce(_.union(_))
                .withColumn("_change_type", lit("insert"))
          }
          tagged.withColumn("_commit_version", lit(v)).select(outCols: _*)
      }
      shims.asStreamingDataFrame(frames.reduce(_.union(_)))
    } else {
      // non-CDF mode: schema == tableSchema (no metadata columns).
      // The relation is built from an EXPLICIT (path, size) index — the
      // sizes were recorded in the commit log, so the hot append path
      // skips the per-trigger DataSource resolution + driver re-listing
      // a spark.read.parquet(paths) would pay (one LIST/HEAD per file
      // per micro-batch on an object store).
      val idx = new graft.read.StaticFileIndex(new Path(tablePath),
        sized.map { case (p, sz) => (new Path(tablePath, p), sz) })
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

object QbeastStreamSource {

  /** Metadata columns appended by `readChangeFeed=true`. */
  val CdfColumns: Set[String] = Set("_change_type", "_commit_version")

  def withCdfColumns(base: StructType): StructType = StructType(base.fields ++ Seq(
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType, nullable = false)))

}
