package graft.table

import graft.cdf.ChangeFeed
import graft.core.model._
import graft.log._
import graft.write.QbeastWriter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * User-facing table facade (reference: `src/.../table/QbeastTable.scala`
 * + `IndexedTable.optimize` + `ConvertToQbeastCommand`): revision
 * introspection, index metrics, optimize (indexed + staging), convert.
 */
class QbeastTable private (spark: SparkSession, tablePath: String)
    extends org.apache.spark.internal.Logging {

  private def conf = spark.sparkContext.hadoopConfiguration

  def snapshot: QbeastSnapshot = QbeastLog.snapshot(tablePath, conf)

  /** Snapshot for the control-plane paths that scale past driver memory
   * (optimize file selection, index metrics): light replay when a
   * parquet sidecar exists — the file bulk then stays on executors via
   * [[DistributedMetadata]] jobs — complete otherwise. Mirrors the read
   * path's gate (`spark.qbeast.metadata.distributed` = "false" opts
   * out) including the degrade-to-flat fallback when the sidecar was
   * vacuumed from under a pinned snapshot. */
  private def controlSnapshot(): QbeastSnapshot = {
    val distributedOk = !spark.conf.getOption("spark.qbeast.metadata.distributed")
      .exists(_.equalsIgnoreCase("false"))
    if (!distributedOk) return snapshot
    val s = QbeastLog.lightSnapshot(tablePath, conf)
    if (s.filesComplete || DistributedMetadata.usable(spark, s)) s
    else QbeastLog.snapshot(tablePath, conf)
  }

  /** Per-cube state of `rid` under either snapshot kind: driver replay
   * when the file list is already materialized, sidecar job otherwise. */
  /** Read specific table data files with the TABLE's schema pinned.
   * A plain `spark.read.parquet` infers the schema from one sampled
   * footer — on a schema-evolved table a rewrite (DELETE/UPDATE/MERGE/
   * optimize) that sampled a pre-evolution file would silently DROP
   * the widened column from the files it writes and remove the
   * originals in the same commit, losing that column's data forever.
   * Pinning resolves by name: pre-evolution files read the column as
   * null, exactly like the table scan. */
  private def readTableFiles(
      s: QbeastSnapshot,
      files: Seq[IndexFile],
      masks: Option[Map[String, String]] = None): org.apache.spark.sql.DataFrame = {
    val paths = files.map(f => new Path(tablePath, f.path).toString)
    val raw = s.schema match {
      // mapping-aware: resolve by PHYSICAL footer names, expose logical
      case Some(sc) => ColumnMapping.readParquet(spark, sc, paths)
      case None => spark.read.parquet(paths: _*)
    }
    // deletion-vector mask: a rewrite (optimize/compact/DML survivors)
    // reading a masked file must NOT resurrect its deleted rows — the
    // rewrite materializes the deletes and the new file starts unmasked.
    // `masks` (file name → vector) replaces the snapshot's vectors.
    masks match {
      case Some(m) => graft.write.DeletionVectors.maskWith(tablePath, m, conf, raw)
      case None => graft.write.DeletionVectors.mask(s, conf, raw)
    }
  }

  private def statusOf(s: QbeastSnapshot, rid: Long): IndexStatus =
    if (s.filesComplete) s.indexStatus(rid)
    else DistributedMetadata.indexStatus(spark, s, rid)

  def revisionIDs: Seq[Long] = snapshot.revisions.keys.toSeq.sorted

  def latestRevisionID: Long = snapshot.lastRevisionID

  def indexedColumns(revisionID: Long = -1L): Seq[String] = {
    val s = snapshot
    val rid = if (revisionID < 0) s.lastRevisionID else revisionID
    // revisions store PHYSICAL names; report the logical ones users see
    s.revisions.get(rid).map(_.columnNames.map(c =>
      s.schema.map(ColumnMapping.logicalOf(_, c)).getOrElse(c))).getOrElse(Nil)
  }

  /** Table configuration as persisted in the log (includes properties
   * set via ALTER TABLE ... SET TBLPROPERTIES in either catalog mode). */
  def properties: Map[String, String] = snapshot.configuration

  def cubeSize(revisionID: Long = -1L): Int = {
    val s = snapshot
    val rid = if (revisionID < 0) s.lastRevisionID else revisionID
    s.revisions.get(rid).map(_.desiredCubeSize).getOrElse(0)
  }

  /**
   * Metadata-only approximate distinct count of `column`, folded from
   * the per-file HLL register stats written under the `hllColumns`
   * option — ZERO data files are read. The register union across files
   * is bit-identical to one sketch over all the table's rows
   * (elementwise max is associative over any row partition), so the
   * answer equals what `ops.Sketch.hllDistinct` would compute with a
   * full scan — standard HLL accuracy, ~6.5% standard error at
   * m=256 — and the (est, scaled, zeros) state is integer-exact and
   * externally replayable (the q93 oracle pins it against DuckDB).
   *
   * None ("can't answer — scan instead") when any live file lacks
   * registers for the column (table not configured, post-turn-off
   * files, pre-feature files) or the table carries deletion-vector
   * masks (deleted rows still sit in the written registers — an
   * OPTIMIZE/REORG that materializes the masks re-enables the fold).
   * Sidecar-scale tables fold through a Spark job over the parquet
   * checkpoint ([[graft.log.DistributedMetadata.hllRegisters]]); only
   * 256-byte partials reach the driver.
   */
  def approxCountDistinct(column0: String): Option[QbeastTable.HllEstimate] = {
    import graft.expressions.HllDistinctAgg
    val s = QbeastLog.lightSnapshot(tablePath, conf)
    if (s.dvs.nonEmpty) return None
    // per-file sketch states are keyed by PHYSICAL names
    val column = s.schema.map(ColumnMapping.physicalOf(_, column0)).getOrElse(column0)
    if (!sketchEraOk(s, column, forKll = false)) return None
    val acc = new Array[Byte](HllDistinctAgg.M)
    val ok =
      if (s.filesComplete) foldHllRegisters(s.files, column, acc)
      else if (DistributedMetadata.usable(spark, s))
        // light snapshot: `s.files` holds only the post-checkpoint tail
        // adds; the checkpointed bulk folds distributively
        DistributedMetadata.hllRegisters(spark, s, column) match {
          case Some(regs) =>
            HllDistinctAgg.mergeRegisters(acc, regs)
            foldHllRegisters(s.files, column, acc)
          case None => false
        }
      else {
        // no usable sidecar: a fresh full replay — re-check masks on
        // the SAME snapshot being folded (a dv commit landing between
        // the two replays must bail, not silently count deleted rows)
        val sf = snapshot
        sf.dvs.isEmpty && foldHllRegisters(sf.files, column, acc)
      }
    if (!ok) None else Some(hllEstimate(acc))
  }

  private def hllEstimate(acc: Array[Byte]): QbeastTable.HllEstimate = {
    val row = graft.expressions.HllDistinctAgg.evalRegisters(acc)
    QbeastTable.HllEstimate(row.getDouble(0), row.getLong(1), row.getLong(2))
  }

  /** Shared per-file HLL register fold into `acc`; false = a non-empty
   * file lacked registers for `column` (bail to the scan). */
  private def foldHllRegisters(
      files: Iterable[graft.core.model.IndexFile],
      column: String,
      acc: Array[Byte]): Boolean =
    files.forall { f =>
      f.elementCount == 0L || {
        f.stats.flatMap(graft.read.FileStatsPruning.parse)
          .flatMap(_.hll.get(column)) match {
          case Some(b) => graft.expressions.HllDistinctAgg.mergeRegisters(acc, b); true
          case None => false
        }
      }
    }

  /** Shared per-file KLL state fold; `acc` stays null until the first
   * non-empty state so callers can tell "nothing folded" from a folded
   * empty column. */
  private final class KllFold {
    var acc: graft.expressions.KllState = _
    def seed(bytes: Array[Byte]): Unit = {
      acc = graft.expressions.KllState.deserialize(bytes)
    }
    def fold(files: Iterable[graft.core.model.IndexFile], column: String): Boolean =
      files.forall { f =>
        f.elementCount == 0L || {
          f.stats.flatMap(graft.read.FileStatsPruning.parse)
            .flatMap(_.kll.get(column)) match {
            case Some(b) =>
              val st = graft.expressions.KllState.deserialize(b)
              if (acc == null) acc = st else acc.mergeIn(st)
              true
            case None => false
          }
        }
      }
    def quantiles(qs: Seq[Double]): Option[Seq[Double]] =
      Option(acc).map(_.quantiles(qs.toArray).toSeq)
  }

  /**
   * Metadata-only approximate quantiles of `column`, folded from the
   * per-file KLL sketch states written under the `kllColumns` option —
   * ZERO data files are read. Merging the per-file states with the
   * same deterministic compaction the aggregate kit uses is exactly
   * sketching the union of the files' rows, so while the table holds
   * ≤ kllK non-null rows the answer equals DuckDB `quantile_disc`
   * bit-for-bit (the q95 oracle regime); beyond, the standard KLL
   * rank-error bound applies (MetadataKllSpec measures it). The p99 /
   * median dashboard over 100 TB as a driver-side byte fold.
   *
   * None ("can't answer — scan instead") when any live non-empty file
   * lacks a state for the column, the table carries deletion-vector
   * masks (masked rows can't be removed from a sketch), or every state
   * is empty of the column's values entirely — Some(NaN…) is the legal
   * answer for a table whose column is all-null.
   */
  def approxQuantile(column0: String, qs: Seq[Double]): Option[Seq[Double]] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0,1], got $qs")
    val s0 = QbeastLog.lightSnapshot(tablePath, conf)
    if (s0.dvs.nonEmpty) return None
    val column = s0.schema.map(ColumnMapping.physicalOf(_, column0)).getOrElse(column0)
    if (!sketchEraOk(s0, column, forKll = true)) return None
    val f = new KllFold
    val ok =
      if (s0.filesComplete) f.fold(s0.files, column)
      else if (DistributedMetadata.usable(spark, s0))
        // light snapshot: the checkpointed bulk folds distributively
        // (partition partials only reach the driver); tail adds overlay
        DistributedMetadata.kllState(spark, s0, column) match {
          case Some(bytes) => f.seed(bytes); f.fold(s0.files, column)
          case None => false
        }
      else {
        // same-snapshot mask check as approxCountDistinct's fallback
        val sf = snapshot
        sf.dvs.isEmpty && f.fold(sf.files, column)
      }
    if (!ok) None else f.quantiles(qs)
  }

  /**
   * Metadata-only approximate quantiles UNDER A PREDICATE: the same
   * tri-state per-file stats proofs the metadata counts use
   * ([[graft.read.FileStatsPruning.proveAll]], derived date-function
   * ranges included) classify every file; TRUE-proved files contribute
   * their whole per-file KLL state, FALSE-proved files contribute
   * nothing, and a single undecidable file bails to None ("scan
   * instead"). On ingest-aligned predicates (`year(ts) = …` over
   * time-batched appends) this answers "p99 of latency WHERE day = X"
   * with zero data files read.
   *
   * Scale note: sidecar-scale tables run the tri-state proofs AND the
   * state fold in ONE Spark job over the parquet checkpoint
   * ([[graft.log.DistributedMetadata.filteredKllState]]) — only
   * per-partition state partials reach the driver, the same cliff
   * removal the filtered count/min/max folds got; the (small)
   * post-checkpoint tail folds driver-side first so an unprovable
   * tail bails before the job launches.
   */
  def approxQuantile(
      column0: String, qs: Seq[Double], where: String): Option[Seq[Double]] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0,1], got $qs")
    val s0 = QbeastLog.lightSnapshot(tablePath, conf)
    if (s0.dvs.nonEmpty) return None
    val column = s0.schema.map(ColumnMapping.physicalOf(_, column0)).getOrElse(column0)
    if (!sketchEraOk(s0, column, forKll = true)) return None
    val light = !s0.filesComplete && DistributedMetadata.usable(spark, s0)
    // no usable sidecar on a light table: full replay, flat driver
    // fold — re-checking masks on the SAME snapshot being folded
    val s = if (s0.filesComplete || light) s0 else snapshot
    if (s.dvs.nonEmpty) return None
    provableConjuncts(s, where).flatMap { provable =>
      val f = new KllFold
      // the tail (or, when complete, the whole table) folds driver-side
      val tailOk = foldFilesFiltered(s.files, provable, fl =>
        fl.stats.flatMap(graft.read.FileStatsPruning.parse)
          .flatMap(_.kll.get(column)) match {
          case Some(b) =>
            val st = graft.expressions.KllState.deserialize(b)
            if (f.acc == null) f.acc = st else f.acc.mergeIn(st)
            true
          case None => false
        }) >= 0L
      if (!tailOk) None
      else if (!light) f.quantiles(qs)
      else DistributedMetadata.filteredKllState(spark, s, provable, column) match {
        case Some((bytes, _)) =>
          if (bytes.nonEmpty) {
            val st = graft.expressions.KllState.deserialize(bytes)
            if (f.acc == null) f.acc = st else f.acc.mergeIn(st)
          }
          f.quantiles(qs)
        case None => None
      }
    }
  }

  /** Filtered twin of [[approxCountDistinct]]: registers folded over
   * only the TRUE-proved files (see the filtered [[approxQuantile]],
   * including its sidecar-scale one-job path); None when any file is
   * undecidable, lacks registers, matches nothing, or the table
   * carries deletion-vector masks. */
  def approxCountDistinct(
      column0: String, where: String): Option[QbeastTable.HllEstimate] = {
    val s0 = QbeastLog.lightSnapshot(tablePath, conf)
    if (s0.dvs.nonEmpty) return None
    val column = s0.schema.map(ColumnMapping.physicalOf(_, column0)).getOrElse(column0)
    if (!sketchEraOk(s0, column, forKll = false)) return None
    val light = !s0.filesComplete && DistributedMetadata.usable(spark, s0)
    val s = if (s0.filesComplete || light) s0 else snapshot
    if (s.dvs.nonEmpty) return None
    provableConjuncts(s, where).flatMap { provable =>
      val acc = new Array[Byte](graft.expressions.HllDistinctAgg.M)
      val tailInc = foldFilesFiltered(s.files, provable, fl =>
        fl.stats.flatMap(graft.read.FileStatsPruning.parse)
          .flatMap(_.hll.get(column)) match {
          case Some(b) =>
            graft.expressions.HllDistinctAgg.mergeRegisters(acc, b); true
          case None => false
        })
      if (tailInc < 0L) None
      else {
        val bulkInc: Option[Long] =
          if (!light) Some(0L)
          else DistributedMetadata.filteredHllRegisters(spark, s, provable, column)
            .map { case (regs, inc) =>
              // regs is EMPTY (not M zero bytes) when no bulk file was
              // TRUE-proved — nothing to merge
              if (regs.nonEmpty)
                graft.expressions.HllDistinctAgg.mergeRegisters(acc, regs)
              inc
            }
        bulkInc match {
          // "matched nothing" keeps answering None (scan instead) —
          // the scan prunes every file and returns the true zero
          case Some(b) if tailInc + b > 0L => Some(hllEstimate(acc))
          case _ => None
        }
      }
    }
  }

  /** The expanded provable conjuncts of `where` over `s`'s scan —
   * the same optimizer-constant-folded extraction the metadata-only
   * DELETE uses, including its `coalesce(cond, false)` null-semantics
   * wrapper. None when the optimized predicate doesn't stay a pure
   * Filter chain (subqueries rewrite to joins — see
   * [[optimizedUserConjuncts]]) or still carries a plan-bearing
   * expression (scalar subquery) the executor fold closures can't
   * serialize. An unresolvable predicate (typo'd column, bad syntax)
   * throws its AnalysisException to the caller — None means "metadata
   * can't answer", never "the question was malformed". Plan-only: the
   * relation is never executed, so a LIGHT snapshot (tail-only file
   * list) extracts the same conjuncts a complete one would. */
  private def provableConjuncts(s: QbeastSnapshot, where: String)
      : Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = {
    val matched = coalesce(expr(where), lit(false))
    val (hasScan, raw0) = optimizedUserConjuncts(pinnedRead(s).filter(matched))
    if (!hasScan) return None
    // per-file stats are keyed by PHYSICAL names
    val raw = s.schema match {
      case Some(sc) => ColumnMapping.toPhysicalExprs(raw0, sc)
      case None => raw0
    }
    val expanded = graft.read.DerivedPredicates.expand(raw)
    if (expanded.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
      None
    // era gate (TypeWidening): a predicate on a unit-changed column
    // cannot be proved from narrow-era stats, and an equality on a
    // bloom-gated column could FALSE-NEGATIVE — bail to the scan
    else if (eraBlockedConjuncts(s, expanded)) None
    else Some(expanded)
  }

  /** True when stats-based PROOFS over `conjuncts` (physical-named)
   * would be unsound on this table because a referenced column was
   * type-widened ([[TypeWidening.proofBlocked]] — the single shared
   * definition). */
  private def eraBlockedConjuncts(
      s: QbeastSnapshot,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
    s.schema.exists(TypeWidening.proofBlocked(_, conjuncts))

  /** Era gate for the metadata-only sketch folds: false when the
   * column's narrow-era per-file state is incompatible with its
   * current (widened) type — folding would mix hash/unit domains. */
  private def sketchEraOk(
      s: QbeastSnapshot, physical: String, forKll: Boolean): Boolean =
    s.schema.forall { sc =>
      !(if (forKll) TypeWidening.kllTrustless(sc)
        else TypeWidening.hllTrustless(sc)).contains(physical)
    }

  /** Driver-side tri-state fold for the filtered sketch APIs
   * ([[graft.rules.MetadataCountRule.proveFileForFold]] per file):
   * TRUE-proved files hand their state to `take` (false = missing
   * state → bail); FALSE-proved files are skipped. Returns the number
   * of included files, or -1 to bail. */
  private def foldFilesFiltered(
      files: Iterable[graft.core.model.IndexFile],
      provable: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      take: graft.core.model.IndexFile => Boolean): Long = {
    var included = 0L
    val it = files.iterator
    while (it.hasNext) {
      val f = it.next()
      graft.rules.MetadataCountRule.proveFileForFold(
        f.stats, f.elementCount, provable) match {
        case 1 => if (take(f)) included += 1 else return -1L
        case 0 => ()
        case _ => return -1L
      }
    }
    included
  }

  /**
   * Rewrite the files of `revisionID` whose minimum weight fraction is ≤
   * `fraction` (the sampling-hot head of the table), re-assigning rows
   * against the *frozen* cube weights so the index shape is preserved
   * while files get repacked (reference: `IndexedTable.scala:439-460`).
   */
  def optimize(
      revisionID: Long = -1L,
      fraction: Double = 1.0,
      options: Map[String, String] = Map.empty): Unit = {
    // the reference's optimize also accepts options, which carry
    // pre-commit hooks (reference: IndexedTable.scala:122); hook output
    // tags are discarded here — a layout-only commit has no metadata
    // action to attach them to
    val hooks = graft.write.PreCommitHook.loadHooks(options)
    val s = controlSnapshot()
    val rid = if (revisionID < 0) s.lastRevisionID else revisionID
    // staging tables route to optimizeUnindexed WITH the options, so
    // hooks fire there too (dropping them silently would break the
    // reference-parity contract); no-op returns below commit nothing,
    // so there is nothing for a pre-commit hook to see
    if (rid == Revision.StagingID) { optimizeUnindexed(options); return }
    val revision = s.revisions.getOrElse(rid, return)
    val candidates =
      if (s.filesComplete) s.filesOfRevision(rid).filter(f => f.minWeight.fraction <= fraction)
      else DistributedMetadata.selectFiles(spark, s, rid, fraction)
    if (candidates.nonEmpty) rewrite(s, candidates, _ => revision, hooks)
  }

  /**
   * Collapse all earlier revisions into the latest one: their data is
   * re-indexed against the latest revision's (superset, by the
   * supersede/merge rules) space and committed as a layout-only rewrite.
   * After compaction every query plans against one revision — appends
   * that bumped the revision no longer cost a per-revision metadata walk
   * or split the sampling strata across index generations.
   */
  def compactRevisions(): Unit = {
    val s = controlSnapshot()
    val latest = s.lastRevision.filterNot(_.isStaging).getOrElse(return)
    val oldIds = s.revisions.keySet
      .filter(id => id != latest.revisionID && id != Revision.StagingID)
    val candidates =
      if (s.filesComplete) s.files.filter(f => oldIds.contains(f.revisionId))
      else DistributedMetadata.filesOfRevisions(spark, s, oldIds)
    if (candidates.nonEmpty) rewrite(s, candidates, _ => latest)
  }

  /** Index the staging (revision-0) files into the latest revision
   * (reference: `IndexedTable.optimizeUnindexedFiles`). `options` may
   * carry hook.* pre-commit hooks, run against the rewrite's files
   * before the commit. */
  def optimizeUnindexed(options: Map[String, String] = Map.empty): Unit = {
    val hooks = graft.write.PreCommitHook.loadHooks(options)
    val s = controlSnapshot()
    val staging =
      if (s.filesComplete) s.unindexedFiles
      else DistributedMetadata.selectFiles(spark, s, Revision.StagingID)
    if (staging.isEmpty) return
    val revision = s.lastRevision.filterNot(_.isStaging).getOrElse(
      throw new IllegalStateException(
        "no indexed revision to optimize staging files into; append indexed data first"))
    rewrite(s, staging, _ => revision, hooks)
  }

  /** Materialize every deletion vector without a full repack (Delta's
   * `REORG TABLE ... APPLY (PURGE)`): ONLY the masked files are
   * rewritten — their survivors land clean and replay clears the dv on
   * add — while the rest of the table (at 100 TB, virtually all of it)
   * is untouched. The replaced vectors become vacuumable. Returns the
   * number of masked files purged. */
  def purgeDeletionVectors(): Int = {
    val before = snapshot.dvs.keySet
    if (before.nonEmpty) optimizeFiles(before.toSeq)
    // report what was ACTUALLY purged: a file rewritten or re-masked
    // by a concurrent commit between the two snapshots is not counted
    // (callers re-run on a non-empty dvs, like any maintenance op)
    val after = snapshot.dvs.keySet
    (before -- after).size
  }

  /** Targeted optimize (reference: `QbeastTable.optimize(files)` →
   * `IndexedTable.optimizeIndexedFiles` / `optimizeUnindexedFiles`):
   * rewrite ONLY the given files (paths relative to the table root).
   * Staging files fold into the latest revision; indexed files re-pack
   * frozen within their own revision. Unknown paths are ignored; a
   * layout-only commit (dataChange = false). */
  def optimizeFiles(files: Seq[String]): Unit = {
    val s = controlSnapshot()
    val wanted = files.toSet
    val candidates =
      if (s.filesComplete) s.files.filter(f => wanted.contains(f.path))
      else DistributedMetadata.filesWithPaths(spark, s, wanted)
    if (candidates.isEmpty) return
    rewrite(s, candidates, rid =>
      if (rid != Revision.StagingID) s.revisions(rid)
      else s.lastRevision.filterNot(_.isStaging).getOrElse(throw new IllegalStateException(
        "no indexed revision to optimize staging files into; append indexed data first")))
  }

  /**
   * Predicate-scoped optimize (Delta's `OPTIMIZE ... WHERE`): repack
   * ONLY the files that may contain rows matching `condition`, selected
   * through the SAME two-layer pruning the read path uses (OTree block
   * pruning on indexed columns + per-file min/max/bloom stats) — so the
   * maintenance job touches exactly the files a query with this
   * predicate would read. Rows are never filtered: matching files are
   * rewritten whole, content is invariant. Returns the number of files
   * rewritten.
   *
   * The scoped form is what keeps optimize affordable at 100 TB: after
   * an ingest lands a day of small files, `optimizeWhere(ingest_day =
   * ...)` compacts that slice without re-reading the other 99.9% of the
   * table.
   */
  def optimizeWhere(condition: Column): Int = {
    val filtered = spark.read.format("qbeast").load(tablePath).filter(condition)
    // a condition folding to FALSE replaces the scan with an empty
    // LocalRelation: zero files can match, so there is nothing to
    // repack — answer 0 instead of erroring
    val foldedEmpty = filtered.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    if (foldedEmpty) return 0
    val (hasScan, conjuncts) = optimizedUserConjuncts(filtered)
    // an impure plan (subquery condition rewritten to a join) yields
    // zero conjuncts too — distinguish it so the refusal doesn't claim
    // the user supplied no condition when they did
    require(hasScan || conjuncts.nonEmpty,
      "optimizeWhere does not support subquery conditions (IN/EXISTS " +
        "rewrite to joins the file-selection layer can't prune by) — " +
        "materialize the keys and use a literal predicate, or optimizeFiles()")
    require(conjuncts.nonEmpty,
      "optimizeWhere requires a filtering condition (a trivially-true " +
        "predicate folds away — use optimize() for a full repack)")
    val s = snapshot
    val candidates = graft.read.QbeastFileIndex.selectFiles(s, conjuncts)
    if (candidates.nonEmpty) optimizeFiles(candidates.map(_.path))
    candidates.size
  }

  /**
   * Classify every live file of `s` for a DELETE with the given
   * filtered plan, from per-file stats alone (no data read):
   * `Some((provedTrue, undecided))` where provedTrue files are PROVEN
   * to match on every row (drop whole — [[FileStatsPruning.proveAll]]
   * TRUE-proofs require zero nulls, so SQL three-valued logic is
   * preserved) and FALSE-proved files are omitted from both lists.
   * `None` = the plan shape is unusable (e.g. the condition folded the
   * scan away) — caller takes the normal scan path, which is always
   * correct.
   *
   * Conjuncts come from the OPTIMIZED plan (the q87 lesson: analyzer
   * literal casts break the Literal patterns; constant folding restores
   * them), minus the DvMaskRule conjunct, which is read-path machinery,
   * not the user's predicate. An empty conjunct list WITH the scan
   * still present is the trivially-true DELETE — every file drops.
   * Proofs are evaluated against PHYSICAL rows (stats ignore deletion
   * vectors): all-physical-rows-match implies all-live-rows-match, so
   * a TRUE-proof on a masked file is still a valid drop.
   */
  private def classifyDeleteByStats(
      s: QbeastSnapshot,
      filtered: org.apache.spark.sql.DataFrame)
      : Option[(Vector[IndexFile], Vector[IndexFile])] = {
    val (hasScan, rawConjuncts) = optimizedUserConjuncts(filtered)
    if (!hasScan) return None
    // date-function predicates (year(ts)=…, trunc, cast-to-date)
    // rewrite to equivalent raw-column ranges the stats can prove, so
    // `DELETE WHERE year(ts) < 2020` still drops whole files; stats are
    // keyed by PHYSICAL names — rename logical plan attributes first
    val conjuncts = graft.read.DerivedPredicates.expand(s.schema match {
      case Some(sc) => ColumnMapping.toPhysicalExprs(rawConjuncts, sc)
      case None => rawConjuncts
    })
    // era gate: stats proofs on a widened column could be unsound —
    // fall back to the scan-based classification (always correct)
    if (eraBlockedConjuncts(s, conjuncts)) return None
    val provedTrue = Vector.newBuilder[IndexFile]
    val undecided = Vector.newBuilder[IndexFile]
    s.files.foreach { f =>
      val stats = f.stats.flatMap(graft.read.FileStatsPruning.parse)
      val proof: Option[Boolean] = stats match {
        case Some(st) =>
          val per = conjuncts.map(c => graft.read.FileStatsPruning.proveAll(st, c))
          if (per.exists(_.contains(false))) Some(false)
          else if (per.forall(_.contains(true))) Some(true)
          else None
        case None =>
          // no stats: only the trivially-true DELETE can still decide
          if (conjuncts.isEmpty) Some(true) else None
      }
      // a TRUE-proof is only a safe DROP when the live-row count is
      // exact: block element counts must agree with the stats row count
      // (and be known at all — converted/staging files can carry 0)
      val countExact = stats match {
        case Some(st) => f.elementCount == st.numRecords
        case None => f.elementCount > 0
      }
      proof match {
        case Some(true) if countExact => provedTrue += f
        case Some(false) => ()
        case _ => undecided += f
      }
    }
    Some((provedTrue.result(), undecided.result()))
  }

  private def splitAnd(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** The user-predicate conjuncts of a read+filter plan, extracted from
   * the OPTIMIZED plan (the q87 lesson: the analyzer wraps literals in
   * casts — `a <= cast(1000 as bigint)` — that the pruning layers'
   * Literal patterns don't match; constant folding restores the shape
   * the read path sees), minus the DvMaskRule-planted `NOT
   * dv_row_deleted` probe — read-path machinery, never the user's
   * predicate. Also reports whether the SCAN survived optimization: a
   * condition folding to false replaces the relation with an empty
   * LocalRelation, which a caller must not confuse with trivially-true
   * (no Filter left, scan intact). */
  private def optimizedUserConjuncts(
      filtered: org.apache.spark.sql.DataFrame)
      : (Boolean, Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = filtered.queryExecution.optimizedPlan
    // The classification contract needs the predicate to still BE a
    // Filter chain over the scan. A SUBQUERY predicate does not stay
    // one: the optimizer strips `coalesce(cond, false)`
    // (ReplaceNullWithFalseInPredicate) and rewrites IN/EXISTS to a
    // semi join (RewritePredicateSubquery) — the scan survives with
    // ZERO Filter conjuncts, indistinguishable from a trivially-true
    // condition, and plan.collect would even harvest the SUBQUERY's
    // internal Filters as if they constrained the outer table. Any
    // node other than the pure chain ⇒ report "no scan": every caller
    // then takes the real execution path (which runs the join
    // correctly) instead of proving files against the wrong predicate.
    val pure = plan.collectFirst {
      case p if !(p.isInstanceOf[Filter] || p.isInstanceOf[Project] ||
        p.isInstanceOf[SubqueryAlias] || p.isInstanceOf[LogicalRelation]) => p
    }.isEmpty
    val hasScan = pure &&
      plan.collectFirst { case _: LogicalRelation => () }.isDefined
    val conjuncts =
      if (!pure) Nil
      else plan.collect {
        case f: Filter => f.condition
      }.flatMap(splitAnd).filterNot(_.exists(
        _.isInstanceOf[graft.expressions.DvRowDeleted]))
    (hasScan, conjuncts)
  }

  /**
   * Fold every live file smaller than `smallFileSize` into the LATEST
   * revision in one index pass (the auto-compaction rewrite — see
   * [[AutoCompact]]). Unlike [[optimizeFiles]], which repacks each
   * file within its own revision, this collapses the per-micro-batch
   * revision fragmentation streaming ingest produces: the latest
   * revision's space supersedes the earlier ones (the
   * [[compactRevisions]] argument), so re-indexing the smalls against
   * it merges them into shared rollup files AND reduces the revision
   * walk. No-op below `minNumFiles` smalls or with no indexed
   * revision; layout-only commit (dataChange = false).
   */
  def compactSmallFiles(smallFileSize: Long, minNumFiles: Int): Unit = {
    val s = controlSnapshot()
    val latest = s.lastRevision.filterNot(_.isStaging).getOrElse(return)
    val small =
      if (s.filesComplete) s.files.filter(_.size < smallFileSize)
      else DistributedMetadata.filesSmallerThan(spark, s, smallFileSize)
    if (small.length < minNumFiles) return
    // PROGRESS GUARD: folding must actually reduce the file count.
    // Files already at their natural rollup size stay "small" forever
    // when cubeSize×row-width < smallFileSize — without this check
    // every later commit would rewrite the same files, quadratic write
    // amplification with no benefit. Staging files (no block counts)
    // are estimated at a full rollup each — over-estimating output
    // only ever SKIPS a compaction, never churns one.
    val rollupTarget = math.max(1L, latest.desiredCubeSize.toLong)
    val estRows = small.map(f =>
      if (f.elementCount > 0) f.elementCount else rollupTarget).sum
    val estOut = math.max(1L, (estRows + rollupTarget - 1) / rollupTarget)
    if (estOut * 2 > small.length) return
    rewrite(s, small, _ => latest)
  }

  /** The one maintenance rewrite: re-index `files` of `s` (each into the
   * revision `into` maps its revision ID to) in ONE write, run the
   * pre-commit `hooks` on the new files, and commit them in place of
   * `files` as a layout-only change. */
  private def rewrite(
      s: QbeastSnapshot,
      files: Seq[IndexFile],
      into: Long => Revision,
      hooks: Seq[graft.write.PreCommitHook] = Nil): Unit = {
    val adds = QbeastWriter.indexParts(spark, tablePath, rewriteParts(s, files, into))
    if (hooks.nonEmpty) graft.write.PreCommitHook.runHooks(hooks, spark, adds)
    commitRewrite(s, adds, files)
  }

  /** The [[QbeastWriter.IndexPart]]s that re-index `files` of `s`, read
   * through the replacement vectors `masks` when given, into the
   * revision `into` maps each file's revision ID to. One rule: rows that
   * stay in their own revision keep its FROZEN cube weights (they are
   * already in its subtree counts; re-estimating would double-count them
   * and wrongly subdivide), rows that move into another revision (staging
   * files, an older revision) are new to it and are estimated fresh,
   * their row count coming from the write's domain pass. */
  private def rewriteParts(
      s: QbeastSnapshot,
      files: Seq[IndexFile],
      into: Long => Revision,
      masks: Option[Map[String, String]] = None): Seq[QbeastWriter.IndexPart] =
    files.groupBy { f =>
      val target = into(f.revisionId).revisionID
      (target, f.revisionId == target)
    }.toSeq.map { case ((target, frozen), group) =>
      QbeastWriter.IndexPart(readTableFiles(s, group, masks), into(group.head.revisionId),
        Some(statusOf(s, target)), group.map(_.elementCount).sum, frozen = frozen,
        checked = false)
    }

  private def commitRewrite(
      s: QbeastSnapshot,
      adds: Seq[IndexFile],
      removes: Seq[IndexFile]): Unit = {
    val now = System.currentTimeMillis()
    val actions =
      adds.map(f => AddFileAction(f, dataChange = false)) ++
        removes.map(f => RemoveFileAction(RemoveFile(f.path, now, f.size)))
    // a rebase here is cheap (re-snapshot + re-commit, no
    // re-indexing). The rewrite is purely a layout change, so when a
    // concurrent commit touched a file it rewrites, dropping it is
    // always safe; our orphaned parquet files are reclaimed by vacuum.
    QbeastLog.commitOptimistic(s, conf, "OPTIMIZE") { base =>
      if ((base ne s) && !Rebase.untouched(s, base, removes.iterator.map(_.path))) None
      else Some(actions)
    }
  }

  /**
   * Row-level DELETE (the Delta-style design; the reference format is
   * append/overwrite-only). Discovery goes through the index-pruned read
   * path, so a predicate on indexed columns touches only the pruned file
   * set, and files whose stats prove every row matches drop unread. The
   * matched rows go to the one change kernel ([[applyChange]]), which
   * masks them or rewrites their files' survivors against the frozen
   * cube weights of their own revision. One atomic commit.
   *
   * @return number of rows deleted
   */
  def delete(condition: String): Long = mutate(expr(condition), None)

  /** [[delete]] with a pre-built condition (SQL `DELETE FROM` lands
   * here via `SupportsDelete.deleteWhere`). */
  private[graft] def deleteWhere(cond: Column): Long = mutate(cond, None)

  /**
   * Row-level UPDATE. `assignments` maps column name → SQL expression;
   * every right-hand side sees the PRE-update row (standard SQL UPDATE
   * semantics — assignments are simultaneous). The updated images go
   * through the normal revision logic, because an assignment to an
   * indexed column can move values outside the frozen space (then they
   * land in a new, merged-space revision — exactly what an append of
   * those rows would do); [[applyChange]] masks or rewrites the old rows.
   *
   * @return number of rows updated
   */
  def update(condition: String, assignments: Map[String, String]): Long =
    mutate(expr(condition), Some(assignments.map { case (k, v) => k -> expr(v) }))

  /** [[update]] with pre-built columns (SQL `UPDATE` lands here via
   * [[graft.rules.QbeastDmlRules]]). */
  private[graft] def updateWhere(cond: Column, assignments: Map[String, Column]): Long =
    mutate(cond, Some(assignments))

  /** DataFrame over EXACTLY the files of `s` through the index-pruned
   * scan path. Every pass of a mutation reads through this so the whole
   * operation sees ONE snapshot version — a plain
   * `read.format("qbeast")` would re-resolve the head per pass and a
   * concurrent commit between passes could silently drop rows from the
   * mutation's view (commit-time conflict checks then cover the rest). */
  private def pinnedRead(s: QbeastSnapshot): org.apache.spark.sql.DataFrame = {
    val fileIndex = new graft.read.QbeastFileIndex(spark, s)
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = fileIndex,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = s.schema.getOrElse(
        throw new IllegalStateException(s"qbeast table at $tablePath has no schema")),
      bucketSpec = None,
      fileFormat = new graft.sources.QbeastParquetFileFormat(s.schema
        .map(ColumnMapping.toPhysicalMap).getOrElse(Map.empty)),
      options = Map.empty[String, String])(spark)
    // explicit mask (not just DvMaskRule): DML correctness must not
    // depend on which rules the session happens to have registered
    graft.write.DeletionVectors.mask(s, conf,
      spark.baseRelationToDataFrame(relation))
  }

  /** Base names of the columns that stamp each changed row with its
   * file path and row index. [[freshNames]] makes them unique against
   * the frames' real columns, so a user column of the same name is never
   * replaced (withColumn semantics) and later dropped. */
  private val DvFileCol = "__qbeast_dv_file"
  private val DvIdxCol = "__qbeast_dv_idx"

  /** `bases` made unique, case-insensitively, against `taken` and each
   * other by appending underscores. */
  private def freshNames(taken: Seq[String], bases: String*): Seq[String] = {
    val used = mutable.Set(taken.map(_.toLowerCase): _*)
    bases.map { b =>
      var n = b
      while (used.contains(n.toLowerCase)) n += "_"
      used += n.toLowerCase
      n
    }
  }

  /** `df` with each row's file path and row index. File identity rides
   * `_metadata.file_path`, materialized at the scan — NOT
   * input_file_name(), which evaluates to "" after any shuffle, so a
   * subquery condition or a sort-merge key join would silently report
   * zero touched files (spec-pinned in DmlSpec under
   * autoBroadcastJoinThreshold=-1). */
  private def withIdentity(
      df: org.apache.spark.sql.DataFrame,
      fileCol: String,
      idxCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn(fileCol, col("_metadata.file_path"))
      .withColumn(idxCol, col("_metadata.row_index"))

  /** DELETE and UPDATE: the rows matching `cond` are the changed rows. */
  private def mutate(cond: Column, assignments: Option[Map[String, Column]]): Long = {
    val s = snapshot
    if (s.isEmpty || s.files.isEmpty) return 0L
    // generated columns are computed, never assigned (Delta refuses
    // identically); the updated images recompute them below
    assignments.foreach(a =>
      graft.write.GeneratedColumns.refuseAssignments(s.configuration, a.keys))
    // null condition rows are NOT matched (SQL three-valued logic)
    val matched = coalesce(cond, lit(false))
    val table = pinnedRead(s)

    // the changed rows are read once, but a nondeterministic predicate
    // or assignment has no single answer for the change feed, the
    // written images and a later re-run to agree on. Delta rejects
    // these up front; so do we. Determinism is only knowable AFTER
    // resolution (an unresolved rand() call reports deterministic), so
    // inspect the analyzed plans.
    val analyzedFilter = table.filter(matched).queryExecution.analyzed
    val nondetCond = analyzedFilter.expressions.exists(!_.deterministic)
    require(!nondetCond,
      "DELETE/UPDATE conditions must be deterministic (e.g. no rand()): " +
        "the change feed, the written row images and a later re-run of the " +
        "statement must all agree on which rows it matched")
    assignments.foreach { asgn =>
      val analyzedAssign =
        table.select(Assignments(table.schema, asgn): _*).queryExecution.analyzed
      require(analyzedAssign.expressions.forall(_.deterministic),
        "UPDATE assignments must be deterministic: assigned values are " +
          "recomputed per pass and must agree")
    }
    // ---- pass 0 (DELETE only): tri-state per-file stats proofs (the
    // q83 machinery) classify files WITHOUT reading them. TRUE-proved
    // files drop whole — a metadata-only remove, no rewrite, no data
    // I/O; FALSE-proved files are untouched; only undecided files pay
    // a scan. At 100 TB this is the retention delete `ts < cutoff`:
    // with file boundaries aligned to the predicate, the whole DELETE
    // is one driver-side log commit (Delta's metadata-only DELETE).
    val proved: Option[(Vector[IndexFile], Vector[IndexFile])] =
      if (assignments.isEmpty) classifyDeleteByStats(s, table.filter(matched)) else None
    // Narrowed discovery only when the proofs decided something (when
    // they dropped nothing the pinned full-table path is better: its
    // index+stats pruning already skips every FALSE-proved file). Proved
    // drops are never read, and a mask never covers 100% of a file's
    // rows (which would blow the masked-fraction budget).
    val narrowed = proved.filter { case (drop, und) => drop.nonEmpty || und.isEmpty }
    val (drops, domain) = narrowed.getOrElse((Vector.empty[IndexFile], s.files))
    val Seq(fileCol, idxCol) = freshNames(table.columns.toSeq, DvFileCol, DvIdxCol)
    // An UPDATE derives its new images from the old rows and a CDF feed
    // reads them in full, so those materialize them in the discovery
    // job. A plain DELETE keeps the narrow discovery scan over the
    // predicate columns: caching full rows nothing reads twice costs
    // more than it saves. Nothing is planned when the proofs dropped
    // every file.
    val release = mutable.Buffer.empty[() => Unit]
    lazy val old = {
      val rows = withIdentity(
        if (narrowed.isEmpty) table.filter(matched) else readTableFiles(s, domain).filter(matched),
        fileCol, idxCol)
      if (assignments.isDefined || cdfOn(s)) materialized(rows, release) else rows
    }
    try {
      // simultaneous assignments (top-level and struct fields); generated
      // columns recompute AFTER them, so a change to a referenced column
      // never leaves a stale value
      val written = assignments.map(asgn => graft.write.GeneratedColumns.recompute(
        old.drop(fileCol, idxCol).select(Assignments(table.schema, asgn): _*),
        s.configuration, s.schema))
      val change = if (domain.isEmpty) None
        else Some(Change(old, fileCol, idxCol, writesImages = assignments.isDefined))
      val (removed, n) = applyChange(s, if (assignments.isDefined) "UPDATE" else "DELETE",
        drops, change, written, "UPDATE-assigned")
      if (assignments.isDefined) n else removed
    } finally release.foreach(_())
  }

  /**
   * MERGE's `WHEN MATCHED THEN DELETE` form: drop every target row
   * whose `keys` appear in `source`. Only target files holding matched
   * keys are touched; duplicate source keys are fine (deletion is
   * unambiguous). One atomic commit.
   *
   * @return target rows deleted
   */
  def deleteMatched(source: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "deleteMatched needs at least one key column")
    val s = snapshot
    if (s.isEmpty || s.files.isEmpty) return 0L
    keyedChange(s, source.select(keys.map(col): _*), keys, "DELETE", None)._1
  }

  /** Table CHECK constraints in the ordered shape QbeastWriter.indexParts
   * expects for PER-ROW enforcement inside the write task — the
   * backstop that makes changed-row writes safe even when the driver-side
   * pre-validation ran against a different execution of the plan. */
  private def constraintsFor(s: QbeastSnapshot): Seq[(String, String)] =
    (graft.write.Constraints.of(s.configuration).toSeq ++
      graft.write.GeneratedColumns.checksFor(s.configuration, s.schema)).sortBy(_._1)

  /** Change data feed enabled for this snapshot (and writable — a
   * schema exists to shape the change file). */
  private def cdfOn(s: QbeastSnapshot): Boolean =
    s.configuration.get("qbeast.enableChangeDataFeed").contains("true") &&
      s.schema.nonEmpty

  /** ANSI store-assignment cast (Delta's insert-path resolution): cast
   * `src` to the table column's type, but FAIL on any row where a
   * non-null source value comes out null — a plain cast() would
   * silently write NULL for e.g. string 'abc' → int, corrupting data
   * instead of rejecting it. Implemented as try_cast + raise_error so
   * the check rides the write's own execution (no extra job). */
  private def storeAssignCast(src: Column, name: String, to: org.apache.spark.sql.types.DataType): Column = {
    val casted = src.try_cast(to)
    when(src.isNotNull && casted.isNull,
      raise_error(concat(
        lit("cannot write value '"), src.cast("string"),
        lit(s"' to column $name: not castable to ${to.sql}"))))
      .otherwise(casted).as(name)
  }

  /**
   * MERGE / upsert (Delta's `whenMatched updateAll / whenNotMatched
   * insertAll` form): source rows REPLACE target rows sharing the same
   * `keys`; source rows with no match are inserted. Only target files
   * holding matched keys are touched (discovered through the
   * index-pruned read path — with the merge keys indexed, a keyed
   * upsert touches a handful of files); all source rows go through the
   * normal revision-aware indexing, and everything lands in ONE atomic
   * commit.
   *
   * Duplicate source keys that MATCH a target row error out (Delta's
   * multiple-matches rule); duplicates matching nothing insert as-is.
   *
   * @return (target rows replaced, source rows written)
   */
  def upsert(source0: org.apache.spark.sql.DataFrame, keys: Seq[String]): (Long, Long) = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val s = snapshot
    require(!s.isEmpty && s.files.nonEmpty,
      s"upsert into an empty table at $tablePath: use a plain qbeast write")
    // align by NAME and cast to the table's TYPES (the same resolution
    // merge's insert path applies): writing a name-matched but
    // type-clashing source as-is would poison the shared parquet scan
    // schema for every future read. Store-assignment semantics: a
    // non-null value the cast can't represent FAILS the upsert instead
    // of silently becoming NULL.
    // materialized once (Delta materializes merge sources the same
    // way), by the first job that reads it: the source plan otherwise
    // re-executes for the discovery join, the stats pass, the write and
    // the feed — four runs of an arbitrary upstream plan per upsert (per
    // micro-batch on the CDC-apply path)
    val source = s.schema.map { existing =>
      val have = source0.schema.fieldNames.map(_.toLowerCase).toSet
      val want = existing.fieldNames.map(_.toLowerCase).toSet
      require(have == want,
        s"upsert source schema ${source0.schema.fieldNames.mkString(",")} does not " +
          s"match table schema ${existing.fieldNames.mkString(",")}")
      val srcTypes = source0.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      source0.select(existing.fields.map { f =>
        if (srcTypes(f.name.toLowerCase) == f.dataType) col(f.name).as(f.name)
        else storeAssignCast(col(f.name), f.name, f.dataType)
      }.toSeq: _*)
    }.getOrElse(source0).localCheckpoint(false)
    // generated columns: upsert source rows REPLACE target rows (insert
    // semantics), so supplied values are enforced, not recomputed
    try keyedChange(s, source.select(keys.map(col): _*), keys, "MERGE", Some(source),
      unique = Some("MERGE/upsert"))
    finally QbeastTable.releaseLocalCheckpoint(source)
  }

  /** The keyed verbs ([[upsert]], [[deleteMatched]]): the changed rows
   * are the target rows whose `keys` appear in `srcKeys`. A row-replacing
   * verb (`unique` set) joins them, so a target row two source rows
   * match shows up twice; a deleting one semi-joins them, which never
   * fans out. */
  private def keyedChange(
      s: QbeastSnapshot,
      srcKeys: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      operation: String,
      written: Option[org.apache.spark.sql.DataFrame],
      unique: Option[String] = None): (Long, Long) = {
    val table = pinnedRead(s)
    val Seq(fileCol, idxCol) = freshNames(table.columns.toSeq, DvFileCol, DvIdxCol)
    val identified = withIdentity(table, fileCol, idxCol)
    // a deleting verb with one key and a local source (rows in hand)
    // filters on the key values: the semi join's broadcast would run a
    // job of its own, since a broadcast collects even a local build side
    // through a job
    val localKey = unique.isEmpty && keys.size == 1 &&
      srcKeys.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val keyed = (
      if (localKey) identified.filter(col(Assignments.quoted(keys.head))
        .isin(srcKeys.collect().map(_.get(0)).distinct.toSeq: _*))
      else identified.join(srcKeys, keys, if (unique.isDefined) "inner" else "left_semi"))
      .select((table.columns.toSeq :+ fileCol :+ idxCol).map(c => col(Assignments.quoted(c))): _*)
    // a CDF feed reads the old rows in full after the discovery job
    val release = mutable.Buffer.empty[() => Unit]
    val old = if (cdfOn(s)) materialized(keyed, release) else keyed
    try applyChange(s, operation, Vector.empty, Some(Change(old, fileCol, idxCol,
      unique = unique)), written, "upsert source")
    finally release.foreach(_())
  }

  /** `df`'s rows computed once, by the first job that reads them, and
   * kept at the RDD level for every later plan; `release` collects the
   * unpersist. (A Dataset persist plans its cached query under adaptive
   * execution, where each exchange inside it costs a job of its own.) */
  private def materialized(
      df: org.apache.spark.sql.DataFrame,
      release: mutable.Buffer[() => Unit]): org.apache.spark.sql.DataFrame = {
    val rows = org.apache.spark.sql.GraftShims.executeOnce(df).map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    release += (() => { rows.unpersist(false); () })
    org.apache.spark.sql.GraftShims.frameOf(spark, rows, df.schema)
  }

  /**
   * General row-level MERGE (Delta's full clause surface): ordered
   * conditional WHEN MATCHED UPDATE/DELETE clauses, conditional WHEN NOT
   * MATCHED INSERT clauses, and WHEN NOT MATCHED BY SOURCE
   * UPDATE/DELETE. First applicable clause wins per row; rows no clause
   * touches survive unchanged.
   *
   * The target is joined once against the prefixed source (every target
   * row when NOT MATCHED BY SOURCE clauses are present, since those
   * inspect every target row); the rows a clause changes are the old
   * rows, and the clause images plus the inserts the written rows, all
   * handed to [[applyChange]] — one atomic commit.
   *
   * Matched/not-matched-by-source clause conditions and assignments are
   * evaluated over the joined row (source columns under `srcPrefix`);
   * insert clauses over the source frame alone. With matched clauses,
   * the source must be unique on the merge keys (Delta's
   * multiple-matches rule).
   *
   * @return (target rows removed or replaced, rows newly indexed)
   */
  def merge(
      source: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause],
      notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause],
      srcPrefix: String = "__src_"): (Long, Long) =
    mergeOn(source, keys.map(k => k -> k), matched, notMatched, notMatchedBySource, srcPrefix)

  /** [[merge]] with per-key (targetColumn, sourceColumn) name pairs, the
   * shape SQL `MERGE ... ON t.a = s.b` produces — Delta accepts
   * arbitrary equi-key names, so the SQL rule routes here. */
  def mergeOn(
      source0: org.apache.spark.sql.DataFrame,
      keyPairs: Seq[(String, String)],
      matched: Seq[MergeClause],
      notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause],
      srcPrefix: String = "__src_"): (Long, Long) = {
    require(keyPairs.nonEmpty, "merge needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "merge needs at least one WHEN clause")
    val keys = keyPairs.map(_._1) // target-side names
    val sourceKeys = keyPairs.map(_._2)
    val s = snapshot
    require(!s.isEmpty && s.files.nonEmpty,
      s"merge into an empty table at $tablePath: use a plain qbeast write")
    // materialized once by the first job that reads it (Delta
    // materializes merge sources the same way; upsert above too): the
    // source plan otherwise re-executes for the join and the insert-path
    // anti-join
    val source = source0.localCheckpoint(false)
    val tableSchema = s.schema.getOrElse(
      spark.read.format("qbeast").load(tablePath).schema)
    val targetCols = tableSchema.fieldNames.toSeq

    // frames materialized during the passes; released in the finally so
    // no exception path leaks block-manager entries
    val release = mutable.Buffer.empty[() => Unit]
    try {
      // without matched clauses no source payload is ever referenced —
      // join only the DISTINCT keys (renamed to the target-side names);
      // the full source keeps its own key names, so the join condition
      // maps per pair
      val srcJoinSide =
        if (matched.nonEmpty) source
        else source.select(keyPairs.map { case (t, sn) => col(sn).as(t) }: _*).distinct()
      val joinKeyNames = if (matched.nonEmpty) sourceKeys else keys
      val srcRenamed0 = srcJoinSide.columns.foldLeft(srcJoinSide) { (d, c) =>
        d.withColumnRenamed(c, srcPrefix + c)
      }
      // internal marker columns must not clobber a real column of
      // either side (a target column literally named __action is legal)
      val Seq(fileCol, idxCol, actionCol, present) = freshNames(
        targetCols ++ source.columns ++ srcRenamed0.columns,
        DvFileCol, DvIdxCol, "__action", srcPrefix + "__present")
      val srcRenamed = srcRenamed0.withColumn(present, lit(true))
      val joinCond = keys.zip(joinKeyNames)
        .map { case (t, sn) => col(t) === col(srcPrefix + sn) }.reduce(_ && _)

      // ---- per-row action resolution: first applicable clause wins.
      // Matched clause i → action i; NOT MATCHED BY SOURCE clause i →
      // action 1000+i; untouched rows → -1 ----
      val matchedFlag = coalesce(col(present), lit(false))
      var actionChain: Column = null
      def addClause(cond: Column, id: Int): Unit = {
        actionChain =
          if (actionChain == null) when(cond, lit(id)) else actionChain.when(cond, lit(id))
      }
      matched.zipWithIndex.foreach { case (cl, i) =>
        addClause(matchedFlag && coalesce(cl.condition.getOrElse(lit(true)), lit(false)), i)
      }
      notMatchedBySource.zipWithIndex.foreach { case (cl, i) =>
        addClause(!matchedFlag && coalesce(cl.condition.getOrElse(lit(true)), lit(false)),
          1000 + i)
      }
      val action = if (actionChain == null) lit(-1) else actionChain.otherwise(lit(-1))

      // the target joined once, cached by the discovery job: its
      // key-matched rows (every row with NOT MATCHED BY SOURCE clauses)
      // feed the discovery, the old rows, the clause images and the
      // insert-side anti-join
      val joined = materialized(withIdentity(pinnedRead(s), fileCol, idxCol)
        .join(srcRenamed, joinCond, if (notMatchedBySource.isEmpty) "inner" else "left")
        .withColumn(actionCol, action), release)
      val changed = col(actionCol) =!= -1
      val old = joined.filter(changed).select((targetCols :+ fileCol :+ idxCol).map(col): _*)

      // UPDATE-shaped clauses RECOMPUTE generated columns after the
      // assignments apply (SQL's SET * expands to every column before
      // reaching here, so an explicit-assignment refusal would break
      // legal SET * merges — the recompute makes the end state correct
      // either way); INSERT clauses must supply them and are gated per
      // row like any constraint
      val updates = (matched.zipWithIndex ++
        notMatchedBySource.zipWithIndex.map { case (cl, i) => (cl, 1000 + i) }).collect {
        case (cl, id) if cl.assignments.isDefined =>
          graft.write.GeneratedColumns.recompute(
            joined.filter(col(actionCol) === id)
              .select(Assignments(tableSchema, cl.assignments.get): _*),
            s.configuration, s.schema)
      }

      // ---- inserts: first applicable NOT MATCHED clause per unmatched
      // source row, evaluated over the source frame. Every target row
      // matching a source key is in `joined`, so anti-joining against
      // its keys equals anti-joining against the whole table ----
      val inserts: Seq[org.apache.spark.sql.DataFrame] =
        if (notMatched.isEmpty) Nil
        else {
          val tKeys = joined
            .select(keyPairs.map { case (t, sn) => col(t).as(sn) }: _*)
          val unmatchedSrc = source.join(tKeys, sourceKeys, "left_anti")
          var ic: Column = null
          notMatched.zipWithIndex.foreach { case (cl, i) =>
            val cond = coalesce(cl.condition.getOrElse(lit(true)), lit(false))
            ic = if (ic == null) when(cond, lit(i)) else ic.when(cond, lit(i))
          }
          val withAction = unmatchedSrc.withColumn(actionCol, ic.otherwise(lit(-1)))
          notMatched.zipWithIndex.map { case (cl, i) =>
            val asgn = cl.assignments.getOrElse(throw new UnsupportedOperationException(
              "MERGE WHEN NOT MATCHED clause must be an INSERT"))
            val asgnLower = asgn.map { case (k, v) => k.toLowerCase -> v }
            val cols = targetCols.map { c =>
              val e = asgnLower.getOrElse(c.toLowerCase,
                throw new UnsupportedOperationException(
                  s"MERGE INSERT must assign every target column (missing $c — use INSERT *)"))
              storeAssignCast(e, c, tableSchema(c).dataType)
            }
            withAction.filter(col(actionCol) === i).select(cols: _*)
          }
        }
      // the written rows are computed once, by the stats pass, and read
      // back by the write and the feed
      val written = (updates ++ inserts).reduceOption(_ unionByName _)
        .map(materialized(_, release))

      // discovery reads every key-matched row, changed or not: a target
      // row two source rows match breaks the multiple-matches rule even
      // when no clause applies to it
      val change = if (matched.isEmpty && notMatchedBySource.isEmpty) None
        else Some(Change(old, fileCol, idxCol,
          probe = Some(joined.filter(changed || matchedFlag)
            .select(col(fileCol), col(idxCol), changed)),
          unique = Some("MERGE with WHEN MATCHED clauses").filter(_ => matched.nonEmpty)))
      applyChange(s, "MERGE", Vector.empty, change, written, "MERGE-written")
    } finally {
      release.foreach(_())
      QbeastTable.releaseLocalCheckpoint(source)
    }
  }

  /** The rows a verb changes, against one snapshot: `old` holds the
   * table's columns plus each row's file path (`fileCol`) and row index
   * (`idxCol`). Discovery reads `probe` — (file path, row index, changed)
   * — when set, else every row of `old` as changed. `unique` names the
   * verb when a target row matched by two source rows is an error (the
   * multiple-matches rule). `writesImages`: the written rows are images
   * of the changed rows alone (UPDATE), so a change that touches no row
   * writes nothing. */
  private final case class Change(
      old: org.apache.spark.sql.DataFrame,
      fileCol: String,
      idxCol: String,
      probe: Option[org.apache.spark.sql.DataFrame] = None,
      unique: Option[String] = None,
      writesImages: Boolean = false)

  /**
   * The one row-level change kernel every DML verb lowers to. A verb
   * hands it, against snapshot `s`, the files stats PROVED fully deleted
   * (`drops`, dropped unread), its changed rows (`change`) and the rows
   * to write (`written`: updated images plus inserts).
   *
   * Every verb runs on a fixed job budget (the per-verb figures are
   * pinned by `DmlJobBudgetSpec`):
   *  1. discovery: one job groups the changed rows by file and writes
   *     each touched file's replacement deletion vector on the executors
   *     ([[discover]]); it also materializes the rows the verb cached;
   *  2. one pass over the written rows: row count, indexed min/max,
   *     constraint verdict and cube domains ([[QbeastWriter.analyze]]);
   *  3. one write of the unchanged rows of rewritten files and the
   *     written rows together (two jobs under adaptive execution: the
   *     write exchange and the writer stage);
   *  4. one job writing the change feed from the frames in hand.
   * A key join costs one more job, the broadcast of its build side.
   *
   * The strategy follows from the table and the change, never from the
   * verb. With nothing touched, no file is read: the drops leave the log
   * and any inserts are appended. With `deletionVectors` on and every
   * touched file within the masked-fraction budget, the replacement
   * vectors are committed. Otherwise copy-on-write: the touched files
   * are read through the replacement vectors, which leaves exactly
   * their unchanged rows, rewritten against their revision's frozen
   * cube weights; the touched files are removed and the vectors deleted.
   * Everything lands in one [[commitMutation]].
   *
   * @return (live rows removed or replaced, rows written)
   */
  private def applyChange(
      s: QbeastSnapshot,
      operation: String,
      drops: Vector[IndexFile],
      change: Option[Change],
      written0: Option[org.apache.spark.sql.DataFrame],
      writtenLabel: String): (Long, Long) = {
    val (vectors, repeated) = change match {
      case None => (Nil, false)
      case Some(c) => discover(s,
        c.probe.getOrElse(c.old.select(col(c.fileCol), col(c.idxCol), lit(true))))
    }
    // only a committed mask references its replacement vectors: after
    // a rewrite, or any failure on the way (a repeated match, constraint
    // violation, staging-only table, write error, conflict), they are
    // deleted
    var masked = false
    var committed = false
    try {
      change.flatMap(_.unique).foreach { verb =>
        require(!repeated, s"$verb requires the source to be unique on the merge " +
          "keys (multiple source rows matched one target row)")
      }
      val byName = s.files.map(f => new Path(f.path).getName -> f).toMap
      val touched = vectors.map(v => byName(v._1)).toVector
      val written = written0.filterNot(_ => touched.isEmpty && change.exists(_.writesImages))
      val maxFraction = spark.conf
        .getOption("spark.qbeast.dv.maxDeletedFraction").map(_.toDouble)
        .getOrElse(graft.write.DeletionVectors.MaxMaskedFraction)
      val worst = vectors.map { case (name, _, _, total) =>
        val f = byName(name)
        if (f.elementCount > 0) total.toDouble / f.elementCount else 0.0
      }.maxOption.getOrElse(0.0)
      // past the budget read amplification beats the skipped rewrite: a
      // mostly-deleted file is cheaper to rewrite than to keep masking
      masked = touched.nonEmpty && graft.write.DeletionVectors.enabled(s.configuration) &&
        worst <= maxFraction
      def indexSpace: Revision = s.lastRevision.filterNot(_.isStaging).getOrElse(
        throw new UnsupportedOperationException(s"$operation on a staging-only qbeast " +
          "table: append indexed data or optimize() first so written rows have an " +
          "index space to land in"))
      val replacements = vectors.map { case (name, rel, _, _) => name -> rel }.toMap
      // staging (unindexed) survivors fold into the latest indexed
      // revision — same move optimizeUnindexed makes
      val kept = if (masked) Nil else rewriteParts(s, touched,
        rid => if (rid == Revision.StagingID) indexSpace else s.revisions(rid),
        Some(replacements))
      val checks = constraintsFor(s)
      val analysis = written.map { df =>
        val a = QbeastWriter.analyze(spark, tablePath, df, Some(indexSpace),
          QbeastOptions(Map.empty[String, String]), checks, s.schema)
        a.violated.foreach { case (name, sql) =>
          throw new IllegalArgumentException(
            s"CHECK constraint $name ($sql) violated by $writtenLabel data")
        }
        a
      }
      val parts = kept ++ written.zip(analysis).map { case (df, a) =>
        QbeastWriter.IndexPart(df, a.revision,
          if (a.isNew) None else Some(s.indexStatus(a.revision.revisionID)),
          a.numElements, domains = a.domains)
      }
      // per-row backstop: the constraint verdict above came from a
      // SEPARATE job, and a source can draw different rows in another
      // execution
      val files = if (parts.isEmpty) Nil
        else QbeastWriter.indexParts(spark, tablePath, parts, constraints = checks)
      val n = analysis.map(_.numElements).getOrElse(0L)
      if (drops.isEmpty && touched.isEmpty && files.isEmpty) return (0L, 0L)

      val cdc = if (!cdfOn(s)) None else {
        val before = (change.filter(_ => touched.nonEmpty)
          .map(c => c.old.drop(c.fileCol, c.idxCol)).toSeq ++
          (if (drops.isEmpty) Nil else Seq(readTableFiles(s, drops))))
          .reduceOption(_ unionByName _)
        Some(persistCdc(s, changeFeed(before, written, diff = !masked,
          rows = vectors.map(_._3).sum + n)))
      }
      val dvActions = if (!masked) Nil else vectors.map { case (name, rel, _, total) =>
        DvFileAction(byName(name).path, rel, total)
      }
      val newRevision = analysis.filter(_.isNew).map(_.revision)
      commitMutation(s, files, newRevision, if (masked) drops else drops ++ touched,
        operation, dvActions, cdc)
      committed = true
      // element counts are PRE-mask: rows a vector had already removed
      // are not removed again
      val removed = drops.map(_.elementCount).sum -
        drops.iterator.flatMap(f => s.dvs.get(f.path)).map(_.cardinality).sum +
        vectors.map(_._3).sum
      logInfo(s"$operation on $tablePath: strategy " +
        (if (touched.isEmpty) "drop-only" else if (masked) "deletion-vectors"
          else "copy-on-write") +
        s", files dropped ${drops.size}, touched ${touched.size}, worst masked fraction " +
        f"$worst%.3f against spark.qbeast.dv.maxDeletedFraction $maxFraction%.3f, " +
        s"rows removed $removed, written $n, new revision " +
        newRevision.map(_.revisionID.toString).getOrElse("none"))
      (removed, n)
    } finally if (!(masked && committed)) dropDvVectors(vectors)
  }

  /** Discovery, the first job of every verb that changes rows: the
   * (file path, row index, changed) rows of `probe` grouped by file,
   * each file's changed indexes unioned with its current vector and
   * written as its replacement vector on the executors. The driver sees
   * one record per touched file: (file name, replacement vector path,
   * rows newly masked, rows masked after). Also reports whether a
   * (file, row index) pair repeats: a target row two source rows
   * matched. Replaced vectors are reclaimed by vacuum like removed data
   * files. */
  private def discover(
      s: QbeastSnapshot,
      probe: org.apache.spark.sql.DataFrame): (Seq[(String, String, Long, Long)], Boolean) = {
    import graft.write.DeletionVectors
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val tp = tablePath
    val existingDvByName: Map[String, String] =
      s.dvs.map { case (p, i) => new Path(p).getName -> i.dvPath }
    val rows = org.apache.spark.sql.GraftShims.executeOnce(probe)
    val byFile = rows.map { r =>
      val path = r.getUTF8String(0).toString
      (path.substring(path.lastIndexOf('/') + 1), (r.getLong(1), r.getBoolean(2)))
    }.groupByKey(math.max(1,
      math.min(rows.getNumPartitions, spark.conf.get("spark.sql.shuffle.partitions").toInt)))
    val found = byFile.map { case (name, ixs) =>
      val all = ixs.iterator.map(_._1).toArray
      java.util.Arrays.sort(all)
      val repeated = (1 until all.length).exists(i => all(i) == all(i - 1))
      val newIdx = ixs.iterator.collect { case (i, true) => i }.toArray.distinct
      java.util.Arrays.sort(newIdx)
      if (newIdx.isEmpty) (name, null, 0L, 0L, repeated)
      else {
        val merged = existingDvByName.get(name) match {
          case Some(old) =>
            DeletionVectors.union(DeletionVectors.read(tp, sconf.value, old), newIdx)
          case None => newIdx
        }
        val rel = DeletionVectors.write(tp, sconf.value, merged)
        (name, rel, newIdx.length.toLong, merged.length.toLong, repeated)
      }
    }.collect()
    (found.collect { case (name, rel, n, total, _) if rel != null => (name, rel, n, total) }.toSeq,
      found.exists(_._5))
  }

  /** A change's feed, built from the frames in hand, never from a
   * re-read of the written files: `before` holds the old images of the
   * changed and dropped rows, `after` the written rows. A mask deletes
   * every old row whatever replaces it, so the old rows are the deletes
   * and the written rows the inserts. A rewrite (`diff`) copied the
   * unchanged rows verbatim, so the file diff reduces to the multiset
   * net of the two sides ([[ChangeFeed.net]]): an identical old and new
   * row cancel. Its exchange runs inside the one job that writes the
   * feed. `rows` is the number of old and written rows. */
  private def changeFeed(
      before: Option[org.apache.spark.sql.DataFrame],
      after: Option[org.apache.spark.sql.DataFrame],
      diff: Boolean,
      rows: Long): org.apache.spark.sql.DataFrame = (before, after) match {
    case (Some(b), Some(a)) if diff =>
      val feed = ChangeFeed.net(a.withColumn(ChangeFeed.ChangeType, lit("insert"))
        .unionByName(b.withColumn(ChangeFeed.ChangeType, lit("delete"))))
      val out = org.apache.spark.sql.GraftShims.executeOnce(feed)
      // about as many files as adaptive execution would coalesce the
      // group-by's output to
      val advisory = org.apache.spark.sql.internal.SQLConf.get
        .getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val bytes = BigInt(rows) * a.schema.defaultSize
      val files = ((bytes + advisory - 1) / advisory)
        .min(BigInt(out.getNumPartitions)).max(BigInt(1)).toInt
      org.apache.spark.sql.GraftShims.frameOf(spark, out.coalesce(files), feed.schema)
    case _ =>
      (before.map(_.withColumn("_change_type", lit("delete"))).toSeq ++
        after.map(_.withColumn("_change_type", lit("insert")))).reduce(_ unionByName _)
  }

  /** Best-effort reclamation of replacement vectors no commit will
   * reference (over budget, or the mutation aborted). */
  private def dropDvVectors(written: Seq[(String, String, Long, Long)]): Unit = {
    val fs = new Path(tablePath).getFileSystem(conf)
    written.foreach { case (_, rel, _, _) =>
      try fs.delete(new Path(tablePath, rel), false)
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /**
   * The commit of every row-level mutation — copy-on-write (adds +
   * removes) and merge-on-read (dv actions, optionally with adds and
   * removes) alike — with all three [[Rebase]] rules. Benign conflicts
   * (unrelated appends) retry against the new version; a conflict that
   * touched one of OUR target files aborts (retrying would resurrect
   * deleted rows or double-apply changes). `cdcAction` is the change
   * file the caller already persisted: it rides every attempt and is
   * reclaimed on abort.
   */
  private def commitMutation(
      initial: QbeastSnapshot,
      adds0: Seq[IndexFile],
      newRevision0: Option[Revision],
      removes: Vector[IndexFile],
      operation: String,
      dvActions: Seq[LogAction],
      cdcAction: Option[LogAction]): Unit = {
    // DML pre-commit hooks: the same contract as the write/optimize
    // hooks (options-borne there), configured through the session conf
    // because the DML entry points (delete/update/merge) take no write
    // options. Run ONCE — after the mutation was computed against
    // `initial`, before any commit attempt — so a hook observes the
    // pre-commit state and can deterministically land concurrent
    // commits (the RobustnessSpec three-way race matrix rides this
    // seam). Hook TAGS are discarded on DML commits (no metadata action
    // to carry them); hooks run for their effects and validations.
    spark.conf.getOption(QbeastTable.DmlPreCommitHookKey).foreach { cls =>
      graft.write.PreCommitHook.runHooks(
        graft.write.PreCommitHook.loadHooks(Map("hook.dml" -> cls)),
        spark, adds0.toVector)
    }
    var adds = adds0
    var newRevision = newRevision0
    var checked = graft.write.Constraints.of(initial.configuration)
    val now = System.currentTimeMillis()
    def dropOrphanCdc(): Unit = cdcAction.foreach {
      case CdcFileAction(p, _) =>
        try new Path(tablePath).getFileSystem(conf)
          .delete(new Path(tablePath, p), true)
        catch { case scala.util.control.NonFatal(_) => }
      case _ =>
    }
    val targets = removes.map(_.path) ++
      dvActions.collect { case DvFileAction(p, _, _) => p }
    try QbeastLog.commitOptimistic(initial, conf, operation) { base =>
      if (base ne initial) {
        if (!Rebase.untouched(initial, base, targets.iterator))
          throw new java.util.ConcurrentModificationException(
            s"files targeted by $operation were rewritten, removed or " +
              "re-masked concurrently (optimize/overwrite/another DML); " +
              "re-run the operation")
        checked = Rebase.revalidate(spark, base, checked, initial.schema.get, adds,
          s"$operation (rebased)")
        val (r, f) = Rebase.renumber(base, newRevision, adds)
        newRevision = r
        adds = f
      }
      val actions = mutable.ArrayBuffer.empty[LogAction]
      newRevision.foreach { r =>
        actions += MetaDataAction(
          base.schema.map(_.json).getOrElse(""),
          base.configuration +
            ("qbeast.lastRevisionID" -> math.max(r.revisionID, base.lastRevisionID).toString))
        actions += RevisionAction(r)
      }
      actions ++= adds.map(f => AddFileAction(f, dataChange = true))
      actions ++= removes.map(f => RemoveFileAction(RemoveFile(f.path, now, f.size)))
      actions ++= dvActions
      actions ++= cdcAction
      Some(actions.toSeq)
    }
    catch { case e: Throwable => dropOrphanCdc(); throw e }
  }

  /**
   * Register a CHECK constraint (Delta's `ADD CONSTRAINT name CHECK
   * (expr)`): existing data is validated first — one scan, short-
   * circuiting on the first violation — then the constraint is
   * committed as the `qbeast.constraints.<name>` table property.
   * Every subsequent write (append/overwrite/streaming batch) and
   * every DML-written row is gated by one validation pass; rows a
   * rewrite merely carries (survivors) never re-pay. SQL-standard
   * semantics: TRUE and NULL pass, only FALSE violates.
   */
  def addConstraint(name: String, expression: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be alphanumeric, got '$name'")
    val key = graft.write.Constraints.Prefix + name
    // the "existing data satisfies the constraint" guarantee must hold
    // at the version the constraint COMMITS against, not merely at some
    // earlier read: a writer landing rows between our validation scan
    // and our commit slips in unvalidated otherwise. So every attempt
    // validates the head it commits against (the common
    // no-concurrency case pays exactly one scan).
    alterConfiguration({ base =>
      require(!base.configuration.contains(key), s"constraint $name already exists")
      graft.write.Constraints.validate(
        pinnedRead(base), Map(name -> expression), "existing table")
      base.configuration + (key -> expression)
    }, "ADD CONSTRAINT")
  }

  /** Drop a CHECK constraint; writes stop validating it immediately. */
  def dropConstraint(name: String): Unit = {
    val key = graft.write.Constraints.Prefix + name
    require(snapshot.configuration.contains(key), s"no constraint named $name")
    alterConfiguration(_.configuration - key, "DROP CONSTRAINT")
  }

  /** The table's CHECK constraints, name → SQL expression. */
  def constraints: Map[String, String] =
    graft.write.Constraints.of(snapshot.configuration)

  /** The table's generated columns, name → generation SQL (defined at
   * table creation via the `generatedColumns` write option or
   * `qbeast.generatedColumns.*` properties). */
  def generatedColumns: Map[String, String] =
    graft.write.GeneratedColumns.of(snapshot.configuration)

  /** Refuse a rename/drop/widen of a column some generation expression
   * references — the stored definition would silently derive from the
   * wrong (or a missing) column afterwards. */
  private def requireNoGeneratedRefs(
      cfg: Map[String, String], column: String, what: String): Unit = {
    val refs = graft.write.GeneratedColumns.referencing(spark, cfg, column)
    if (refs.nonEmpty) throw new UnsupportedOperationException(
      s"cannot $what column $column: generated column(s) " +
        s"${refs.mkString(", ")} reference it in their expressions; " +
        "recreate the table (overwriteSchema) to change it")
  }

  /** Carry the `qbeast.generatedColumns.<name>` definition across a
   * rename of the generated column itself, or drop it with the
   * column. */
  private def renameGenKey(
      cfg: Map[String, String], from: String, to: Option[String]): Map[String, String] = {
    val prefix = graft.write.GeneratedColumns.Prefix
    cfg.keys.find(k => k.startsWith(prefix) &&
      k.stripPrefix(prefix).equalsIgnoreCase(from)) match {
      case None => cfg
      case Some(k) => to match {
        case Some(n) => cfg - k + (prefix + n -> cfg(k))
        case None => cfg - k
      }
    }
  }

  // ---- logical→physical column mapping (RENAME / DROP COLUMN) --------

  /** Constraint names whose SQL references `column` (case-insensitive
   * top-level attribute match) — renames/drops of such columns are
   * refused rather than silently breaking the CHECK (Delta refuses the
   * same way). */
  private def constraintsReferencing(cfg: Map[String, String], column: String): Seq[String] =
    graft.write.Constraints.of(cfg).toSeq.collect {
      case (name, sql) if scala.util.Try {
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          // HEAD part: a nested reference (s.x) depends on column s too
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.exists(_.equalsIgnoreCase(column))
      }.getOrElse(true) => name // unparseable (shouldn't happen) → conservative
    }.map(_.toString)

  /** Rewrite a comma-separated column-list config value on rename/drop
   * (the bloom/HLL/KLL sketch column properties store LOGICAL names). */
  private def renameInList(v: String, from: String, to: Option[String]): String =
    v.split(",").map(_.trim).filter(_.nonEmpty).flatMap { c =>
      if (c.equalsIgnoreCase(from)) to else Some(c)
    }.mkString(",")

  private val SketchListProps =
    Seq("qbeast.bloomFilterColumns", "qbeast.hllColumns", "qbeast.kllColumns")

  /** Optimistic schema-change commit shared by [[renameColumn]],
   * [[dropColumn]] and [[widenColumn]]: `change` inspects the head
   * snapshot + schema and returns (new schema, new configuration) — or
   * None for a no-op. Validation failures propagate; a lost commit race
   * re-validates against the winner's state. */
  private def commitColumnChange(operation: String)(
      change: (QbeastSnapshot, org.apache.spark.sql.types.StructType) =>
        Option[(org.apache.spark.sql.types.StructType, Map[String, String])]): Unit = {
    val start = snapshot
    require(!start.isEmpty, s"no qbeast table at $tablePath")
    QbeastLog.commitOptimistic(start, conf, operation) { base =>
      val schema = base.schema.getOrElse(
        throw new IllegalStateException(s"qbeast table at $tablePath has no schema"))
      change(base, schema).map { case (newSchema, config) =>
        Seq(MetaDataAction(newSchema.json, config))
      }
    }
  }

  /** Refuse a rename/drop of a column some CHECK constraint references. */
  private def requireNoConstraintRefs(
      cfg: Map[String, String], column: String, what: String): Unit = {
    val refs = constraintsReferencing(cfg, column)
    if (refs.nonEmpty) throw new UnsupportedOperationException(
      s"cannot $what column $column: CHECK constraint(s) " +
        s"${refs.mkString(", ")} reference it; drop them first")
  }

  /** Rewrite the sketch column-list properties on a rename/drop and tag
   * the table as column-mapped. */
  private def mappedConfig(
      cfg: Map[String, String], from: String, to: Option[String]): Map[String, String] =
    cfg.map {
      case (k, v) if SketchListProps.contains(k) => k -> renameInList(v, from, to)
      case kv => kv
    } + ("qbeast.columnMapping.mode" -> "name")

  /**
   * `ALTER TABLE ... RENAME COLUMN` for a qbeast table — a metadata-only
   * commit under logical→physical column mapping (the Delta
   * `columnMapping = name` design; the reference refuses renames because
   * its per-file stats are name-keyed). The first rename UPGRADES the
   * schema by pinning `physical := current name` on every field; the
   * rename itself then only changes the logical name. Parquet files,
   * stats, blooms, sketches and revision transformers all stay keyed by
   * the immutable physical name, so file pruning and pushdown keep
   * working; scans resolve physical and expose logical (see
   * QbeastParquetFileFormat).
   */
  def renameColumn(existingName: String, newName: String): Unit = {
    require(newName.nonEmpty && !newName.contains(".") && !newName.contains(","),
      s"bad column name '$newName'")
    commitColumnChange(s"RENAME COLUMN $existingName TO $newName") { (base, schema) =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(existingName)).getOrElse(
        throw new IllegalArgumentException(
          s"column $existingName does not exist (have ${schema.fieldNames.mkString(", ")})"))
      if (newName == field.name) None // no-op
      else {
        schema.fields.find(f => (f ne field) && f.name.equalsIgnoreCase(newName)).foreach(_ =>
          throw new IllegalArgumentException(s"column $newName already exists"))
        ColumnMapping.requireNoPhysicalClash(schema, newName, self = field.name)
        requireNoConstraintRefs(base.configuration, field.name, "rename")
        requireNoGeneratedRefs(base.configuration, field.name, "rename")
        val renamed = org.apache.spark.sql.types.StructType(
          ColumnMapping.upgraded(schema).fields.map { f =>
            if (f.name.equalsIgnoreCase(existingName)) f.copy(name = newName) else f
          })
        // renaming a GENERATED column carries its definition along
        Some((renamed,
          renameGenKey(mappedConfig(base.configuration, field.name, Some(newName)),
            field.name, Some(newName))))
      }
    }
  }

  /**
   * `ALTER TABLE ... DROP COLUMN` — metadata-only under column mapping:
   * the logical field disappears; the physical column stays in old
   * files, unreachable (scans project only logical fields), and a
   * later ADD COLUMN of the same logical name mints a FRESH physical
   * name so the old data can never resurface. Refused for indexed
   * columns (appends must carry them to place rows) and for columns a
   * CHECK constraint references.
   */
  def dropColumn(name: String): Unit = {
    commitColumnChange(s"DROP COLUMNS $name") { (base, schema) =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist (have ${schema.fieldNames.mkString(", ")})"))
      require(schema.fields.length > 1, s"cannot drop the only column ${field.name}")
      val physical = ColumnMapping.physicalName(
        ColumnMapping.upgraded(schema).fields.find(_.name == field.name).get)
      base.lastRevision.filterNot(_.isStaging).foreach { rev =>
        if (rev.columnNames.exists(_.equalsIgnoreCase(physical)))
          throw new UnsupportedOperationException(
            s"cannot drop indexed column ${field.name}: the table is organized " +
              "by it (appends must carry it to place rows). Re-index with " +
              "different columnsToIndex first (overwrite), then drop.")
      }
      requireNoConstraintRefs(base.configuration, field.name, "drop")
      requireNoGeneratedRefs(base.configuration, field.name, "drop")
      val remaining = org.apache.spark.sql.types.StructType(
        ColumnMapping.upgraded(schema).fields.filterNot(_.name == field.name))
      // dropping a GENERATED column drops its definition with it
      Some((remaining,
        renameGenKey(mappedConfig(base.configuration, field.name, None),
          field.name, None)))
    }
  }

  /**
   * `ALTER TABLE ... ALTER COLUMN ... TYPE <wider>` — type widening as
   * a metadata-only commit (the Delta `typeWidening` design; see
   * [[graft.core.model.TypeWidening]] for the probe-verified matrix
   * and the era gates). Old files keep the narrow parquet type and the
   * scan upcasts per batch; the field records the change in its
   * metadata so stats/bloom/HLL/KLL consumers can gate the narrow-era
   * state. Refused outside the matrix, for HASH-transformed indexed
   * columns (the recorded transformation hashes probe literals at the
   * narrow type), and for indexed columns on the unit-changing
   * `date → timestamp_ntz` move (old cube coordinates are days, new
   * predicates micros).
   */
  def widenColumn(name: String, newType: org.apache.spark.sql.types.DataType): Unit = {
    commitColumnChange(s"ALTER COLUMN $name TYPE ${newType.simpleString}") { (base, schema) =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist (have ${schema.fieldNames.mkString(", ")})"))
      if (field.dataType == newType) None // no-op (a retried ALTER must converge)
      else {
        val gens = graft.write.GeneratedColumns.of(base.configuration)
        if (gens.nonEmpty && graft.write.GeneratedColumns
            .typeProtected(spark, gens).contains(field.name.toLowerCase(java.util.Locale.ROOT)))
          throw new UnsupportedOperationException(
            s"cannot widen column ${field.name}: a generated column produces " +
              "or references it, and the widen could change computed values " +
              "through the enforcement cast. Recreate the table to change it.")
        TypeWidening.requireWidenable(field.name, field.dataType, newType)
        TypeWidening.requireIndexSafe(field.name,
          ColumnMapping.physicalOf(schema, field.name),
          field.dataType, newType, base.revisions.values)
        val widened = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
          if (f.name.equalsIgnoreCase(name))
            TypeWidening.withTypeChange(f, newType, base.version + 1)
          else f
        })
        Some((widened, base.configuration))
      }
    }
  }

  /** Commit a configuration change, re-derived from each head the
   * commit is attempted against. */
  private def alterConfiguration(
      change: QbeastSnapshot => Map[String, String],
      operation: String): Unit = {
    val start = snapshot
    require(!start.isEmpty, s"no qbeast table at $tablePath")
    QbeastLog.commitOptimistic(start, conf, operation) { base =>
      Some(Seq(MetaDataAction(base.schema.map(_.json).getOrElse(""), change(base))))
    }
  }

  /** Persist a DML commit's change frame (table columns +
   * `_change_type`) under `_change_data/` and return its `cdc` log
   * action — Delta's AddCDCFile shape. Readers ([[graft.cdf.ChangeFeed]])
   * then consume a plain file read instead of re-diffing the rewritten
   * files. The only writer under `_change_data/`. */
  private def persistCdc(
      s: QbeastSnapshot,
      changed: org.apache.spark.sql.DataFrame): LogAction = {
    val schema = s.schema.getOrElse(
      throw new IllegalStateException(s"qbeast table at $tablePath has no schema"))
    val dir = s"_change_data/cdc-${java.util.UUID.randomUUID()}"
    val target = new Path(tablePath, dir)
    // change files are keyed by PHYSICAL names: stable across renames,
    // so a CDF replay spanning a rename still resolves every column
    // (readers rename back to the END version's logical names)
    ColumnMapping.toPhysicalDf(changed, schema).write.mode("overwrite")
      .parquet(target.toString)
    val fs = target.getFileSystem(conf)
    val size = fs.listStatus(target).filter(_.isFile).map(_.getLen).sum
    CdcFileAction(dir, size)
  }

  /**
   * Restore the table to its state at log `version` as a NEW commit
   * (time-travel write-back, the Delta RESTORE shape): files added
   * since then are removed, files removed since then are re-added, and
   * schema/configuration revert to the target version. Metadata-only —
   * no data is rewritten — so it requires the resurrected files to
   * still exist on disk (i.e. not vacuumed past the retention window).
   * History is preserved: the restore itself is one more log version,
   * so it can in turn be time-traveled or restored away.
   */
  def restoreToVersion(version: Long): Unit = {
    val current = snapshot
    require(version >= 0 && version <= current.version,
      s"cannot restore to version $version: table is at ${current.version}")
    if (version == current.version) return
    val target = QbeastLog.snapshot(tablePath, conf, asOfVersion = version)
    val targetPaths = target.files.map(_.path).toSet
    val fs = new Path(tablePath).getFileSystem(conf)

    // RESTORE declares "the content is exactly version `version`": the
    // add/remove diff is recomputed against whatever head the commit
    // lands on, so a concurrent commit in the retry window is rolled
    // back by the restore rather than silently corrupting the diff
    // (Delta's RESTORE resolves the same race the same way)
    QbeastLog.commitOptimistic(current, conf, "RESTORE") { base =>
      val basePaths = base.files.map(_.path).toSet
      val resurrect = target.files.filterNot(f => basePaths.contains(f.path))
      // only files ABSENT from the head we commit against can have been
      // vacuumed (live files are never deleted), so the existence check
      // is O(resurrected), not O(table) — and it must run per attempt:
      // a concurrent remove + vacuum inside the retry window could
      // delete a file that was live at the previous check
      resurrect.foreach { f =>
        require(fs.exists(new Path(tablePath, f.path)),
          s"cannot restore to version $version: data file ${f.path} was vacuumed")
      }
      val drop = base.files.filterNot(f => targetPaths.contains(f.path))
      // deletion-vector reconciliation: the restored content includes
      // the TARGET's masks, not the head's. A file whose mask must be
      // (re)set gets a dv action (vector file existence checked — a
      // replaced vector is vacuumable); a file that must LOSE its head
      // mask is re-added (replay clears a dv on add). Removed and
      // resurrected files clear/set through the same replay rules.
      val setDvs = target.dvs.toSeq.filter { case (p, info) =>
        targetPaths.contains(p) && !base.dvs.get(p).contains(info)
      }
      setDvs.foreach { case (_, info) =>
        require(fs.exists(new Path(tablePath, info.dvPath)),
          s"cannot restore to version $version: deletion vector " +
            s"${info.dvPath} was vacuumed")
      }
      val clearDvs = base.files.filter(f =>
        targetPaths.contains(f.path) && base.dvs.contains(f.path) &&
          !target.dvs.contains(f.path))
      val targetByPath = target.files.map(f => f.path -> f).toMap
      val now = System.currentTimeMillis()
      Some(target.schema.map(sc => MetaDataAction(sc.json, target.configuration)).toSeq ++
        resurrect.map(f => AddFileAction(f, dataChange = true)) ++
        clearDvs.map(f => AddFileAction(targetByPath(f.path), dataChange = true)) ++
        drop.map(f => RemoveFileAction(RemoveFile(f.path, now, f.size))) ++
        setDvs.map { case (p, i) => DvFileAction(p, i.dvPath, i.cardinality) })
    }
  }

  /** The committed log versions (oldest first) with their timestamps
   * and a coarse operation summary — the DESCRIBE HISTORY surface. */
  def history(): Seq[HistoryEntry] = {
    val dir = QbeastLog.logDir(tablePath)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".json") && !n.endsWith(".checkpoint.json") &&
          n.stripSuffix(".json").forall(_.isDigit)
      }
      .sortBy(_.getPath.getName)
      .map { st =>
        val version = st.getPath.getName.stripSuffix(".json").toLong
        var adds = 0
        var removes = 0
        var newRevision = false
        var recordedOp: Option[String] = None
        var recordedTs: Option[Long] = None
        val in = fs.open(st.getPath)
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        try {
          var line = reader.readLine()
          while (line != null) {
            // each line is one action object with a single top-level key
            if (line.startsWith("{\"add\":")) adds += 1
            else if (line.startsWith("{\"remove\":")) removes += 1
            else if (line.startsWith("{\"revision\":")) newRevision = true
            else if (line.startsWith("{\"commitInfo\":"))
              QbeastLogSerde.parseLine(line, _ => 1) match {
                // empty op = a commit that recorded only its in-commit
                // timestamp; the operation stays inferred below
                case CommitInfoAction(op, ts) =>
                  if (op.nonEmpty) recordedOp = Some(op)
                  recordedTs = Some(ts)
                case _ =>
              }
            line = reader.readLine()
          }
        } finally reader.close()
        // prefer the recorded operation; infer from action counts only
        // for logs written before commitInfo existed
        val op = recordedOp.getOrElse {
          if (adds > 0 && removes > 0) "REWRITE"
          else if (removes > 0) "DELETE"
          else if (adds > 0) "WRITE"
          else "METADATA"
        }
        // in-commit timestamp wins: it survives object-store migrations
        // that rewrite file mtimes and is monotonic across the history
        HistoryEntry(version, recordedTs.getOrElse(st.getModificationTime),
          op, adds, removes, newRevision)
      }
  }

  /**
   * Change data feed: the row-level changes each commit in
   * `[startVersion, endVersion]` made to the table: the union of the
   * commits' [[graft.cdf.ChangeFeed]] units, with the deletion-vector
   * state advanced commit by commit. A commit that persisted its change
   * data reads it; any other commit's feed is derived from its file
   * diff, so the replay also works retroactively on tables that never
   * enabled the feed (Delta's CDF requires opting in BEFORE the change).
   *
   * Output: the table schema (pinned at `endVersion`, so columns added
   * by schema evolution read as null from pre-evolution files) plus
   * `_change_type` ('insert' | 'delete') and `_commit_version`.
   * Removed files must still exist — a version range that reaches
   * behind `vacuum` fails with the missing file named.
   */
  def changes(startVersion: Long, endVersion: Long = -1L): org.apache.spark.sql.DataFrame = {
    val head = snapshot
    require(!head.isEmpty, s"no qbeast table at $tablePath")
    val end = if (endVersion < 0L) head.version else endVersion
    require(startVersion >= 0L && startVersion <= end && end <= head.version,
      s"changes($startVersion, $endVersion): table is at version ${head.version}")
    val endSnap =
      if (end == head.version) head
      else QbeastLog.snapshot(tablePath, conf, asOfVersion = end)
    val schema = endSnap.schema.getOrElse(
      throw new IllegalStateException(s"qbeast table at $tablePath has no schema"))
    val preStart =
      if (startVersion > 0)
        Some(QbeastLog.lightSnapshot(tablePath, conf, asOfVersion = startVersion - 1))
      else None
    var dvs = preStart.fold(Map.empty[String, String])(
      _.dvs.map { case (p, i) => new Path(p).getName -> i.dvPath })

    // Type-widening era guard: every file this replay reads must be
    // readable under the END schema. That holds whenever each era's
    // types UPCAST into the end types (narrow-era files read wide). It
    // breaks when a RESTORE inside the range rolled the schema back past
    // a widening: refuse NAMED rather than crash in the scan or silently
    // narrow values (Delta's CDF refuses such ranges the same way). A
    // commit's removed files and kept files' vectors were written under
    // the era before it; its added files and change files under the era
    // it sets.
    var era = preStart.flatMap(_.schema)
    def requireEraReadable(v: Long): Unit = era.foreach(ChangeFeed.requireUpcast(_, schema) {
      (f, e) =>
        s"changes($startVersion, $end): version $v wrote column " +
          s"${f.name} as ${f.dataType.simpleString}, but the end " +
          s"schema (version $end) reads it as ${e.dataType.simpleString} " +
          "— the range crosses a type change that cannot upcast (a " +
          "RESTORE rolled back past a type widening). Replay with " +
          "endVersion inside the widened era, or read versions " +
          "individually with versionAsOf."
    })
    val units = (startVersion to end).flatMap { v =>
      val c = ChangeFeed.decode(v,
        QbeastLog.commitActions(tablePath, conf, v, endSnap.revisions), dvs.get)
      import graft.cdf.FeedUnit._
      if (c.units.exists { case _: ChangeFile | _: Inserted => false; case _ => true })
        requireEraReadable(v)
      era = c.schema.orElse(era)
      if (c.units.exists { case _: Removed | _: VectorDelta => false; case _ => true })
        requireEraReadable(v)
      dvs = c.advance(dvs)
      c.units
    }
    new ChangeFeed.Reader(spark, tablePath, conf, schema,
      msg => new IllegalArgumentException(s"changes($startVersion, $end): $msg")).frame(units)
  }

  /** Per-depth tree statistics (reference: IndexMetrics SizeStats per
   * level): cube/block/element counts, cube-size spread and the mean
   * max-weight fraction, which shows how the sampling thresholds
   * deepen. */
  def depthMetrics(revisionID: Long = -1L): Seq[DepthStats] = {
    val s = controlSnapshot()
    val rid = if (revisionID < 0) s.lastRevisionID else revisionID
    val statuses = statusOf(s, rid).cubeStatuses.values.toSeq
    val blocksByDepth: Map[Int, Long] =
      if (s.filesComplete)
        s.filesOfRevision(rid).flatMap(_.blocks)
          .groupBy(_.cube.depth).view.mapValues(_.size.toLong).toMap
      else DistributedMetadata.blocksPerDepth(spark, s, rid)
    statuses.groupBy(_.cubeId.depth).toSeq.sortBy(_._1).map { case (depth, cubes) =>
      val counts = cubes.map(_.elementCount)
      DepthStats(
        depth = depth,
        cubeCount = cubes.size,
        blockCount = blocksByDepth.getOrElse(depth, 0L).toInt,
        elementCount = counts.sum,
        minCubeElementCount = counts.min,
        maxCubeElementCount = counts.max,
        avgMaxWeightFraction =
          cubes.map(_.maxWeight.fraction).sum / cubes.size)
    }
  }

  /** Delta's `DeltaTable.generate(mode)` spelling: validates the mode
   * and delegates to [[generateSymlinkManifest]]. */
  def generate(mode: String): Int = {
    require(mode.equalsIgnoreCase("symlink_format_manifest"),
      s"unsupported generate mode '$mode' (only symlink_format_manifest)")
    generateSymlinkManifest()
  }

  /** Delete data files that are no longer referenced by the log (orphans
   * from lost commit races, removed files from overwrite/optimize).
   * Keeps anything newer than `retainMillis` so files a concurrent
   * writer created but has not committed yet survive (default 7 days,
   * like Delta). Retentions below [[QbeastTable.MinRetentionMillis]]
   * require `force = true` — a zero-retention vacuum racing an
   * in-flight writer silently loses that writer's data. */
  def vacuum(
      retainMillis: Long = QbeastTable.DefaultRetentionMillis,
      force: Boolean = false): Int = {
    require(retainMillis >= QbeastTable.MinRetentionMillis || force,
      s"retainMillis=$retainMillis is below the safe minimum " +
        s"${QbeastTable.MinRetentionMillis}; pass force=true to override")
    val s = snapshot
    // match on basenames (writer-generated UUIDs, flat layout): an
    // absolute (cloned) reference that happens to point into this very
    // directory must still count as live
    val live = s.files.map(f => new Path(f.path).getName).toSet
    val dir = new Path(tablePath)
    val fs = dir.getFileSystem(conf)
    val cutoff = System.currentTimeMillis() - retainMillis
    // Retention must key on WHEN a file became dead (its remove
    // action's deletionTimestamp — Delta vacuums by tombstone time),
    // not on when it was written: an old file deleted a minute ago is
    // still inside every reader's retention window. One pass over the
    // commit log collects removal times; files the log never removed
    // (orphans from crashed writes) fall back to modification time.
    // The same pass maps each change-data directory to its commit's
    // timestamp so the feed expires with the data files it describes.
    val removedAt = mutable.HashMap.empty[String, Long]
    val cdcCommittedAt = mutable.HashMap.empty[String, Long]
    QbeastLog.commitVersions(tablePath, conf).foreach { v =>
      QbeastLog.commitActions(tablePath, conf, v, s.revisions).foreach {
        case RemoveFileAction(r) =>
          removedAt.update(new Path(r.path).getName, r.deletionTimestamp)
        case CdcFileAction(p, _) =>
          cdcCommittedAt.update(new Path(p).getName,
            QbeastLog.commitTimestamp(tablePath, conf, v))
        case _ =>
      }
    }
    // candidate collection is metadata-bound (one directory listing);
    // the DELETES are the scale problem — object-store deletes cost
    // tens of ms each, so past a threshold they run as a Spark job
    val candidates = Vector.newBuilder[(String, Boolean)]
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") && !live.contains(name) &&
        removedAt.getOrElse(name, st.getModificationTime) < cutoff) {
        candidates += ((st.getPath.toString, false))
      }
    }
    // change-data files serve only CDF readers and are never "live":
    // they expire with the retention window measured from their
    // commit, like the removed files whose diff they describe
    val cdcRoot = new Path(dir, "_change_data")
    if (fs.exists(cdcRoot)) {
      fs.listStatus(cdcRoot).foreach { st =>
        val at = cdcCommittedAt.getOrElse(st.getPath.getName, st.getModificationTime)
        if (at < cutoff) candidates += ((st.getPath.toString, true))
      }
    }
    // deletion vectors: live = referenced by the current snapshot;
    // replaced vectors (a later DELETE re-masked the file) and vectors
    // of since-rewritten files expire with the retention window
    val dvRoot = new Path(dir, graft.write.DeletionVectors.DirName)
    if (fs.exists(dvRoot)) {
      val liveDvs = s.dvs.values.map(i => new Path(i.dvPath).getName).toSet
      fs.listStatus(dvRoot).foreach { st =>
        if (st.isFile && !liveDvs.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff) {
          candidates += ((st.getPath.toString, false))
        }
      }
    }
    val deleted = deleteBatch(candidates.result())
    // sidecar housekeeping: parquet checkpoints older than the newest
    // one only serve time travel, which degrades safely to the flat path
    graft.log.FileCheckpoint.pruneOld(fs, tablePath,
      QbeastLog.latestCheckpointVersion(tablePath, conf), conf)
    deleted
  }

  /** Delete `paths` ((absolute path, recursive) pairs): a driver loop
   * for small batches, an executor-parallel Spark job past
   * `spark.qbeast.vacuum.distributedThreshold` (default 1000) — at
   * 100 TB a vacuum reclaims millions of dead files and sequential
   * driver-side deletes against an object store take hours where the
   * distributed pass takes minutes (Delta's vacuum makes the same
   * move). Returns how many paths were actually deleted. */
  private def deleteBatch(paths: Vector[(String, Boolean)]): Int = {
    if (paths.isEmpty) return 0
    val threshold = spark.conf
      .getOption("spark.qbeast.vacuum.distributedThreshold")
      .map(_.toInt).getOrElse(1000)
    if (paths.size < threshold) {
      val fs = new Path(tablePath).getFileSystem(conf)
      paths.count { case (p, rec) =>
        try fs.delete(new Path(p), rec)
        catch { case scala.util.control.NonFatal(_) => false }
      }
    } else {
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      // ~1000 deletes per task amortizes task overhead; capped so tiny
      // clusters don't see thousands of single-file tasks
      val parts = math.max(1, math.min(paths.size / 1000 + 1,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext.parallelize(paths, parts).mapPartitions { it =>
        var n = 0
        var fsx: org.apache.hadoop.fs.FileSystem = null
        it.foreach { case (p, rec) =>
          val path = new Path(p)
          if (fsx == null) fsx = path.getFileSystem(sconf.value)
          try { if (fsx.delete(path, rec)) n += 1 }
          catch { case scala.util.control.NonFatal(_) => }
        }
        Iterator.single(n)
      }.sum().toInt
    }
  }

  /**
   * Shallow clone: create an independent qbeast table at `targetPath`
   * whose metadata (schema, configuration, revisions) is copied and
   * whose add actions reference the source's CURRENT data files by
   * absolute path — zero data copied, O(#files) metadata work, exactly
   * Delta's `SHALLOW CLONE`. Every path-resolution site already
   * resolves `new Path(tablePath, f.path)`, and Hadoop resolves an
   * absolute child against any parent by keeping the child, so clones
   * read through the normal pruned path untouched.
   *
   * The clone is fully independent from the first commit on: appends,
   * DML and optimize write NEW files under `targetPath` and only drop
   * absolute references from the clone's log — the source's files are
   * never rewritten or physically deleted by the clone (its `vacuum`
   * lists only `targetPath`). Symmetric caveat as Delta: vacuuming the
   * SOURCE can reclaim files a clone still references; clones are
   * snapshots for experimentation, not backups.
   */
  def cloneTo(targetPath: String): QbeastTable = {
    val s = snapshot
    require(!s.isEmpty, s"no qbeast table to clone at $tablePath")
    require(QbeastLog.snapshot(targetPath, conf).isEmpty,
      s"cannot clone into $targetPath: a qbeast table already exists there")
    val srcDir = new Path(tablePath)
    val fs = srcDir.getFileSystem(conf)
    val qualifiedSrc = fs.makeQualified(srcDir)
    val absoluteAdds = s.files.map { f =>
      val p = new Path(qualifiedSrc, f.path)
      AddFileAction(f.copy(path = p.toUri.toString), dataChange = true)
    }
    // deletion vectors clone by absolute reference exactly like data
    // files: the dv action's key must match the cloned add's path, and
    // the vector path resolves absolutely from the clone's root
    val absoluteDvs = s.dvs.toSeq.map { case (p, i) =>
      DvFileAction(
        new Path(qualifiedSrc, p).toUri.toString,
        new Path(qualifiedSrc, i.dvPath).toUri.toString,
        i.cardinality)
    }
    val actions: Seq[LogAction] =
      s.schema.map(sc => MetaDataAction(sc.json, s.configuration)).toSeq ++
        s.revisions.values.toSeq.sortBy(_.revisionID).map(RevisionAction) ++
        absoluteAdds ++ absoluteDvs
    QbeastLog.commit(targetPath, conf, -1L, actions, operation = "CLONE")
    QbeastTable.forPath(spark, targetPath)
  }

  /** Write `_symlink_format_manifest/manifest` — one absolute URI per
   * live data file of the current snapshot — so engines that cannot
   * read the commit log (Presto/Trino/Hive/DuckDB glob readers)
   * consume a consistent table snapshot (Delta's
   * `GENERATE symlink_format_manifest` equivalent). Written atomically
   * (tmp + rename), so a concurrent reader sees the old complete
   * manifest or the new one, never a torn file. Returns the number of
   * files listed. The manifest pins a snapshot: files it references
   * survive vacuum only while still live, exactly like Delta — rerun
   * after every commit that should be published. */
  def generateSymlinkManifest(): Int = {
    val s = snapshot
    // a manifest reader applies no deletion vectors — publishing one
    // for a masked table would resurrect deleted rows for every
    // external engine (Delta refuses identically); purge first
    require(s.dvs.isEmpty,
      "cannot generate a symlink manifest while deletion vectors mask rows " +
        "(external readers would resurrect deleted rows); run " +
        "REORG ... APPLY (PURGE) first")
    // a manifest reader resolves parquet columns by their PHYSICAL
    // names — after a RENAME those differ from the table's logical
    // schema, and an external engine would silently serve the old
    // names (Delta refuses manifests under column mapping identically)
    s.schema.foreach { sc =>
      require(ColumnMapping.isIdentity(sc),
        "cannot generate a symlink manifest for a column-mapped table " +
          "(RENAME/DROP COLUMN history): external readers resolve the " +
          "physical parquet names, not the renamed logical schema")
    }
    val dir = new Path(tablePath, "_symlink_format_manifest")
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    // Path(parent, child) keeps an absolute child as-is, so cloned
    // (absolute) references and plain relative ones both qualify right.
    // An empty snapshot publishes a zero-byte manifest (Delta's shape),
    // not a single blank line an external reader would choke on
    val tableDir = new Path(tablePath)
    val lines = s.files.map(f => fs.makeQualified(new Path(tableDir, f.path)).toString)
    val body = if (lines.isEmpty) "" else lines.sorted.mkString("", "\n", "\n")
    val tmp = new Path(dir, s".manifest.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, "manifest")
    // rename-with-overwrite: no delete-then-rename window where the
    // manifest doesn't exist (FileContext maps to an atomic
    // REPLACE_EXISTING move on local/HDFS); fall back to the non-atomic
    // two-step only on filesystems without a FileContext impl
    try
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedOperationException | _: java.io.FileNotFoundException =>
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"failed to publish manifest at $dst")
    }
    s.files.size
  }

  /** Force a consolidated checkpoint (JSON + parquet sidecar when the
   * table crosses `spark.qbeast.metadata.sidecar.minFiles`) at the
   * current version, without waiting for the commit-interval trigger —
   * Delta's `checkpoint()` equivalent. The sidecar is what enables the
   * distributed metadata read path ([[graft.read.DistributedQbeastFileIndex]]). */
  def checkpoint(): Unit = {
    val s = snapshot
    if (!s.isEmpty)
      QbeastLog.writeCheckpoint(new Path(tablePath).getFileSystem(conf), s)
  }

  /** Structural metrics of one revision's index (reference:
   * `core/.../spark/utils/IndexMetrics.scala:26-137` — height, fanout,
   * balance, inner/leaf cube size stats, block/file stats). */
  def indexMetrics(revisionID: Long = -1L): IndexMetrics = {
    val s = controlSnapshot()
    val rid = if (revisionID < 0) s.lastRevisionID else revisionID
    val status = statusOf(s, rid)
    val (fileCount, blockCount, bytes) =
      if (s.filesComplete) {
        val files = s.filesOfRevision(rid)
        (files.size.toLong, files.map(_.blocks.size.toLong).sum, files.map(_.size).sum)
      } else DistributedMetadata.revisionFileStats(spark, s, rid)
    val cubes = status.cubeStatuses
    val counts = cubes.values.map(_.elementCount)
    val cubeSet = cubes.keySet
    // inner = has at least one materialized child; leaf = none
    val (inner, leaf) = cubes.keys.partition(c => c.children.exists(cubeSet.contains))
    def stats(cs: Iterable[CubeId]): CubeSizeStats = {
      // iterator: mapping a key SET through elementCount would dedup ties
      val sizes = cs.iterator.map(c => cubes(c).elementCount).toSeq
      if (sizes.isEmpty) CubeSizeStats(0, 0L, 0L, 0L)
      else CubeSizeStats(sizes.size, sizes.min, sizes.sum / sizes.size, sizes.max)
    }
    val height = if (cubes.isEmpty) 0 else cubes.keys.map(_.depth).max + 1
    // average materialized children per inner cube (reference avgFanout)
    val avgFanout =
      if (inner.isEmpty) 0.0
      else inner.iterator.map(c => c.children.count(cubeSet.contains)).sum.toDouble / inner.size
    // reference depthOnBalance: observed height vs the height a perfectly
    // balanced tree of this fanout would need for the same element count
    val balancedHeight =
      if (counts.sum <= 0 || avgFanout <= 1.0) 1.0
      else 1 + math.log(math.max(1.0,
        counts.sum.toDouble / status.revision.desiredCubeSize)) / math.log(avgFanout)
    IndexMetrics(
      revisionID = rid,
      elementCount = counts.sum,
      dimensionCount = status.revision.dimensionCount,
      desiredCubeSize = status.revision.desiredCubeSize,
      height = height,
      avgFanout = avgFanout,
      depthOnBalance = if (height == 0) 0.0 else height / balancedHeight,
      cubeCount = cubes.size,
      blockCount = blockCount.toInt,
      fileCount = fileCount.toInt,
      bytes = bytes,
      avgCubeElementCount = if (cubes.isEmpty) 0L else counts.sum / cubes.size,
      maxCubeElementCount = if (cubes.isEmpty) 0L else counts.max,
      innerCubeStats = stats(inner),
      leafCubeStats = stats(leaf))
  }

  /**
   * Audit the live snapshot against the physical table (Delta's FSCK
   * shape): every referenced file must exist on disk with the
   * committed size, per-file stats row counts must agree with the
   * index's block element counts, block weight ranges must be ordered,
   * every file's revision must exist, and no file may be referenced
   * twice. Returns every problem found — empty means healthy.
   *
   * Metadata checks are driver-side folds over the snapshot (O(#files)
   * driver work it already holds); the existence/size checks run as a
   * Spark job over the file list, so the physical audit is O(#files)
   * EXECUTOR work and O(#issues) driver memory — runnable at millions
   * of files, where a driver-side `fs.exists` loop would take hours.
   */
  def verifyIntegrity(): Seq[IntegrityIssue] = {
    val s = snapshot
    val issues = mutable.Buffer.empty[IntegrityIssue]
    // column-mapping invariant: physical names must be unique — two
    // logical columns resolving to one parquet column would silently
    // serve the same data twice (the ALTER path cannot produce this;
    // only log surgery could). A logical name equal to ANOTHER field's
    // physical name is legal (rename-then-re-add) — rewriting is
    // single-application throughout, see ColumnMapping's class doc.
    s.schema.foreach { sc =>
      sc.fields.map(f =>
        ColumnMapping.physicalName(f).toLowerCase(java.util.Locale.ROOT))
        .groupBy(identity).collect { case (p, ps) if ps.length > 1 => p }
        .foreach(p => issues += IntegrityIssue("<schema>", "duplicate-physical-name",
          s"two columns map to physical name $p"))
      // type-widening invariant: each field's change history must chain
      // contiguously and end at the field's current type — a broken
      // chain means the era gates cannot be derived soundly
      sc.fields.foreach { f =>
        val h = TypeWidening.typeChanges(f)
        if (h.nonEmpty) {
          val chained = h.sliding(2).forall {
            case Seq(a, b) => a.to == b.from
            case _ => true
          }
          if (!chained || h.last.to != f.dataType)
            issues += IntegrityIssue("<schema>", "broken-type-history",
              s"column ${f.name}: type-change history " +
                s"${h.map(c => s"${c.from.simpleString}->${c.to.simpleString}").mkString(", ")} " +
                s"does not chain to current type ${f.dataType.simpleString}")
        }
      }
    }
    // (no duplicate-reference check: snapshot replay is path-keyed, so
    // a double-add collapses to the last action by construction — the
    // log cannot surface two live entries for one path)
    s.files.foreach { f =>
      if (!s.revisions.contains(f.revisionId))
        issues += IntegrityIssue(f.path, "unknown-revision",
          s"revisionId=${f.revisionId} is not in the snapshot")
      if (f.blocks.exists(b => b.minWeight > b.maxWeight))
        issues += IntegrityIssue(f.path, "inverted-weight-range",
          "a block's minWeight exceeds its maxWeight")
      if (f.blocks.exists(_.elementCount < 0))
        issues += IntegrityIssue(f.path, "negative-element-count",
          "a block reports a negative elementCount")
      f.stats.flatMap(graft.read.FileStatsPruning.parse).foreach { st =>
        if (st.numRecords != f.elementCount)
          issues += IntegrityIssue(f.path, "stats-mismatch",
            s"stats numRecords=${st.numRecords} but block elements=${f.elementCount}")
      }
    }
    val entries = s.files.map(f => (new Path(tablePath, f.path).toString, f.size))
    if (entries.nonEmpty) {
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      val parts = math.max(1, math.min(entries.size / 1000 + 1, 64))
      val physical = spark.sparkContext.parallelize(entries, parts)
        .mapPartitions { it =>
          val c = sconf.value
          it.flatMap { case (p, size) =>
            val path = new Path(p)
            val fs = path.getFileSystem(c)
            try {
              val st = fs.getFileStatus(path)
              if (st.getLen != size)
                Iterator((p, "size-mismatch",
                  s"log size=$size but disk size=${st.getLen}"))
              else Iterator.empty
            } catch {
              case _: java.io.FileNotFoundException =>
                Iterator((p, "missing-file",
                  "referenced by the live snapshot but not on disk"))
            }
          }
        }
        .collect()
      physical.foreach { case (p, kind, detail) =>
        issues += IntegrityIssue(p, kind, detail)
      }
    }
    issues.toVector
  }

}

/** One file-level problem found by [[QbeastTable.verifyIntegrity]]. */
final case class IntegrityIssue(path: String, issue: String, detail: String)

/** One committed log version (DESCRIBE HISTORY row). */
/** One WHEN clause of a row-level [[QbeastTable.merge]]. `condition`
 * None = unconditional; `assignments` None = DELETE. Matched /
 * not-matched-by-source clauses see the joined row (source columns
 * under the merge's `srcPrefix`); insert clauses see the source frame. */
final case class MergeClause(
    condition: Option[Column],
    assignments: Option[Map[String, Column]])

final case class HistoryEntry(
    version: Long,
    timestampMillis: Long,
    operation: String,
    addedFiles: Int,
    removedFiles: Int,
    newRevision: Boolean)

final case class DepthStats(
    depth: Int,
    cubeCount: Int,
    blockCount: Int,
    elementCount: Long,
    minCubeElementCount: Long,
    maxCubeElementCount: Long,
    avgMaxWeightFraction: Double)

/** min/avg/max element counts over a class of cubes. */
final case class CubeSizeStats(
    cubeCount: Int,
    minElementCount: Long,
    avgElementCount: Long,
    maxElementCount: Long)

final case class IndexMetrics(
    revisionID: Long,
    elementCount: Long,
    dimensionCount: Int,
    desiredCubeSize: Int,
    height: Int,
    avgFanout: Double,
    depthOnBalance: Double,
    cubeCount: Int,
    blockCount: Int,
    fileCount: Int,
    bytes: Long,
    avgCubeElementCount: Long,
    maxCubeElementCount: Long,
    innerCubeStats: CubeSizeStats,
    leafCubeStats: CubeSizeStats)

object QbeastTable {

  /** Session conf naming a [[graft.write.PreCommitHook]] class to run
   * before every DML commit (delete/update/merge/upsert) — the
   * options-borne `hook.*` mechanism's DML twin; tags are discarded. */
  val DmlPreCommitHookKey = "spark.qbeast.dml.preCommitHook"

  /** Free the block-manager blocks behind a `localCheckpoint(true)`
   * frame. `Dataset.unpersist` is a NO-OP for these (it goes through
   * the CacheManager, which never registered the checkpoint's RDD
   * blocks) — without this the blocks live until the RDD is GC'd,
   * which on a long-running stream of DML micro-batches pins
   * block-manager memory trigger after trigger. Must only run once
   * every consumer of the frame is done: the checkpoint truncated the
   * lineage, so the data cannot be recomputed afterwards. */
  private[graft] def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The metadata-only distinct estimate: standard HLL correction of
   * the folded registers plus the integer-exact (scaled, zeros) state
   * an external engine replays bit-for-bit. */
  final case class HllEstimate(est: Double, scaled: Long, zeros: Long)

  /** Default vacuum retention (7 days, mirroring Delta's default). */
  val DefaultRetentionMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** Below this retention `vacuum` demands an explicit `force`. */
  val MinRetentionMillis: Long = 60L * 60 * 1000

  def forPath(spark: SparkSession, tablePath: String): QbeastTable =
    new QbeastTable(spark, tablePath)

  /**
   * Metadata-only adoption of a plain parquet directory (reference:
   * `ConvertToQbeastCommand`): registers existing files as the staging
   * revision 0 — no data rewrite; one count job records per-file element
   * counts for the metrics/rollup paths.
   */
  def convertFromParquet(spark: SparkSession, path: String): QbeastTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    val existing = QbeastLog.snapshot(path, conf)
    if (!existing.isEmpty) return forPath(spark, path)

    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val statuses = fs.listStatus(dir).filter(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(statuses.nonEmpty, s"no parquet files to convert at $path")

    val df = spark.read.parquet(path)
    // _metadata.file_path, not input_file_name(): same value over a
    // direct scan, but immune to ever being moved above a shuffle
    val countsByFile = df.groupBy(col("_metadata.file_path").as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val root = CubeId.root(1)
    val adds = statuses.map { st =>
      val uri = st.getPath.toUri.toString
      // match on "/name": a bare-name suffix match would let
      // "11.parquet" claim "1.parquet"'s count
      val n = countsByFile.find { case (k, _) => k.endsWith("/" + st.getPath.getName) }
        .map(_._2).getOrElse {
          // a 0-row file legitimately produces no groupBy row — but a
          // MATCHING failure (URI-encoded names the suffix test misses)
          // must fail loudly, not convert with elementCount=0: every
          // metadata count and sketch fold downstream trusts this number
          if (spark.read.parquet(st.getPath.toString).isEmpty) 0L
          else throw new IllegalStateException(
            s"convert: could not match row count for ${st.getPath} " +
              s"(non-empty file missing from the _metadata.file_path keys)")
        }
      IndexFile(
        path = st.getPath.getName,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        revisionId = Revision.StagingID,
        blocks = Vector(Block(root, Weight.MinValue, Weight.MaxValue, n)))
    }.toSeq

    val actions = Seq(
      MetaDataAction(df.schema.json, Map("qbeast.lastRevisionID" -> "0")),
      RevisionAction(Revision.staging(path))) ++
      adds.map(a => AddFileAction(a, dataChange = false))
    QbeastLog.commit(path, conf, existing.version, actions, operation = "CONVERT")
    forPath(spark, path)
  }

}
