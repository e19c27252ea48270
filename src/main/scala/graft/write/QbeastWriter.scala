package graft.write

import graft.core.model._
import graft.index._
import graft.log._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import scala.collection.mutable

/** Hadoop `Configuration` is not Java-serializable; minimal wrapper to
 * ship the prepared write conf to tasks. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/**
 * The full indexed-write pipeline (reference: `IndexedTable.save` →
 * `SparkOTreeManager` → `RollupDataWriter` → Delta commit; ours commits
 * to the self-contained qlog).
 *
 * Shuffle budget at scale: ONE extra shuffle vs a plain parquet write —
 * the `repartition` by target file. Stats, domains and cube assignment
 * are map-side passes over the source; domain aggregation ships only
 * (cube, count) pairs.
 */
object QbeastWriter {

  /** Entry point for `df.write.format("qbeast")...save(path)`. */
  def save(
      spark: SparkSession,
      tablePath: String,
      data: DataFrame,
      options: QbeastOptions,
      mode: SaveMode): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // reference knob: spark.qbeast.index.numberOfRetries (default 2)
    val retries = spark.conf.getOption("spark.qbeast.index.numberOfRetries")
      .map(_.toInt).getOrElse(2)
    var attempt = 0
    var committed = false
    var preConfig: Map[String, String] = Map.empty
    while (!committed) {
      val snapshot = QbeastLog.snapshot(tablePath, conf)
      preConfig = snapshot.configuration
      if (!snapshot.isEmpty) {
        mode match {
          case SaveMode.ErrorIfExists =>
            throw new IllegalStateException(s"qbeast table already exists at $tablePath")
          case SaveMode.Ignore => return
          case _ =>
        }
      }
      if (txnCommitted(options, snapshot)) return
      try {
        writeOnce(spark, tablePath, data, options, mode, snapshot)
        committed = true
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > retries) throw e
      }
    }
    // post-commit auto-compaction (Delta's autoCompact discipline):
    // when enough small files have accumulated — the streaming-ingest
    // failure mode: thousands of per-trigger files erode scan and
    // metadata performance — fold them with a targeted layout-only
    // optimize, synchronously after the commit like Delta. The option
    // decides when given; otherwise the persisted table property.
    val autoOpt = options.extra.collectFirst {
      case (k, v) if k.equalsIgnoreCase("autoCompact") => v.equalsIgnoreCase("true")
    }
    // pre-commit snapshot config: a property added by a concurrent
    // writer mid-flight is picked up by the next write
    val autoOn =
      autoOpt.getOrElse(preConfig.get("qbeast.autoCompact").contains("true"))
    if (autoOn) graft.table.AutoCompact.compactSmallFiles(spark, tablePath)
  }

  private def writeOnce(
      spark: SparkSession,
      tablePath: String,
      data0: DataFrame,
      options: QbeastOptions,
      mode: SaveMode,
      snapshot: QbeastSnapshot): Unit = {

    val conf = spark.sparkContext.hadoopConfiguration
    // load hooks up front so a bad class name fails before any data is
    // written, not after
    val hooks = PreCommitHook.loadHooks(options.extra)
    // schema enforcement + evolution (reference delegates this to
    // Delta's metadata layer; see SchemaEvolution): mergeSchema widens
    // by metadata-only commit, overwriteSchema replaces on overwrite
    def boolOpt(name: String): Boolean = options.extra
      .collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
      .exists(_.equalsIgnoreCase("true"))
    val canMergeSchema = boolOpt("mergeSchema") ||
      spark.conf.getOption("spark.qbeast.schema.autoMerge.enabled").contains("true")
    val isOverwrite = mode == SaveMode.Overwrite && !snapshot.isEmpty
    // ---- generated columns (Delta GENERATED ALWAYS AS): columns the
    // frame omits are computed per row; columns it supplies are
    // enforced per row through the CHECK-constraint path below ----
    val (genSpec, genDefinedNow) = GeneratedColumns.resolveForWrite(
      options.extra, snapshot.configuration, tableExists = !snapshot.isEmpty,
      isSchemaReplace = isOverwrite && boolOpt("overwriteSchema"),
      incoming = data0.schema, tableSchema = snapshot.schema)
    if (genDefinedNow) GeneratedColumns.validateDefinitions(spark, data0, genSpec)
    // a definition whose column the declared schema lacks would silently
    // evolve the schema on first insert — fail NAMED instead
    if (!genDefinedNow) snapshot.schema.foreach { sc =>
      genSpec.keys.foreach { n =>
        require(sc.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"generated column $n is not a column of the table schema " +
            s"(${sc.fieldNames.mkString(", ")}); drop the " +
            s"qbeast.generatedColumns.$n property or recreate the table")
      }
    }
    val (data, genChecks) = GeneratedColumns.prepare(data0, genSpec, snapshot.schema)
    // columns a generation expression depends on (or produces) must not
    // auto-widen under mergeSchema — same refusal as the explicit ALTER
    val genWidenBlocked: Set[String] =
      if (genSpec.isEmpty) Set.empty
      else GeneratedColumns.typeProtected(spark, genSpec)
    // the tagged-row layout appends the index columns positionally —
    // a user column with a reserved name would be REPLACED in place
    // and shift the physical writer's index math (reference rejects
    // reserved names the same way)
    val reserved = data.schema.fieldNames.filter(f =>
      f.equalsIgnoreCase(QbeastColumns.cubeColumnName) ||
        f.equalsIgnoreCase(QbeastColumns.weightColumnName) ||
        f.equalsIgnoreCase(QbeastColumns.fileUUIDColumnName) ||
        f.equalsIgnoreCase("_qbeastAssign") ||
        f.equalsIgnoreCase("_qbeastCheck") ||
        f.toLowerCase.startsWith("_qbeastbloom"))
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} are reserved by the qbeast " +
        "writer; rename them before writing")
    // appending WITHOUT an indexed column fails here with the column
    // named, instead of deep in the stats job after a full scan
    snapshot.lastRevision.filterNot(_.isStaging).foreach { rev =>
      if (mode == SaveMode.Append) {
        val have = data.schema.fieldNames.map(_.toLowerCase).toSet
        // revision columns are PHYSICAL names; the incoming frame uses
        // LOGICAL names — report the name the user knows
        val missing = rev.columnNames
          .map(c => snapshot.schema.map(ColumnMapping.logicalOf(_, c)).getOrElse(c))
          .filterNot(c => have.contains(c.toLowerCase))
        require(missing.isEmpty,
          s"append is missing indexed column(s) ${missing.mkString(", ")}: " +
            "rows must carry every indexed column so they can be placed")
      }
    }
    val tableSchema: StructType = snapshot.schema match {
      case Some(existing) if mode == SaveMode.Append =>
        SchemaEvolution.mergeForAppend(existing, data.schema, canMergeSchema,
          widenAtVersion = snapshot.version + 1,
          revisions = snapshot.revisions.values,
          widenBlocked = genWidenBlocked)
      case Some(existing) if isOverwrite =>
        SchemaEvolution.validateOverwrite(existing, data.schema, boolOpt("overwriteSchema"))
        // same-column-set overwrite of a MAPPED table: the mapping
        // metadata must survive (new files keep writing the existing
        // physical names so revisions/config stay valid). An
        // overwriteSchema=true reshape resets to identity — every old
        // file is removed in the same commit, so stale physical names
        // die with them.
        if (boolOpt("overwriteSchema")) data.schema
        else SchemaEvolution.inheritMapping(data.schema, existing)
      case _ => data.schema
    }
    // type widening, the narrow-incoming half: cast the frame UP to the
    // (possibly widened) table types BEFORE indexing, so new parquet
    // footers, stats, blooms and sketch states are all wide-era —
    // mixed-era state stays confined to files written before the widen
    val dataAligned = SchemaEvolution.alignTypes(data, tableSchema)
    // CHECK constraints recorded on the table gate every written row
    // (appends, overwrites, streaming batches). Enforced PER ROW inside
    // the write task (Delta's invariant-check discipline, see index()):
    // a separate validation job would execute the input plan twice, and
    // a nondeterministic input (rand(), a source re-read between jobs)
    // could pass the validation run yet write violating rows — the rows
    // checked must BE the rows written.
    val tableConstraints =
      (Constraints.of(snapshot.configuration).toSeq ++ genChecks).sortBy(_._1)

    // per-file bloom filters (equality skipping on non-indexed
    // columns): the explicit option wins — an empty string TURNS OFF
    // filters persisted earlier — otherwise the table's persisted
    // config applies, so appends and streaming batches keep building
    // filters without re-specifying the option (Delta's
    // table-property discipline)
    val configuredBloomCols = snapshot.configuration
      .get("qbeast.bloomFilterColumns")
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val bloomCols = options.bloomFilterColumns.getOrElse(configuredBloomCols)
    options.bloomFilterColumns.foreach(_.foreach { c =>
      val f = dataAligned.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"bloomFilterColumns: column $c not found in the written schema"))
      require(bloomEligible(f.dataType),
        s"bloomFilterColumns: column $c has unsupported type " +
          s"${f.dataType.simpleString} (atomic types only)")
    })
    val bloomBits = options.bloomFilterBits
      .orElse(snapshot.configuration.get("qbeast.bloomFilterBits").map(_.toInt))
      .getOrElse(BloomCollector.DefaultBitsPerKey)
    require(bloomBits > 0 && bloomBits <= 64,
      s"bloomFilterBits must be in [1, 64] bits per row, got $bloomBits")

    // per-file HLL registers: same table-property discipline as the
    // bloom filters (explicit option wins, empty turns off, appends
    // inherit the persisted config)
    val configuredHllCols = snapshot.configuration
      .get("qbeast.hllColumns")
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val hllCols = options.hllColumns.getOrElse(configuredHllCols)
    options.hllColumns.foreach(_.foreach { c =>
      val f = dataAligned.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"hllColumns: column $c not found in the written schema"))
      require(hllEligible(f.dataType),
        s"hllColumns: column $c has unsupported type ${f.dataType.simpleString} " +
          "(string/integral/boolean/date only — the register hash renders the " +
          "value as a string, which must be engine-independent)")
    })

    // per-file KLL quantile states: same table-property discipline
    val configuredKllCols = snapshot.configuration
      .get("qbeast.kllColumns")
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val kllCols = options.kllColumns.getOrElse(configuredKllCols)
    options.kllColumns.foreach(_.foreach { c =>
      val f = dataAligned.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"kllColumns: column $c not found in the written schema"))
      require(KllCollector.eligible(f.dataType),
        s"kllColumns: column $c has unsupported type ${f.dataType.simpleString} " +
          "(numeric/date/timestamp only — the sketch stores double coordinates)")
    })
    val kllK = options.kllK
      .orElse(snapshot.configuration.get("qbeast.kllK").map(_.toInt))
      .getOrElse(KllCollector.DefaultK)
    require(kllK >= 8 && kllK <= (1 << 20),
      s"kllK must be in [8, ${1 << 20}], got $kllK")

    // overwrite keeps the table's indexing config (columns/cubeSize are
    // reused unless re-specified); it only replaces the data files
    val existingRevision = snapshot.lastRevision.filterNot(_.isStaging)

    // reference #25: optional automatic column selection on first write
    val options1 =
      if (options.columnsToIndex.isEmpty && existingRevision.isEmpty &&
        spark.conf.getOption("spark.qbeast.index.columnsToIndex.auto").contains("true")) {
        val maxCols = spark.conf
          .getOption("spark.qbeast.index.columnsToIndex.auto.max").map(_.toInt).getOrElse(3)
        options.copy(columnsToIndex =
          graft.index.ColumnsToIndexSelector.selectColumnsToIndex(data, maxCols))
      } else options

    // overwriteSchema on a MAPPED table resets the mapping to identity,
    // but an unspecified columnsToIndex would inherit the existing
    // revision's transformers keyed by the OLD physical names — absent
    // from the new frame once an indexed column was renamed. Re-express
    // them as the OLD logical names (the ones the user knows) so the
    // stats job resolves or fails NAMED; the revision is fresh either
    // way (different key names never reuse the old space).
    val options2 =
      if (isOverwrite && boolOpt("overwriteSchema") && options1.columnsToIndex.isEmpty)
        (snapshot.schema, existingRevision) match {
          case (Some(sc), Some(rev)) if ColumnMapping.isEnabled(sc) =>
            options1.copy(columnsToIndex =
              rev.columnNames.map(c => ColumnMapping.logicalOf(sc, c)))
          case _ => options1
        }
      else options1
    val (revision, isNewRevision0, numElements) =
      RevisionFactory.computeRevisionChanges(existingRevision, options2, tablePath,
        dataAligned, mappingSchema = Some(tableSchema))
    // never collide with IDs already in the log after an overwrite
    val revision1 =
      if (isOverwrite && snapshot.lastRevisionID >= revision.revisionID)
        revision.copy(revisionID = snapshot.lastRevisionID + 1)
      else revision
    val isNewRevision = isNewRevision0 || (revision1 ne revision)

    val existingStatus =
      if (!isNewRevision && !isOverwrite) Some(snapshot.indexStatus(revision1.revisionID))
      else None

    val files0 = index(spark, tablePath, dataAligned, revision1, existingStatus, numElements,
      rollupSize = options1.rollupSize, constraints = tableConstraints,
      bloomSpec = Some(BloomWriteSpec(bloomCols, bloomBits)),
      hllSpec = Some(HllWriteSpec(hllCols)),
      kllSpec = Some(KllWriteSpec(kllCols, kllK)),
      mappingSchema = Some(tableSchema))

    // ---- pre-commit hooks (reference #28) ----
    val hookTags =
      if (hooks.isEmpty) Map.empty[String, String]
      else PreCommitHook.runHooks(hooks, spark, files0)

    // ---- commit ----
    var newRevision = Some(revision1).filter(_ => isNewRevision)
    var files = files0

    def buildActions(base: QbeastSnapshot): Seq[LogAction] = {
      val actions = mutable.ArrayBuffer.empty[LogAction]
      // table property opt-in for the change data feed (Delta's
      // delta.enableChangeDataFeed): once set, DML commits persist
      // their row changes under _change_data/ (see QbeastTable.changes)
      val cdfTag =
        if (boolOpt("enableChangeDataFeed"))
          Map("qbeast.enableChangeDataFeed" -> "true")
        else Map.empty[String, String]
      // bloom config persists like a table property; the explicit empty
      // option drops it (turn-off)
      val bloomTag =
        if (bloomCols.nonEmpty)
          Map("qbeast.bloomFilterColumns" -> bloomCols.mkString(","),
            "qbeast.bloomFilterBits" -> bloomBits.toString)
        else Map.empty[String, String]
      val bloomDrop: Set[String] =
        if (options.bloomFilterColumns.exists(_.isEmpty))
          Set("qbeast.bloomFilterColumns", "qbeast.bloomFilterBits")
        else Set.empty
      val hllTag =
        if (hllCols.nonEmpty) Map("qbeast.hllColumns" -> hllCols.mkString(","))
        else Map.empty[String, String]
      val hllDrop: Set[String] =
        if (options.hllColumns.exists(_.isEmpty)) Set("qbeast.hllColumns")
        else Set.empty
      val kllTag =
        if (kllCols.nonEmpty)
          Map("qbeast.kllColumns" -> kllCols.mkString(","),
            "qbeast.kllK" -> kllK.toString)
        else Map.empty[String, String]
      val kllDrop: Set[String] =
        if (options.kllColumns.exists(_.isEmpty))
          Set("qbeast.kllColumns", "qbeast.kllK")
        else Set.empty
      // autoCompact persists as a table property; `autoCompact=false`
      // explicitly drops it
      val autoCompactOpt = options.extra.collectFirst {
        case (k, v) if k.equalsIgnoreCase("autoCompact") => v.equalsIgnoreCase("true")
      }
      val autoTag =
        if (autoCompactOpt.contains(true)) Map("qbeast.autoCompact" -> "true")
        else Map.empty[String, String]
      val autoDrop: Set[String] =
        if (autoCompactOpt.contains(false)) Set("qbeast.autoCompact") else Set.empty
      // deletionVectors persists as a table property (merge-on-read
      // DELETE opt-in); `deletionVectors=false` drops it — future
      // deletes copy-on-write again, existing masks stay until a
      // rewrite materializes them
      val dvOpt = options.extra.collectFirst {
        case (k, v) if k.equalsIgnoreCase("deletionVectors") => v.equalsIgnoreCase("true")
      }
      val dvTag =
        if (dvOpt.contains(true))
          Map(graft.write.DeletionVectors.PropertyKey -> "true")
        else Map.empty[String, String]
      val dvDrop: Set[String] =
        if (dvOpt.contains(false)) Set(graft.write.DeletionVectors.PropertyKey)
        else Set.empty
      // generated-column definitions persist like table properties:
      // written when DEFINED (first write, or an overwriteSchema
      // replace, which also drops the entries the replace released)
      val isSchemaReplace = isOverwrite && boolOpt("overwriteSchema")
      val genTag =
        if (genDefinedNow || isSchemaReplace)
          genSpec.map { case (n, sql) => GeneratedColumns.Prefix + n -> sql }
        else Map.empty[String, String]
      val genDrop: Set[String] =
        if (isSchemaReplace)
          base.configuration.keySet.filter(_.startsWith(GeneratedColumns.Prefix)) --
            genTag.keySet
        else Set.empty
      val config = base.configuration ++ hookTags ++ cdfTag ++ bloomTag ++ hllTag ++
        kllTag ++ autoTag ++ dvTag ++ genTag ++
        Map("qbeast.lastRevisionID" ->
          math.max(newRevision.getOrElse(revision1).revisionID, base.lastRevisionID).toString) --
        bloomDrop -- hllDrop -- kllDrop -- autoDrop -- dvDrop -- genDrop
      // Re-derive the schema against the CURRENT base, not the snapshot
      // this write started from: a concurrent append may itself have
      // evolved the schema, and committing the stale merge would
      // silently drop its columns from table metadata (metadata
      // lost-update). With mergeSchema off, a concurrent widening makes
      // the re-merge throw here — failing the append instead of
      // clobbering — which is the right outcome for an enforced schema.
      // the ALIGNED schema (the types our files were actually written
      // under): if a concurrent commit narrowed the base back (RESTORE
      // past our widen), re-merging the aligned types either re-widens
      // under mergeSchema or fails the append NAMED — never commits a
      // schema narrower than our own files' footers
      val schemaToCommit =
        if (mode == SaveMode.Append)
          base.schema.map(existing =>
            SchemaEvolution.mergeForAppend(existing, dataAligned.schema, canMergeSchema,
              mintFrom = Some(tableSchema), widenAtVersion = base.version + 1,
              revisions = base.revisions.values,
              widenBlocked = genWidenBlocked))
            .getOrElse(tableSchema)
        else tableSchema
      // mapped tables: our files are already written under tableSchema's
      // physical names. A concurrent ALTER/merge that assigned ANY of
      // our written columns a DIFFERENT physical name would make those
      // files unreadable under the committed schema — fail the write
      // instead of committing silent nulls (Delta's metadata-changed
      // conflict, narrowed to the columns this write touched).
      if (ColumnMapping.isEnabled(schemaToCommit) || ColumnMapping.isEnabled(tableSchema)) {
        data.schema.fieldNames.foreach { n =>
          val wrote = ColumnMapping.physicalOf(tableSchema, n)
          val committed = ColumnMapping.physicalOf(schemaToCommit, n)
          if (wrote != committed) throw new IllegalStateException(
            s"concurrent schema change on $tablePath: column $n was written " +
              s"under physical name $wrote but the table now maps it to " +
              s"$committed; re-run the write")
        }
      }
      actions += MetaDataAction(schemaToCommit.json, config)
      newRevision.foreach(actions += RevisionAction(_))
      (options.txnAppId, options.txnVersion) match {
        case (Some(app), Some(v)) => actions += TxnAction(app, v)
        case _ =>
      }
      files.foreach(f => actions += AddFileAction(f, dataChange = true))
      if (isOverwrite) {
        val now = System.currentTimeMillis()
        snapshot.files.foreach(f => actions += RemoveFileAction(RemoveFile(f.path, now, f.size)))
      }
      actions.toSeq
    }

    val operation = if (isOverwrite) "OVERWRITE" else "WRITE"
    // Overwrite, ErrorIfExists and Ignore were resolved against
    // `snapshot` (its files, or an empty table): a lost race re-runs the
    // whole write in `save`. Only a plain append rebases.
    if (mode != SaveMode.Append)
      QbeastLog.commit(tablePath, conf, snapshot.version, buildActions(snapshot), operation)
    else {
      var checked = Constraints.of(snapshot.configuration)
      QbeastLog.commitOptimistic(snapshot, conf, operation) { base =>
        // a concurrent attempt of this very batch may have committed the
        // same (txnAppId, txnVersion): our files are orphans then (the
        // streaming sink's exactly-once contract)
        if (txnCommitted(options, base)) None
        else {
          if (base ne snapshot) {
            checked = Rebase.revalidate(spark, base, checked, tableSchema, files,
              "written (rebased)")
            val (r, f) = Rebase.renumber(base, newRevision, files)
            newRevision = r
            files = f
          }
          Some(buildActions(base))
        }
      }
    }
  }

  /** Idempotent writes via txnAppId/txnVersion (reference:
   * DeltaMetadataWriter.scala:164-174): true when `snap` already holds
   * this batch. */
  private def txnCommitted(options: QbeastOptions, snap: QbeastSnapshot): Boolean =
    (options.txnAppId, options.txnVersion) match {
      case (Some(app), Some(v)) => snap.txns.get(app).exists(_ >= v)
      case _ => false
    }

  /** Types a per-file bloom filter can cover: anything with a stable
   * xxhash64 of an equality literal (atomic, non-nested). */
  def bloomEligible(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ArrayType |
        _: org.apache.spark.sql.types.MapType |
        _: org.apache.spark.sql.types.StructType |
        org.apache.spark.sql.types.NullType => false
    case _ => true
  }

  /** HLL register stats hash through `md5(CAST(col AS STRING))` so an
   * external engine replays them — restricted to types whose string
   * rendering is engine-independent (strings, integral types, dates).
   * Floating-point/decimal/binary formatting differs across engines;
   * nested types have no canonical rendering at all. */
  def hllEligible(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
        org.apache.spark.sql.types.ByteType |
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType |
        org.apache.spark.sql.types.BooleanType |
        org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Bloom build request for one write: columns (unresolved names) +
   * bits per expected row. */
  final case class BloomWriteSpec(cols: Seq[String], bitsPerKey: Int)

  /** HLL register-stats build request for one write — same None /
   * Some(Nil) semantics as `bloomSpec`. */
  final case class HllWriteSpec(cols: Seq[String])

  final case class KllWriteSpec(cols: Seq[String], k: Int)

  /** Index `data` into `revision` and write the parquet files (no
   * commit). Shared by write and optimize. `bloomSpec` None = derive
   * from the table's persisted config (the DML/optimize paths, which
   * must keep rebuilding filters the table was configured with);
   * Some(BloomWriteSpec(Nil, _)) = explicitly none. */
  def index(
      spark: SparkSession,
      tablePath: String,
      data0: DataFrame,
      revision: Revision,
      existingStatus: Option[IndexStatus],
      numElements: Long,
      frozenWeights: Option[Map[CubeId, Weight]] = None,
      rollupSize: Option[Long] = None,
      constraints: Seq[(String, String)] = Nil,
      bloomSpec: Option[BloomWriteSpec] = None,
      hllSpec: Option[HllWriteSpec] = None,
      kllSpec: Option[KllWriteSpec] = None,
      mappingSchema: Option[StructType] = None): Seq[IndexFile] =
    indexParts(spark, tablePath,
      Seq(IndexPart(data0, revision, existingStatus, numElements, frozenWeights)),
      rollupSize, constraints, bloomSpec, hllSpec, kllSpec, mappingSchema)

  /** One revision's rows in an [[indexParts]] write. Cube weights come
   * from `frozenWeights` (rows rewritten into the cubes of their own
   * revision), else from `domains` (a domain pass [[analyze]] already
   * ran), else from a domain pass over `data`. The write's constraints
   * gate the rows of `checked` parts only. */
  final case class IndexPart(
      data: DataFrame,
      revision: Revision,
      existingStatus: Option[IndexStatus],
      numElements: Long,
      frozenWeights: Option[Map[CubeId, Weight]] = None,
      domains: Option[Map[CubeId, Long]] = None,
      checked: Boolean = true)

  /** Index every part into its own revision and write them all through
   * ONE exchange and one writer stage (no commit); each file records its
   * part's revision. The parts share the table's schema. */
  def indexParts(
      spark: SparkSession,
      tablePath: String,
      parts: Seq[IndexPart],
      rollupSize: Option[Long] = None,
      constraints: Seq[(String, String)] = Nil,
      bloomSpec: Option[BloomWriteSpec] = None,
      hllSpec: Option[HllWriteSpec] = None,
      kllSpec: Option[KllWriteSpec] = None,
      mappingSchema: Option[StructType] = None): Seq[IndexFile] = {
    require(parts.nonEmpty, "indexParts needs at least one part")

    lazy val tableSnap = QbeastLog
      .lightSnapshot(tablePath, spark.sparkContext.hadoopConfiguration)
    lazy val tableCfg = tableSnap.configuration

    // Column mapping: files, stats, blooms and sketches are keyed by
    // PHYSICAL names. Callers hand LOGICAL-named frames (DML rewrites
    // read through the logical scan) plus logical-named constraint SQL
    // and sketch column specs — rename/translate all of them here, once
    // (idempotent: a frame already physical-named passes through).
    // `mappingSchema` is the write's merged logical schema (writeOnce,
    // where mergeSchema may mint fresh physical names); absent, the
    // log's current schema serves (all DML/optimize rewrites).
    val mschema = mappingSchema.orElse(tableSnap.schema)
      .filter(graft.core.model.ColumnMapping.isEnabled)
    val physMap = mschema
      .map(graft.core.model.ColumnMapping.toPhysicalMap).getOrElse(Map.empty)
    val physical = parts.map(p =>
      if (physMap.isEmpty) p.data
      else graft.core.model.ColumnMapping.toPhysicalDf(p.data, mschema.get))
    val constraintsPhys =
      if (physMap.isEmpty) constraints
      else constraints.map { case (n, sql) =>
        (n, graft.core.model.ColumnMapping.toPhysicalSql(spark, sql, mschema.get))
      }
    def physCol(c: String): String =
      physMap.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c)
    val bloom = bloomSpec.getOrElse {
      BloomWriteSpec(
        tableCfg.get("qbeast.bloomFilterColumns")
          .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        tableCfg.get("qbeast.bloomFilterBits").map(_.toInt)
          .getOrElse(BloomCollector.DefaultBitsPerKey))
    }
    val hll = hllSpec.getOrElse {
      HllWriteSpec(tableCfg.get("qbeast.hllColumns")
        .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil))
    }
    val kll = kllSpec.getOrElse {
      KllWriteSpec(
        tableCfg.get("qbeast.kllColumns")
          .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        tableCfg.get("qbeast.kllK").map(_.toInt).getOrElse(KllCollector.DefaultK))
    }
    // resolve case-insensitively against the written schema; a column
    // this batch doesn't carry (schema evolution) or an ineligible
    // type is skipped — readers treat a missing filter conservatively
    val dataSchema = physical.head.schema
    val bloomCols: Seq[String] = bloom.cols.flatMap(c =>
      dataSchema.fields.find(f => f.name.equalsIgnoreCase(physCol(c)) &&
        bloomEligible(f.dataType)).map(_.name)).distinct
    val hllCols: Seq[String] = hll.cols.flatMap(c =>
      dataSchema.fields.find(f => f.name.equalsIgnoreCase(physCol(c)) &&
        hllEligible(f.dataType)).map(_.name)).distinct
    val kllCols: Seq[String] = kll.cols.flatMap(c =>
      dataSchema.fields.find(f => f.name.equalsIgnoreCase(physCol(c)) &&
        KllCollector.eligible(f.dataType)).map(_.name)).distinct
    val checks = if (parts.exists(_.checked)) constraintsPhys else Nil

    // the target files of every part, indexed by the INT each row
    // carries: the index is what rides the write exchange and sort (4 B
    // vs 36 B per row, and int comparisons in the sort), the writer task
    // resolves index → name, revision and layout once per file
    val targets = mutable.ArrayBuffer.empty[FileTarget]
    val taggedParts = parts.lazyZip(physical).map { (part, data) =>
      val revision = part.revision
      val dims = revision.dimensionCount
      val coordCols = revision.columnTransformers.lazyZip(revision.transformations)
        .map((t, tr) => ColumnIndexer.coordinateColumn(t, tr))
      val weightCol = ColumnIndexer.weightColumn(revision.columnNames)
      val (cubeWeights, estCounts) = part.frozenWeights match {
        case Some(w) =>
          val counts = part.existingStatus
            .map(_.cubeStatuses.map { case (c, s) => c -> s.elementCount })
            .getOrElse(Map.empty[CubeId, Long])
          (w, counts.toMap)
        case None =>
          val domains = part.domains.getOrElse(
            domainPass(spark, data, revision, part.numElements))
          val existingCounts = part.existingStatus.map(_.subtreeCounts).getOrElse(Map.empty)
          OTreeAlgorithm.estimateCubeWeights(domains, existingCounts,
            revision.desiredCubeSize)
      }

      // ---- cube assignment + rollup target file (one expr/row) ----
      val groups = OTreeAlgorithm.computeRollupGroups(
        if (estCounts.nonEmpty) estCounts
        else Map(CubeId.root(dims) -> math.max(part.numElements, 1L)),
        rollupSize.getOrElse(revision.desiredCubeSize.toLong))
      // rollup groups seal at up to ~2x the target rows — size the
      // filters for that worst case, or the real bits/key halves and the
      // fp rate blows up. VIABILITY gate: when the per-file byte cap
      // clamps the filter below ~3 bits per expected key, the fp rate is
      // so high it prunes nothing while still bloating every log entry —
      // skip building filters for these files (readers treat missing
      // filters conservatively). Hit with the default 5M cubeSize: set a
      // smaller rollupSize or lower bloomFilterBits to re-enable.
      val bloomExpectedRows = 2L * rollupSize.getOrElse(revision.desiredCubeSize.toLong)
      val bloomNumBits = BloomCollector.numBitsFor(bloomExpectedRows, bloom.bitsPerKey)
      val bloomBits =
        if (bloomCols.isEmpty || bloomNumBits < 3L * bloomExpectedRows) 0L else bloomNumBits
      // one file per GROUP (a heavily-subdivided parent may seal several
      // groups — distinct files keep sizes < 2×rollupSize at any
      // dimension count)
      def mintFile(): Int = {
        targets += FileTarget(java.util.UUID.randomUUID().toString, revision.revisionID,
          dims, bloomBits)
        targets.length - 1
      }
      val fileByCube: Map[CubeId, Int] = groups.flatMap { case (_, ms) =>
        val idx = mintFile()
        ms.map(_ -> idx)
      }.toMap
      val defaultFile = fileByCube.getOrElse(CubeId.root(dims), mintFile())
      val bWeights = spark.sparkContext.broadcast(cubeWeights)
      val bFiles = spark.sparkContext.broadcast(fileByCube)

      // one pass per row: target cube + rollup file together, as a native
      // codegen expression (graft.expressions.CubeFileAssign) — the write
      // projection stays inside whole-stage codegen, no Seq[Double]
      // boxing or tuple-encoder hop per row
      val assigner = new graft.expressions.CubeFileAssigner(bWeights, bFiles, defaultFile)
      val shims = org.apache.spark.sql.GraftShims
      val assignCol = shims.column(graft.expressions.CubeFileAssign(
        shims.expression(array(coordCols.map(_.cast("double")): _*)),
        shims.expression(weightCol),
        assigner))
      val tagged0 = data
        .withColumn("_qbeastAssign", assignCol)
        .withColumn(QbeastColumns.cubeColumnName, col("_qbeastAssign.cube"))
        .withColumn(QbeastColumns.weightColumnName, weightCol)
        .withColumn(QbeastColumns.fileUUIDColumnName, col("_qbeastAssign.file"))
        .drop("_qbeastAssign")
      // CHECK-constraint enforcement column: index of the first violated
      // constraint, -1 when the row passes (TRUE or NULL = pass, SQL
      // semantics). Evaluated map-side in the SAME execution as the
      // write, so the rows checked are exactly the rows written — a
      // separate validation job would let a nondeterministic input pass
      // validation yet write violating rows. The write task throws on the
      // first >= 0 it sees (see writeFiles); the column itself is never
      // written to parquet (the writer projects only dataSchema columns).
      if (checks.isEmpty) tagged0
      else tagged0.withColumn("_qbeastCheck",
        if (!part.checked) lit(-1)
        else checks.zipWithIndex.foldRight(lit(-1)) { case (((_, sql), i), acc) =>
          when(not(coalesce(expr(sql), lit(true))), lit(i)).otherwise(acc)
        })
    }
    val shuffled = taggedParts.reduce(_ union _)
      .repartition(col(QbeastColumns.fileUUIDColumnName))
    // Rows are ALWAYS clustered by target file within each partition:
    // the physical writer streams ONE open parquet writer per task,
    // closing each file when its run of rows ends (the same discipline
    // Spark's FileFormatWriter applies to dynamic partitions). Without
    // it, a write whose cubeSize is small relative to the data keeps
    // every target file's row-group buffer open at once — measured at
    // 100× bench scale: 1 600+ concurrent writers, parquet's
    // MemoryManager scaling row groups to <5%, then OOM.
    //
    // sortOnWrite additionally clusters by cube (depth-major byte order
    // ≈ spatial order) then weight: at 1 GB-class file sizes the parquet
    // row groups become region- and weight-coherent, so Spark's
    // row-group stats pruning recovers intra-file selectivity that
    // file-level block pruning alone can't express. Costs ~20% write
    // throughput (ScaleProbe: 0.70 → 0.57M rows/s); disable with
    // spark.qbeast.index.sortOnWrite=false for ingest-bound workloads.
    val tagged =
      if (spark.conf.getOption("spark.qbeast.index.sortOnWrite").contains("false"))
        shuffled.sortWithinPartitions(col(QbeastColumns.fileUUIDColumnName))
      else shuffled.sortWithinPartitions(
        col(QbeastColumns.fileUUIDColumnName),
        col(QbeastColumns.cubeColumnName),
        col(QbeastColumns.weightColumnName))

    // bloom keys as extra codegen columns AFTER the shuffle+sort (a
    // projection preserves both), so the 8-byte hashes never ride the
    // exchange and the writer's per-row cost is one getLong
    val bloomCols1 = if (targets.exists(_.bloomBits > 0)) bloomCols else Nil
    val taggedB = bloomCols1.zipWithIndex.foldLeft(tagged) { case (df, (c, j)) =>
      df.withColumn(s"_qbeastBloomH$j", xxhash64(col(c)))
    }

    // HLL keys: the sketch kit's engine-portable md5-derived 32-bit
    // hash over the STRING rendering (hllEligible restricts types to
    // engine-independent renderings), appended after the bloom hashes
    val taggedH = hllCols.zipWithIndex.foldLeft(taggedB) { case (df, (c, j)) =>
      // the ONE portable-hash definition — per-file registers are
      // bit-identical to the sketch kit (and the q93/t36 oracles)
      // because this is literally the same expression
      df.withColumn(s"_qbeastHllH$j",
        graft.ops.Sketch.portableHash32(col(c).cast("string")))
    }

    // ---- physical write with per-cube block accounting ----
    writeFiles(spark, tablePath, taggedH, dataSchema,
      spark.sparkContext.broadcast(targets.toArray),
      checks, bloomCols1, hllCols, kllCols, kll.k)
  }

  /** A target file of a write: its name, revision, index dimensions and
   * bloom filter size (0 = no filter). */
  final case class FileTarget(name: String, revisionId: Long, dims: Int, bloomBits: Long)

  /** Cube domains of `data` (physical names) under `revision`:
   * per-partition local trees, reduced by cube. */
  private def domainPass(
      spark: SparkSession,
      data: DataFrame,
      revision: Revision,
      numElements: Long): Map[CubeId, Long] = {
    val prepared = data.select(
      (domainInputs(revision) :+ ColumnIndexer.weightColumn(revision.columnNames))
        .map(_.cast("double")): _*)
    val numPartitions = math.max(1, classic(prepared).rdd.getNumPartitions)
    val bufferCapacity = domainsBufferCapacity(spark)
    val dims = revision.dimensionCount
    val groupSize = OTreeAlgorithm.groupCubeSize(revision.desiredCubeSize,
      numPartitions, numElements, bufferCapacity)
    val domainsRdd = classic(prepared).queryExecution.toRdd.mapPartitions { rows =>
      val builder = new LocalOTreeBuilder(dims, groupSize, bufferCapacity.toInt)
      rows.foreach(row => addPoint(builder, row, 0, dims))
      builder.result()
    }
    domainsRdd.reduceByKey(_ + _).collect()
      .map { case (s, d) => CubeId.fromString(dims, s) -> d }.toMap
  }

  private def domainInputs(revision: Revision): Seq[org.apache.spark.sql.Column] =
    revision.columnTransformers.lazyZip(revision.transformations)
      .map((t, tr) => ColumnIndexer.coordinateColumn(t, tr))

  /** reference knob: spark.qbeast.index.cubeDomainsBufferCapacity.
   * Validated on the DRIVER: a bad value (≤ 0, or past Int range where
   * .toInt truncates negative) must fail the write here with the config
   * named, not as a per-task executor crash. */
  private def domainsBufferCapacity(spark: SparkSession): Long = {
    val bufferCapacity = spark.conf
      .getOption("spark.qbeast.index.cubeDomainsBufferCapacity")
      .map(_.toLong).getOrElse(QbeastOptions.DefaultBufferCapacity)
    require(bufferCapacity > 0 && bufferCapacity <= Int.MaxValue,
      "spark.qbeast.index.cubeDomainsBufferCapacity must be in " +
        s"(0, ${Int.MaxValue}], got $bufferCapacity")
    bufferCapacity
  }

  /** Add the point at `row(at ..< at + dims)` with the weight at
   * `row(at + dims)` (all doubles) to a domain pass; rows with a null
   * coordinate are left out. */
  private def addPoint(builder: LocalOTreeBuilder, row: InternalRow, at: Int, dims: Int): Unit = {
    val point = new Array[Double](dims)
    var d = 0
    var anyNull = false
    while (d < dims) {
      if (row.isNullAt(at + d)) anyNull = true else point(d) = row.getDouble(at + d)
      d += 1
    }
    // the weight is murmur3 over the indexed columns — never null
    if (!anyNull) builder.add(point, row.getDouble(at + dims).toInt)
  }

  /** What writing `data0` (logical names) into `existing`'s space takes,
   * from ONE pass over its rows (one Spark job): the row count, the
   * indexed columns' min/max and so the revision the rows land in, the
   * first constraint a row violates, and the cube domains under
   * `existing`. When the rows keep that revision (the common DML case)
   * [[indexParts]] reuses the domains; a new revision, or a row count
   * that changes the domain pass's group size, leaves `domains` empty
   * and the write re-runs only the domain pass. */
  final case class Analysis(
      revision: Revision,
      isNew: Boolean,
      numElements: Long,
      domains: Option[Map[CubeId, Long]],
      violated: Option[(String, String)])

  def analyze(
      spark: SparkSession,
      tablePath: String,
      data0: DataFrame,
      existing: Revision,
      constraints: Seq[(String, String)],
      mappingSchema: Option[StructType]): Analysis = {
    val mschema = mappingSchema.filter(graft.core.model.ColumnMapping.isEnabled)
    val data = mschema.map(graft.core.model.ColumnMapping.toPhysicalDf(data0, _))
      .getOrElse(data0)
    val check = constraints.zipWithIndex.foldRight(lit(-1)) { case (((_, sql), i), acc) =>
      val phys = mschema.map(graft.core.model.ColumnMapping.toPhysicalSql(spark, sql, _))
        .getOrElse(sql)
      when(not(coalesce(expr(phys), lit(true))), lit(i)).otherwise(acc)
    }
    val statsInputs = existing.columnTransformers.flatMap(_.statsInput)
    val nStats = statsInputs.length
    val dims = existing.dimensionCount
    val rows = org.apache.spark.sql.GraftShims.executeOnce(data.select(
      (statsInputs ++ domainInputs(existing).map(_.cast("double")) :+
        ColumnIndexer.weightColumn(existing.columnNames).cast("double") :+ check): _*))
    val numPartitions = math.max(1, rows.getNumPartitions)
    val bufferCapacity = domainsBufferCapacity(spark)
    // the group size the domain pass would take for a write this small;
    // checked against the real row count below
    val groupSize = OTreeAlgorithm.groupCubeSize(existing.desiredCubeSize,
      numPartitions, 0L, bufferCapacity)
    val partials = rows.mapPartitions { it =>
      var n = 0L
      val lo = Array.fill(nStats)(Double.PositiveInfinity)
      val hi = Array.fill(nStats)(Double.NegativeInfinity)
      val seen = new Array[Boolean](nStats)
      var violated = Int.MaxValue
      val builder = new LocalOTreeBuilder(dims, groupSize, bufferCapacity.toInt)
      it.foreach { row =>
        n += 1
        var i = 0
        while (i < nStats) {
          if (!row.isNullAt(i)) {
            val v = row.getDouble(i)
            if (v < lo(i)) lo(i) = v
            if (v > hi(i)) hi(i) = v
            seen(i) = true
          }
          i += 1
        }
        val c = row.getInt(nStats + dims + 1)
        if (c >= 0 && c < violated) violated = c
        addPoint(builder, row, nStats, dims)
      }
      Iterator.single((n, lo, hi, seen, violated, builder.result().toArray))
    }.collect()
    val n = partials.map(_._1).sum
    val stats = (0 until nStats).flatMap { i =>
      val ps = partials.filter(_._4(i))
      if (ps.isEmpty) Seq(null, null) else Seq(ps.map(_._2(i)).min, ps.map(_._3(i)).max)
    }
    val (revision, isNew, _) = RevisionFactory.forExisting(existing, tablePath, mschema,
      org.apache.spark.sql.Row.fromSeq(stats :+ n))
    val violated = partials.map(_._5).minOption.filter(_ < Int.MaxValue).map(constraints)
    val sameGroups = OTreeAlgorithm.groupCubeSize(existing.desiredCubeSize, numPartitions,
      n, bufferCapacity) == groupSize
    val domains =
      if (isNew || !sameGroups) None
      else Some(partials.iterator.flatMap(_._6).toSeq.groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (c, d) => CubeId.fromString(dims, c) -> d })
    Analysis(revision, isNew, n, domains, violated)
  }

  private[graft] def classic(df: DataFrame): org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]

  /** Write each repartitioned group to `<table>/<uuid>.parquet` through
   * the stock ParquetFileFormat OutputWriter, recording per-cube Blocks
   * (reference: `RollupDataWriter.scala:45-137`). */
  private def writeFiles(
      spark: SparkSession,
      tablePath: String,
      tagged: DataFrame,
      dataSchema: StructType,
      targets: org.apache.spark.broadcast.Broadcast[Array[FileTarget]],
      constraints: Seq[(String, String)] = Nil,
      bloomCols: Seq[String] = Nil,
      hllCols: Seq[String] = Nil,
      kllCols: Seq[String] = Nil,
      kllK: Int = KllCollector.DefaultK): Seq[IndexFile] = {

    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factory: OutputWriterFactory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    val serConf = new SerializableHadoopConf(job.getConfiguration)
    // Delta-style per-file min/max/nullCount stats for data skipping on
    // non-indexed columns; ~free next to parquet encoding, but opt-out
    // for ingest-bound workloads
    val collectStats =
      !spark.conf.getOption("spark.qbeast.index.fileStats").contains("false") ||
        bloomCols.nonEmpty || // blooms/hll/kll ride the stats JSON,
        hllCols.nonEmpty || //   which needs numRecords
        kllCols.nonEmpty

    val n = dataSchema.length
    val fields = dataSchema.fields
    // bloom layout: names + source positions (null check) + hash-column
    // positions (appended after cube/weight/uuid[/check] by index())
    val bloomNames = bloomCols.toArray
    val bloomSrcIdx = bloomNames.map(dataSchema.fieldIndex)
    val bloomBase = n + 3 + (if (constraints.nonEmpty) 1 else 0)
    val bloomHashIdx = Array.tabulate(bloomNames.length)(bloomBase + _)
    // hll hash columns follow the bloom hashes in the tagged row
    val hllNames = hllCols.toArray
    val hllSrcIdx = hllNames.map(dataSchema.fieldIndex)
    val hllBase = bloomBase + bloomNames.length
    val hllHashIdx = Array.tabulate(hllNames.length)(hllBase + _)
    // kll reads the source columns directly (double coordinates need
    // no hash column)
    val kllNames = kllCols.toArray
    val kllSrcIdx = kllNames.map(dataSchema.fieldIndex)
    val kllKinds = kllSrcIdx.map(i => KllCollector.kindOf(fields(i).dataType))
    val plan = classic(tagged).queryExecution.executedPlan
    // plan-evidence hook (optimization rounds): dump the write
    // pipeline's formatted plan — the exchange the rows actually ride —
    // to the configured path; zero cost when unset
    spark.conf.getOption("spark.qbeast.debug.writePlanDump").foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        classic(tagged).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) +
          "\n== Write pipeline output schema ==\n" +
          plan.schema.simpleString + "\n")
      catch { case scala.util.control.NonFatal(_) => () }
    }

    val filesRdd = plan.execute().mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val conf = serConf.value
        val files = targets.value
        val attemptId = new TaskAttemptID(
          new TaskID(new JobID("qbeast", files.head.revisionId.toInt), TaskType.MAP, pid), 0)
        val context = new TaskAttemptContextImpl(conf, attemptId)
        val project = UnsafeProjection.create(
          fields.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
          }.toSeq)

        // ONE open writer at a time: input is sorted by target-file
        // index (see `tagged`), so each file's rows arrive as one
        // contiguous run — close on run change. Task memory is O(1) in
        // the number of target files; the pre-fix formulation (a map of
        // concurrently open writers) OOM'd at 100× bench scale.
        final case class OpenFile(
            idx: Int,
            writer: org.apache.spark.sql.execution.datasources.OutputWriter,
            path: Path,
            blocks: mutable.HashMap[CubeId, (Int, Int, Long)],
            stats: FileStatsCollector,
            bloom: BloomCollector,
            hll: HllCollector,
            kll: KllCollector)
        val fs = new Path(tablePath).getFileSystem(conf)
        val done = Vector.newBuilder[IndexFile]
        val closed = mutable.HashSet.empty[Int]
        var of: OpenFile = null

        def closeCurrent(): Unit = if (of != null) {
          of.writer.close()
          val status = fs.getFileStatus(of.path)
          org.apache.spark.sql.GraftShims.addTaskOutput(status.getLen,
            of.blocks.valuesIterator.map(_._3).sum)
          done += IndexFile(
            path = of.path.getName,
            size = status.getLen,
            modificationTime = status.getModificationTime,
            revisionId = files(of.idx).revisionId,
            blocks = of.blocks.iterator.map { case (cube, (mn, mx, cnt)) =>
              Block(cube, Weight(mn), Weight(mx), cnt)
            }.toVector.sortBy(_.cube),
            stats = Option(of.stats)
              .map(_.toJson(Option(of.bloom).map(_.toJsonSection),
                Option(of.hll).map(_.toJsonSection),
                Option(of.kll).map(_.toJsonSection))))
          closed += of.idx
          of = null
        }

        // run-change detection is one int comparison per row; the UUID
        // string materializes once per FILE from the broadcast name
        // table, never per row
        var currentIdx = -1
        val hasCheck = constraints.nonEmpty
        try {
          rows.foreach { row =>
            if (hasCheck) {
              // per-row CHECK enforcement (Delta's invariant checks):
              // the tagging stage stamped the first violated
              // constraint's index at n+3, -1 for a passing row
              val ci = row.getInt(n + 3)
              if (ci >= 0) {
                val (name, sql) = constraints(ci)
                throw new IllegalArgumentException(
                  s"CHECK constraint $name ($sql) violated by written data")
              }
            }
            val weight = row.getInt(n + 1)
            val fileIdx = row.getInt(n + 2)
            if (of == null || fileIdx != currentIdx) {
              closeCurrent()
              val uuid = files(fileIdx).name
              currentIdx = fileIdx
              // the sort invariant is what bounds memory — fail loudly if
              // a plan change ever breaks the contiguous-run contract
              require(!closed.contains(fileIdx),
                s"target file $uuid reappeared after its run closed: " +
                  "write input is no longer clustered by file index")
              // attempt-unique name: a speculative/retried task never
              // collides with another attempt's file; only the attempt
              // whose IndexFile metadata reaches the commit wins, losers
              // are unreferenced orphans (vacuum cleans them)
              val attempt = Option(org.apache.spark.TaskContext.get())
                .map(_.taskAttemptId()).getOrElse(0L)
              val path = new Path(tablePath, s"$uuid-a$attempt.parquet")
              of = OpenFile(fileIdx,
                factory.newInstance(path.toString, dataSchema, context), path,
                mutable.HashMap.empty,
                if (collectStats) new FileStatsCollector(dataSchema) else null,
                if (bloomNames.nonEmpty && files(fileIdx).bloomBits > 0)
                  new BloomCollector(bloomNames, bloomSrcIdx, bloomHashIdx,
                    files(fileIdx).bloomBits, BloomCollector.NumHashes)
                else null,
                if (hllNames.nonEmpty)
                  new HllCollector(hllNames, hllSrcIdx, hllHashIdx)
                else null,
                if (kllNames.nonEmpty)
                  new KllCollector(kllNames, kllSrcIdx, kllKinds, kllK)
                else null)
            }
            val cube = CubeId.fromBytes(files(fileIdx).dims, row.getBinary(n))
            of.writer.write(project(row))
            if (of.stats != null) of.stats.update(row)
            if (of.bloom != null) of.bloom.update(row)
            if (of.hll != null) of.hll.update(row)
            if (of.kll != null) of.kll.update(row)
            val (mn, mx, cnt) = of.blocks.getOrElse(cube, (Int.MaxValue, Int.MinValue, 0L))
            of.blocks.update(cube, (math.min(mn, weight), math.max(mx, weight), cnt + 1L))
          }
          closeCurrent()
        } catch {
          case t: Throwable =>
            // release the open parquet writer's stream + row-group
            // buffers on task failure; the partly-written file is an
            // unreferenced orphan (never committed), vacuum reclaims it
            if (of != null) {
              try of.writer.close()
              catch { case scala.util.control.NonFatal(_) => }
              of = null
            }
            throw t
        }
        done.result().iterator
      }
    }
    filesRdd.collect().toSeq
  }

}
