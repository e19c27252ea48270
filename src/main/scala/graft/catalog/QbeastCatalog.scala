package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * Catalog for `CREATE TABLE ... USING qbeast` / `INSERT INTO` / `SELECT`
 * (reference: `src/.../catalog/QbeastCatalog.scala:48-357`).
 *
 * Two deployment modes, mirroring the reference's CatalogExtension:
 *  - session-catalog extension (`spark.sql.catalog.spark_catalog`):
 *    non-qbeast tables delegate to the V2 session catalog;
 *  - standalone catalog (`spark.sql.catalog.<name>`): qbeast tables are
 *    tracked in an in-process store (metadata persists in each table's
 *    own `_qbeast_log`, so the store is only an identifier → location
 *    mapping; LOCATION-based tables are fully durable).
 */
class QbeastCatalog extends CatalogExtension with StagingTableCatalog {

  private var delegate: Option[TableCatalog] = None
  private var catalogName: String = "qbeast_catalog"
  private var warehouse: String = QbeastCatalog.DefaultWarehouse

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(QbeastCatalog.DefaultWarehouse)
    // durable standalone mode: recover the identifier → location map
    // written by previous processes (table data/metadata live in each
    // table's own _qbeast_log; this map is the only extra state)
    QbeastCatalog.loadStore(warehouse)
  }

  override def name(): String = catalogName

  override def setDelegateCatalog(d: CatalogPlugin): Unit = d match {
    case t: TableCatalog => delegate = Some(t)
    case _ =>
  }

  private def isQbeastProvider(properties: Map[String, String]): Boolean =
    properties.get(TableCatalog.PROP_PROVIDER).exists(_.equalsIgnoreCase("qbeast")) ||
      properties.get("provider").exists(_.equalsIgnoreCase("qbeast"))

  // ---------------------------------------------------------------- tables

  override def loadTable(ident: Identifier): Table = delegate match {
    case Some(d) =>
      val t = d.loadTable(ident)
      if (isQbeastProvider(t.properties().asScala.toMap)) toQbeastTable(ident, t) else t
    case None =>
      QbeastCatalog.standaloneTables.getOrElse(key(ident),
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Seq(catalogName) ++ ident.namespace() :+ ident.name()))
  }

  /** SQL time travel: `SELECT ... FROM t VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTable(ident) match {
      case q: QbeastTableImpl =>
        val v = try version.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"Unsupported VERSION AS OF '$version' for qbeast table " +
                s"${ident.name()}: expected a numeric commit version")
        }
        q.copy(tableProperties =
          q.tableProperties + (QbeastTableImpl.VersionAsOfProp -> v.toString))
      case other => other
    }

  /** SQL time travel: `SELECT ... FROM t TIMESTAMP AS OF ts` (micros). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident) match {
      case q: QbeastTableImpl =>
        val conf = org.apache.spark.sql.SparkSession.active
          .sparkContext.hadoopConfiguration
        val v = graft.log.QbeastLog.versionAt(q.location, conf, timestamp / 1000L)
          .getOrElse(throw new IllegalArgumentException(
            s"Unsupported TIMESTAMP AS OF for qbeast table ${ident.name()}: " +
              s"the timestamp (${timestamp / 1000L} ms) is earlier than the " +
              "table's first commit"))
        q.copy(tableProperties =
          q.tableProperties + (QbeastTableImpl.VersionAsOfProp -> v.toString))
      case other => other
    }

  private def toQbeastTable(ident: Identifier, t: Table): QbeastTableImpl = {
    val props = t.properties().asScala.toMap
    val location = props.getOrElse(TableCatalog.PROP_LOCATION,
      props.getOrElse("location",
        throw new IllegalStateException(s"qbeast table ${ident.name} has no location")))
    QbeastTableImpl(ident.name(), stripScheme(location), t.schema(), props)
  }

  private def stripScheme(location: String): String =
    if (location.startsWith("file:")) new java.net.URI(location).getPath else location

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    if (!isQbeastProvider(props)) {
      return delegate.map(_.createTable(ident, schema, partitions, properties))
        .getOrElse(throw new UnsupportedOperationException(
          s"standalone qbeast catalog cannot create non-qbeast table ${ident.name}"))
    }
    require(partitions.isEmpty, "qbeast tables are self-organizing; PARTITIONED BY unsupported")
    delegate match {
      case Some(d) =>
        val created = d.createTable(ident, schema, partitions, properties)
        toQbeastTable(ident, created)
      case None =>
        val explicit = props.contains(TableCatalog.PROP_LOCATION) || props.contains("location")
        val location = stripScheme(props.getOrElse(TableCatalog.PROP_LOCATION,
          props.getOrElse("location",
            s"$warehouse/${ident.namespace().mkString("/")}/${ident.name()}")))
        // managed (no user LOCATION) tables own their data: DROP purges it
        val managedProp =
          if (explicit) Map.empty[String, String]
          else Map(QbeastCatalog.ManagedProp -> "true")
        val table = QbeastTableImpl(ident.name(), location, schema,
          props ++ managedProp + (TableCatalog.PROP_PROVIDER -> "qbeast"))
        QbeastCatalog.standaloneTables.put(key(ident), table)
        QbeastCatalog.saveStore(warehouse)
        table
    }
  }

  // ------------------------------------------------- staged create/replace

  /** Atomic CREATE/REPLACE/CREATE OR REPLACE (reference:
   * `QbeastCatalog.scala:158-241` + `QbeastStagedTableImpl`): the
   * AS-SELECT write runs first against the resolved location; the
   * catalog entry lands only after it succeeds (reference order:
   * update log, then catalog), and a REPLACE swaps data in one log
   * commit. */
  private def stage(ident: Identifier, info: TableInfo, isReplace: Boolean): StagedTable = {
    val props = info.properties().asScala.toMap
    if (!isQbeastProvider(props))
      throw new UnsupportedOperationException(
        s"qbeast catalog stages only qbeast tables; got provider ${props.get("provider")}")
    require(info.partitions().isEmpty,
      "qbeast tables are self-organizing; PARTITIONED BY unsupported")
    val explicit = props.contains(TableCatalog.PROP_LOCATION) || props.contains("location")
    // the location the entry WILL get, computed without registering it:
    // explicit LOCATION wins; otherwise the same default path the
    // delegate session catalog (or our warehouse layout) would choose
    def resolvedLocation: String = stripScheme(props.getOrElse(TableCatalog.PROP_LOCATION,
      props.getOrElse("location", delegate match {
        case Some(_) =>
          val db =
            if (ident.namespace().isEmpty) "default" else ident.namespace().last
          SparkSession.active.sessionState.catalog.defaultTablePath(
            org.apache.spark.sql.catalyst.TableIdentifier(ident.name(), Some(db))).toString
        case None => s"$warehouse/${ident.namespace().mkString("/")}/${ident.name()}"
      })))
    new QbeastStagedTable(ident, info.schema(), props, isReplace,
      () => resolvedLocation,
      () => delegate match {
        case Some(d) =>
          if (isReplace && d.tableExists(ident)) d.dropTable(ident)
          toQbeastTable(ident, d.createTable(ident, info.schema(), Array.empty[Transform],
            props.asJava))
        case None =>
          val managedProp =
            if (explicit) Map.empty[String, String]
            else Map(QbeastCatalog.ManagedProp -> "true")
          val table = QbeastTableImpl(ident.name(), resolvedLocation, info.schema(),
            props ++ managedProp + (TableCatalog.PROP_PROVIDER -> "qbeast"))
          QbeastCatalog.standaloneTables.put(key(ident), table)
          QbeastCatalog.saveStore(warehouse)
          table
      })
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    stage(ident, info, isReplace = false)
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, isReplace = true)

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, isReplace = tableExists(ident))

  private def tableInfo(
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): TableInfo =
    new TableInfo.Builder()
      .withColumns(org.apache.spark.sql.GraftShims.structTypeToV2Columns(schema))
      .withPartitions(partitions)
      .withProperties(properties)
      .build()

  // legacy StructType entry points (their interface defaults throw)
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stageCreate(ident, tableInfo(schema, partitions, properties))

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stageReplace(ident, tableInfo(schema, partitions, properties))

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stageCreateOrReplace(ident, tableInfo(schema, partitions, properties))

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // reference #30 (AlterQbeastTableCommands): property changes are
    // persisted through the table's own transaction log in BOTH catalog
    // modes, so they survive via the table's metadata, not only the
    // catalog entry
    def persistToLog(location: String): Unit = {
      val sets = changes.collect {
        case s: TableChange.SetProperty => s.property() -> s.value()
      }.toMap
      val unsets = changes.collect { case r: TableChange.RemoveProperty => r.property() }
      if (sets.nonEmpty || unsets.nonEmpty)
        QbeastCatalog.persistPropertiesToLog(location, sets, unsets)
    }
    // log first, catalog second: if the log commit fails the catalog is
    // untouched, so a half-applied ALTER can't leave the two inconsistent
    delegate match {
      case Some(d) =>
        val current = d.loadTable(ident)
        val currentProps = current.properties().asScala.toMap
        if (isQbeastProvider(currentProps)) {
          val screened = QbeastCatalog.screenColumnChanges(changes)
          val loc = currentProps.get(TableCatalog.PROP_LOCATION)
            .orElse(currentProps.get("location"))
          // Column changes must reach the table log: path-based readers
          // resolve the schema from the log, not the catalog, so a
          // catalog-only change would silently serve the OLD column
          // set there. A qbeast table with no resolvable location is a
          // broken registration — refuse rather than diverge.
          if (screened.nonEmpty && loc.isEmpty)
            throw new UnsupportedOperationException(
              s"ALTER TABLE ${ident.name()} column changes: the delegate catalog " +
                "exposes no table location, so the change cannot be committed " +
                "to the qbeast table log (catalog and log schemas would " +
                "diverge). Register the table with an explicit LOCATION.")
          loc.foreach { l =>
            // a NEVER-WRITTEN delegate-backed table has no log for
            // widenColumn to validate against — apply the same matrix
            // screen the standalone branch does, or an out-of-matrix
            // type change the analyzer up-casts (e.g. long -> double)
            // would reach the delegate unchecked
            if (screened.widens.nonEmpty && !graft.log.QbeastLog.exists(stripScheme(l),
                org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)) {
              val cur = current.schema()
              screened.widens.foreach { w =>
                cur.fields.find(_.name.equalsIgnoreCase(w.fieldNames()(0))).foreach(f =>
                  graft.core.model.TypeWidening.requireWidenable(
                    f.name, f.dataType, w.newDataType()))
              }
            }
            if (screened.adds.nonEmpty)
              QbeastCatalog.persistAddColumnsToLog(stripScheme(l), screened.adds)
            QbeastCatalog.persistRenameDropToLog(stripScheme(l), screened)
            persistToLog(stripScheme(l))
          }
        }
        d.alterTable(ident, changes: _*)
      case None =>
        val table = QbeastCatalog.standaloneTables.getOrElse(key(ident),
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            Seq(catalogName) ++ ident.namespace() :+ ident.name()))
        val screened = QbeastCatalog.screenColumnChanges(changes)
        // a NEVER-WRITTEN table has no log to validate rename/drop
        // against (QbeastTable.renameColumn/dropColumn enforce
        // existence, collisions and the not-the-only-column rule) —
        // validate against the declared schema here, or the unchecked
        // transform below would persist a duplicate-name or empty
        // catalog schema
        val hasLog = graft.log.QbeastLog.exists(table.location,
          org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
        if (!hasLog && table.declaredSchema.nonEmpty) {
          var working = table.declaredSchema
          screened.renames.foreach { r =>
            val from = r.fieldNames()(0)
            require(working.fields.exists(_.name.equalsIgnoreCase(from)),
              s"column $from does not exist (have ${working.fieldNames.mkString(", ")})")
            require(!working.fields.exists(f =>
              !f.name.equalsIgnoreCase(from) && f.name.equalsIgnoreCase(r.newName())),
              s"column ${r.newName()} already exists")
            working = StructType(working.fields.map(f =>
              if (f.name.equalsIgnoreCase(from)) f.copy(name = r.newName()) else f))
          }
          screened.drops.foreach { d =>
            val n = d.fieldNames()(0)
            require(working.fields.exists(_.name.equalsIgnoreCase(n)),
              s"column $n does not exist (have ${working.fieldNames.mkString(", ")})")
            require(working.fields.length > 1, s"cannot drop the only column $n")
            working = StructType(working.fields.filterNot(_.name.equalsIgnoreCase(n)))
          }
          screened.widens.foreach { w =>
            val n = w.fieldNames()(0)
            val f = working.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
              throw new IllegalArgumentException(
                s"column $n does not exist (have ${working.fieldNames.mkString(", ")})"))
            // same matrix as written tables — a declared-only table has
            // no files yet, but the rule must not depend on write order
            graft.core.model.TypeWidening.requireWidenable(
              f.name, f.dataType, w.newDataType())
          }
        }
        if (screened.adds.nonEmpty)
          QbeastCatalog.persistAddColumnsToLog(table.location, screened.adds)
        QbeastCatalog.persistRenameDropToLog(table.location, screened)
        persistToLog(table.location)
        val props = changes.foldLeft(table.tableProperties) {
          case (acc, set: TableChange.SetProperty) => acc + (set.property() -> set.value())
          case (acc, rm: TableChange.RemoveProperty) => acc - rm.property()
          case (acc, _) => acc
        }
        // the cached record's declared schema must track the log, or
        // loadTable would keep serving the pre-ALTER column set; the
        // same-type idempotency / type-conflict screen applies here too
        // (a never-written table has no log to catch it)
        val updated = table.copy(
          tableProperties = props,
          declaredSchema =
            if (table.declaredSchema.isEmpty) table.declaredSchema
            else {
              val widened = StructType(table.declaredSchema.fields ++
                QbeastCatalog.newFieldsFor(table.declaredSchema, screened.adds))
              val retyped = StructType(widened.fields.map { f =>
                screened.widens.find(_.fieldNames()(0).equalsIgnoreCase(f.name))
                  .map(w => f.copy(dataType = w.newDataType())).getOrElse(f)
              })
              val renamed = StructType(retyped.fields.map { f =>
                screened.renames.find(_.fieldNames()(0).equalsIgnoreCase(f.name))
                  .map(r => f.copy(name = r.newName())).getOrElse(f)
              })
              StructType(renamed.fields.filterNot(f =>
                screened.drops.exists(_.fieldNames()(0).equalsIgnoreCase(f.name))))
            })
        QbeastCatalog.standaloneTables.put(key(ident), updated)
        QbeastCatalog.saveStore(warehouse)
        updated
    }
  }

  override def dropTable(ident: Identifier): Boolean = delegate match {
    case Some(d) => d.dropTable(ident)
    case None =>
      val removed = QbeastCatalog.standaloneTables.remove(key(ident))
      removed.foreach { t =>
        QbeastCatalog.saveStore(warehouse)
        // Spark managed-table semantics: DROP deletes the data the
        // catalog owns; EXTERNAL (user LOCATION) data is left alone
        if (t.tableProperties.get(QbeastCatalog.ManagedProp).contains("true")) {
          try {
            val dir = new org.apache.hadoop.fs.Path(t.location)
            val conf = org.apache.spark.sql.SparkSession.active
              .sparkContext.hadoopConfiguration
            dir.getFileSystem(conf).delete(dir, true)
          } catch { case scala.util.control.NonFatal(_) => /* best effort */ }
        }
      }
      removed.nonEmpty
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = delegate match {
    case Some(d) => d.renameTable(from, to)
    case None =>
      QbeastCatalog.standaloneTables.remove(key(from)).foreach { t =>
        QbeastCatalog.standaloneTables.put(key(to), t.copy(identifierName = to.name()))
        QbeastCatalog.saveStore(warehouse)
      }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = delegate match {
    case Some(d) => d.listTables(namespace)
    case None =>
      QbeastCatalog.standaloneTables.keys
        .filter(k => k._1 == warehouse && k._2 == namespace.mkString("."))
        .map(k => Identifier.of(namespace, k._3)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = delegate match {
    case Some(d) => d.tableExists(ident)
    case None => QbeastCatalog.standaloneTables.contains(key(ident))
  }

  /** Keys carry the warehouse: two standalone catalogs with different
   * warehouses in one process must not see each other's tables. */
  private def key(ident: Identifier): (String, String, String) =
    (warehouse, ident.namespace().mkString("."), ident.name())

  // ------------------------------------------------------------- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    delegate match {
      case Some(d: FunctionCatalog) => d.listFunctions(namespace)
      case _ => Array.empty
    }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    delegate match {
      case Some(d: FunctionCatalog) => d.loadFunction(ident)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  // ------------------------------------------------------------ namespaces

  override def defaultNamespace(): Array[String] = delegate match {
    case Some(d: CatalogPlugin) => d.defaultNamespace()
    case _ => Array("default")
  }

  override def listNamespaces(): Array[Array[String]] = delegate match {
    case Some(d: SupportsNamespaces) => d.listNamespaces()
    case _ => Array(Array("default"))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    delegate match {
      case Some(d: SupportsNamespaces) => d.listNamespaces(namespace)
      case _ => Array.empty
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    delegate match {
      case Some(d: SupportsNamespaces) => d.loadNamespaceMetadata(namespace)
      case _ =>
        if (namespace.sameElements(Array("default"))) Map.empty[String, String].asJava
        else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
          namespace.toSeq)
    }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    delegate match {
      case Some(d: SupportsNamespaces) => d.createNamespace(namespace, metadata)
      case _ =>
    }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    delegate match {
      case Some(d: SupportsNamespaces) => d.alterNamespace(namespace, changes: _*)
      case _ =>
    }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    delegate match {
      case Some(d: SupportsNamespaces) => d.dropNamespace(namespace, cascade)
      case _ => false
    }

}

object QbeastCatalog {

  val DefaultWarehouse = "/tmp/graft_catalog"

  /** Marks standalone tables whose location the catalog chose (no user
   * LOCATION clause) — their data is purged on DROP TABLE. */
  val ManagedProp = "qbeast.internal.managed"

  /** (warehouse, namespace, name) → table for standalone-mode catalogs
   * (table data + metadata live in the table's own log; this is just the
   * name map, write-through persisted to `<warehouse>/_catalog.json`,
   * scoped per warehouse so two catalogs never cross-contaminate). */
  private[catalog] val standaloneTables =
    TrieMap.empty[(String, String, String), QbeastTableImpl]

  /** Location of a standalone-catalog table, for tooling (searches all
   * registered warehouses). */
  def tableLocation(namespace: String, name: String): Option[String] =
    standaloneTables.collectFirst {
      case ((_, ns, n), t) if ns == namespace && n == name => t.location
    }

  private def storeFile(warehouse: String) =
    java.nio.file.Paths.get(warehouse, "_catalog.json")

  /** Write the whole map atomically (tmp + rename). Called under each
   * mutation; the map is small (one entry per managed table). */
  private[catalog] def saveStore(warehouse: String): Unit = synchronized {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // only this warehouse's entries go to its _catalog.json
    val entries: org.json4s.JValue = standaloneTables.toSeq
      .filter(_._1._1 == warehouse).sortBy(_._1).map {
        case ((_, ns, name), t) =>
          ("namespace" -> ns) ~ ("name" -> name) ~ ("location" -> t.location) ~
            ("schema" -> t.declaredSchema.json) ~ ("properties" -> t.tableProperties)
      }
    val file = storeFile(warehouse)
    java.nio.file.Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    java.nio.file.Files.write(tmp,
      JsonMethods.compact(JsonMethods.render(entries)).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Merge persisted entries into the in-memory map (in-memory wins — it
   * is at least as new in a live process). */
  private[catalog] def loadStore(warehouse: String): Unit = synchronized {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val file = storeFile(warehouse)
    if (!java.nio.file.Files.exists(file)) return
    try {
      val json = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(file), "UTF-8"))
      json match {
        case JArray(items) => items.foreach { item =>
          for {
            JString(ns) <- (item \ "namespace").toOption
            JString(name) <- (item \ "name").toOption
            JString(location) <- (item \ "location").toOption
            JString(schemaJson) <- (item \ "schema").toOption
          } {
            val props = (item \ "properties") match {
              case JObject(fields) => fields.collect {
                case (k, JString(v)) => k -> v
              }.toMap
              case _ => Map.empty[String, String]
            }
            val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            standaloneTables.putIfAbsent((warehouse, ns, name),
              QbeastTableImpl(name, location, schema, props))
          }
        }
        case _ =>
      }
    } catch {
      case scala.util.control.NonFatal(_) => // corrupt store: keep memory
    }
  }

  /** Test hook: drop all in-memory state, as a fresh JVM would. */
  private[graft] def simulateRestart(): Unit = standaloneTables.clear()

  /** Persist ALTER TABLE property changes through the table's log
   * (reference `AlterQbeastTableCommands`): one commit updating the
   * metadata configuration. */
  private[catalog] def persistPropertiesToLog(
      location: String,
      sets: Map[String, String],
      unsets: Seq[String]): Unit = {
    // generated-column definitions are fixed at table creation: a
    // SET TBLPROPERTIES retrofit would enforce/recompute against rows
    // that were never validated (UNSET — dropping a definition — is a
    // harmless relaxation and stays allowed)
    sets.keys.find(_.startsWith(graft.write.GeneratedColumns.Prefix)).foreach { k =>
      throw new UnsupportedOperationException(
        s"cannot SET $k: generated-column definitions are fixed at table " +
          "creation (existing rows were never validated against the " +
          "expression). Recreate the table to change them.")
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    // metadata-only commit: on a concurrent-writer conflict, re-apply
    // the same sets/unsets to the new head (they commute with data
    // commits)
    val start = graft.log.QbeastLog.snapshot(location, conf)
    if (start.isEmpty) return // nothing written yet; catalog entry rules
    graft.log.QbeastLog.commitOptimistic(start, conf, "SET TBLPROPERTIES") { base =>
      base.schema.map(schema => Seq(graft.log.MetaDataAction(schema.json,
        (base.configuration ++ sets) -- unsets)))
    }
  }

  /** Screened ALTER TABLE column changes: top-level nullable adds,
   * top-level renames and drops — everything the mapping-aware log can
   * commit metadata-only. */
  private[graft] final case class ScreenedColumnChanges(
      adds: Seq[TableChange.AddColumn],
      renames: Seq[TableChange.RenameColumn],
      drops: Seq[TableChange.DeleteColumn],
      widens: Seq[TableChange.UpdateColumnType] = Nil) {
    def nonEmpty: Boolean =
      adds.nonEmpty || renames.nonEmpty || drops.nonEmpty || widens.nonEmpty
  }

  /** Screens ALTER TABLE column changes for qbeast tables: top-level
   * nullable ADD COLUMNS pass through (metadata-only, old files read
   * the column as null); RENAME/DROP COLUMN pass through as
   * metadata-only commits under logical→physical column mapping
   * (per-file stats, blooms, sketches and revision transformers stay
   * keyed by the immutable PHYSICAL name; see
   * `graft.core.model.ColumnMapping`); ALTER COLUMN TYPE passes through
   * for probe-verified WIDENING moves only (metadata-only type
   * widening, `graft.core.model.TypeWidening` — old footers keep the
   * narrow type and the scan upcasts). Narrowing / other type moves
   * and nullability changes remain REFUSED: old parquet footers carry
   * the written type and the shared scan schema would poison. Nested
   * (multi-part) changes are refused — the mapping is top-level. */
  private[graft] def screenColumnChanges(
      changes: Seq[TableChange]): ScreenedColumnChanges = {
    val cols = changes.collect { case c: TableChange.ColumnChange => c }
    val rejected = cols.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        // comments are metadata-only and touch no name-keyed state —
        // the delegate applies them; the standalone store ignores them
        c.isInstanceOf[TableChange.UpdateColumnComment])
    if (rejected.nonEmpty) {
      val what = rejected.map(_.getClass.getSimpleName).distinct.mkString(", ")
      throw new UnsupportedOperationException(
        s"qbeast tables do not support ALTER TABLE column changes: $what. " +
          "Old parquet files keep their written types, so nullability " +
          "changes would poison the shared scan schema. Replace the schema " +
          "(and the data) with overwriteSchema=true on overwrite.")
    }
    val renames = cols.collect { case r: TableChange.RenameColumn => r }
    val drops = cols.collect { case d: TableChange.DeleteColumn => d }
    val widens = cols.collect { case w: TableChange.UpdateColumnType => w }
    (renames.map(_.fieldNames()) ++ drops.map(_.fieldNames()) ++
      widens.map(_.fieldNames())).foreach { fn =>
      if (fn.length != 1)
        throw new UnsupportedOperationException(
          s"qbeast RENAME/DROP/ALTER COLUMN supports top-level columns only, got " +
            fn.mkString("."))
    }
    val adds = cols.collect { case a: TableChange.AddColumn => a }
    adds.foreach { a =>
      if (a.fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"qbeast ADD COLUMNS supports top-level columns only, got " +
            a.fieldNames().mkString("."))
      if (!a.isNullable)
        throw new UnsupportedOperationException(
          s"qbeast ADD COLUMNS requires nullable columns (existing files " +
            s"cannot provide values for ${a.fieldNames()(0)})")
    }
    // in-batch duplicates would commit a corrupt duplicate-column schema
    val dup = adds.groupBy(_.fieldNames()(0).toLowerCase(java.util.Locale.ROOT))
      .collectFirst { case (_, as) if as.size > 1 => as.head.fieldNames()(0) }
    dup.foreach(n => throw new IllegalArgumentException(
      s"duplicate column $n in ADD COLUMNS"))
    ScreenedColumnChanges(adds, renames, drops, widens)
  }

  /** Apply screened renames/drops/widens as metadata-only commits on the
   * table's own log (the durable source of truth for path readers). */
  private[graft] def persistRenameDropToLog(
      location: String, screened: ScreenedColumnChanges): Unit = {
    if (screened.renames.isEmpty && screened.drops.isEmpty &&
      screened.widens.isEmpty) return
    val spark = org.apache.spark.sql.SparkSession.active
    if (!graft.log.QbeastLog.exists(location,
        spark.sparkContext.hadoopConfiguration)) return // never written: catalog entry rules
    val table = graft.table.QbeastTable.forPath(spark, location)
    screened.renames.foreach(r => table.renameColumn(r.fieldNames()(0), r.newName()))
    screened.drops.foreach(d => table.dropColumn(d.fieldNames()(0)))
    screened.widens.foreach(w => table.widenColumn(w.fieldNames()(0), w.newDataType()))
  }

  /** The fields `adds` would append to `existing`: an add whose name is
   * already present with the SAME type is dropped (a retried ALTER —
   * e.g. the log committed but the delegate catalog then failed — must
   * converge, not wedge on "already exists"); a different type is a
   * real conflict and throws. */
  private[graft] def newFieldsFor(
      existing: StructType,
      adds: Seq[TableChange.AddColumn]): Seq[org.apache.spark.sql.types.StructField] =
    adds.flatMap { a =>
      val n = a.fieldNames()(0)
      existing.fields.find(_.name.equalsIgnoreCase(n)) match {
        case Some(f) if f.dataType == a.dataType() => None
        case Some(f) => throw new IllegalArgumentException(
          s"column $n already exists with type ${f.dataType.simpleString}")
        case None => Some(org.apache.spark.sql.types.StructField(
          n, a.dataType(), nullable = true))
      }
    }

  /** Persist ALTER TABLE ADD COLUMNS as one metadata-only schema commit
   * (same shape as a mergeSchema append's widening — no file is
   * rewritten; old parquet yields nulls through the by-name scan). */
  private[graft] def persistAddColumnsToLog(
      location: String, adds: Seq[TableChange.AddColumn]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val start = graft.log.QbeastLog.snapshot(location, conf)
    if (start.isEmpty) return // nothing written yet; catalog entry rules
    graft.log.QbeastLog.commitOptimistic(start, conf, "ADD COLUMNS") { base =>
      base.schema.flatMap { schema =>
        val fields0 = newFieldsFor(schema, adds)
        // mapped table: new columns mint a FRESH physical name — re-adding
        // a dropped/renamed logical name can never resurrect old data
        val fields =
          if (!graft.core.model.ColumnMapping.isEnabled(schema)) fields0
          else fields0.map(graft.core.model.ColumnMapping.mintedField)
        // a retried ALTER that is already applied commits nothing
        if (fields.isEmpty) None
        else Some(Seq(graft.log.MetaDataAction(
          StructType(schema.fields ++ fields).json, base.configuration)))
      }
    }
  }

}
