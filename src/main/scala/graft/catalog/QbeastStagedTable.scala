package graft.catalog

import graft.core.model.{QbeastOptions, RemoveFile}
import graft.log.{MetaDataAction, QbeastLog, RemoveFileAction}
import graft.write.QbeastWriter

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.util
import scala.jdk.CollectionConverters._

/**
 * Staged table for atomic `CREATE [OR REPLACE] TABLE ... USING qbeast`
 * and CTAS/RTAS (reference: `sources/v2/QbeastStagedTableImpl.scala`):
 * the AS-SELECT write is buffered and only executed inside
 * `commitStagedChanges()`, so a failed query leaves neither a catalog
 * entry nor data; a REPLACE swaps the data files in one transaction-log
 * commit, so concurrent readers see the old or the new table, never a
 * mix.
 *
 * Commit order mirrors the reference (`QbeastCatalogUtils
 * .createQbeastTable`: update the log first, the catalog second): the
 * deferred write runs against the resolved location BEFORE the catalog
 * entry is registered, so an AS-SELECT failing at execution time leaves
 * no dangling entry. A failure between the two steps can leave data
 * files without an entry — the same benign orphan the reference allows.
 */
final class QbeastStagedTable(
    ident: Identifier,
    declaredSchema: StructType,
    properties: Map[String, String],
    isReplace: Boolean,
    resolveLocation: () => String,
    createEntry: () => QbeastTableImpl)
    extends StagedTable
    with SupportsWrite {

  private var pending: Option[DataFrame] = None

  override def name(): String = ident.name()

  override def schema(): StructType = declaredSchema

  override def properties(): util.Map[String, String] = properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              // defer: data lands only if the staged commit happens
              pending = Some(data)
          }
      }
    }

  /** The new definition's qbeast options, to be recorded in the table
   * log's metadata configuration (a REPLACE without AS SELECT must not
   * silently keep the old definition's columnsToIndex/cubeSize). */
  private def stagedOptionConfig: Map[String, String] = {
    val optionKeys = Set(QbeastOptions.ColumnsToIndex, QbeastOptions.CubeSize,
      QbeastOptions.ColumnStats, QbeastOptions.RollupSize).map(_.toLowerCase)
    properties.flatMap { case (k, v) =>
      val plain = if (k.toLowerCase.startsWith("option.")) k.substring("option.".length) else k
      if (optionKeys.contains(plain.toLowerCase)) Some(plain -> v) else None
    }
  }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    val location = resolveLocation()
    pending match {
      case Some(data) =>
        val defaultCubeSize = spark.conf
          .getOption("spark.qbeast.index.defaultCubeSize").map(_.toInt)
          .getOrElse(QbeastOptions.DefaultCubeSize)
        // Overwrite: one log commit adds the new files and removes every
        // old one — the atomic data swap of REPLACE ... AS SELECT
        QbeastWriter.save(spark, location, data,
          QbeastOptions(properties, defaultCubeSize), SaveMode.Overwrite)
      case None if isReplace =>
        // REPLACE TABLE without AS SELECT: new (empty) definition — drop
        // all current data files in one commit, record the new schema and
        // the new definition's OPTIONS
        val conf = spark.sparkContext.hadoopConfiguration
        QbeastLog.commitOptimistic(QbeastLog.snapshot(location, conf), conf, "REPLACE") {
          snapshot =>
            if (snapshot.isEmpty) None
            else {
              val now = System.currentTimeMillis()
              Some(MetaDataAction(declaredSchema.json,
                snapshot.configuration ++ stagedOptionConfig) +:
                snapshot.files.map(f => RemoveFileAction(RemoveFile(f.path, now, f.size))))
            }
        }
      case None => // plain CREATE: entry only, data comes later
    }
    // catalog entry lands only after the data/log commit succeeded
    createEntry()
  }

  override def abortStagedChanges(): Unit = {
    pending = None // nothing was written or registered
  }

}
