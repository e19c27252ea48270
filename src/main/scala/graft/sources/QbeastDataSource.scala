package graft.sources

import graft.core.model.QbeastOptions
import graft.log.QbeastLog
import graft.read.{DistributedQbeastFileIndex, QbeastFileIndex}
import graft.write.QbeastWriter

import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}

/**
 * V1 DataSource for format "qbeast" (reference:
 * `src/.../sources/QbeastDataSource.scala:107-147`). The read side hands
 * Catalyst a plain `HadoopFsRelation` over our [[QbeastFileIndex]] +
 * stock `ParquetFileFormat`, which is what keeps the entire relational
 * surface (joins, aggs, windows, pushdown, codegen) inherited unchanged.
 */
class QbeastDataSource
    extends RelationProvider
    with CreatableRelationProvider
    with StreamSinkProvider
    with StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "qbeast"

  /** `readStream.format("qbeast")`: incremental consumption from the
   * commit log (see [[QbeastStreamSource]]). */
  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required for a qbeast stream source"))
    // lightSnapshot: this only needs the SCHEMA — a full snapshot would
    // replay the entire file list on the driver at every stream start
    val fromLog = QbeastLog
      .lightSnapshot(path, sqlContext.sparkSession.sparkContext.hadoopConfiguration)
      .schema
    val base = schema.orElse(fromLog).getOrElse(
      throw new IllegalArgumentException(s"no qbeast table (or schema) at $path"))
    val cdf = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v
    }.exists(_.equalsIgnoreCase("true"))
    (shortName(), if (cdf) graft.cdf.ChangeFeed.withCdfColumns(base) else base)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required for a qbeast stream source"))
    new QbeastStreamSource(sqlContext, path, schema, parameters)
  }

  /** `writeStream.format("qbeast")`: indexed streaming ingestion with
   * exactly-once batch commits (txn keys). */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required for a qbeast stream sink"))
    // Update mode has no sound mapping onto an append-only indexed
    // write (each trigger would append the updated aggregate rows as
    // duplicates); Complete overwrites the table per trigger (the
    // aggregate state IS the table). partitionBy is meaningless for a
    // self-organizing layout — reject rather than silently ignore.
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update(),
      "qbeast sink supports Append and Complete output modes; Update " +
        "would append duplicated aggregate rows on every trigger")
    require(partitionColumns.isEmpty,
      "qbeast tables are self-organizing; partitionBy on writeStream is unsupported")
    val appId = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
    }.orElse {
      // queryName + the session-default checkpoint root: Spark resolves
      // this query's checkpoint to <root>/<queryName> — stable across
      // restarts, so the derived appId keeps crash-replay dedup
      // (exactly-once) working for this configuration too
      val root = sqlContext.sparkSession.conf
        .getOption("spark.sql.streaming.checkpointLocation")
      val qn = parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("queryName") => v
      }
      (root, qn) match {
        case (Some(r), Some(n)) => Some(s"$r/$n")
        case _ => None
      }
    }.getOrElse {
      // no stable checkpoint identity at all (session-conf root without
      // a queryName gets a RANDOM subdir per start, so Spark itself
      // cannot resume it): the TABLE PATH is NOT a safe fallback — two
      // distinct queries writing the same table would share an
      // idempotency key and silently drop each other's batches (batch
      // ids restart at 0 per query). A per-sink random id keeps retries
      // of THIS sink exactly-once and degrades restarts to
      // at-least-once, the safe direction.
      s"uncheckpointed-${java.util.UUID.randomUUID()}"
    }
    new QbeastStreamSink(path, appId, parameters,
      overwrite = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete())
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required to read a qbeast table"))
    val spark = sqlContext.sparkSession
    // time travel: .option("versionAsOf", N) or
    // .option("timestampAsOf", "yyyy-MM-dd[ HH:mm:ss]") — the latest
    // version committed at or before the instant (session-zone parse,
    // same resolution as SQL `TIMESTAMP AS OF`)
    val versionOpt = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("versionAsOf") => v.toLong
    }
    val tsOpt = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("timestampAsOf") => v
    }
    require(versionOpt.isEmpty || tsOpt.isEmpty,
      "versionAsOf and timestampAsOf cannot both be set")
    val asOf = versionOpt.orElse(tsOpt.map { s =>
      // DateTimeUtils.getZoneId, not ZoneId.of: Spark-legal session
      // zones include SHORT_IDS ("PST") and unpadded offsets
      val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
      val millis = scala.util.Try {
        val norm = if (s.trim.length == 10) s.trim + " 00:00:00" else s.trim
        java.time.LocalDateTime
          .parse(norm.replace(' ', 'T'))
          .atZone(zone).toInstant.toEpochMilli
      }.getOrElse(throw new IllegalArgumentException(
        s"timestampAsOf: cannot parse '$s' (expected yyyy-MM-dd[ HH:mm:ss])"))
      QbeastLog.versionAt(path, spark.sparkContext.hadoopConfiguration, millis)
        .getOrElse(throw new IllegalArgumentException(
          s"timestampAsOf: no version committed at or before $s"))
    }).getOrElse(-1L)
    // Metadata-scale path: when a parquet file-checkpoint sidecar exists
    // (written once the table crosses spark.qbeast.metadata.sidecar
    // .minFiles), replay only the commit tail on the driver and prune
    // distributively. "false" opts out; default auto.
    val distributedOk = !spark.conf.getOption("spark.qbeast.metadata.distributed")
      .exists(_.equalsIgnoreCase("false"))
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // lightSnapshot falls back to a complete snapshot when no sidecar
    // exists, so one replay serves both cases
    val snapshot =
      if (distributedOk) QbeastLog.lightSnapshot(path, hadoopConf, asOf)
      else QbeastLog.snapshot(path, hadoopConf, asOf)
    if (snapshot.isEmpty)
      throw new IllegalArgumentException(s"no qbeast table at $path")
    val fileIndex =
      if (snapshot.filesComplete) new QbeastFileIndex(spark, snapshot)
      else new DistributedQbeastFileIndex(spark, snapshot)
    HadoopFsRelation(
      location = fileIndex,
      partitionSchema = StructType(Nil),
      dataSchema = snapshot.schema.getOrElse(StructType(Nil)),
      bucketSpec = None,
      // mapping-aware: resolves physical column names under a logical
      // dataSchema; identical to the stock format on identity tables
      fileFormat = new QbeastParquetFileFormat(snapshot.schema
        .map(graft.core.model.ColumnMapping.toPhysicalMap).getOrElse(Map.empty)),
      options = parameters)(spark)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required to write a qbeast table"))
    val spark = sqlContext.sparkSession
    val defaultCubeSize = spark.conf.getOption("spark.qbeast.index.defaultCubeSize")
      .map(_.toInt).getOrElse(QbeastOptions.DefaultCubeSize)
    val options = QbeastOptions(parameters, defaultCubeSize)
    QbeastWriter.save(spark, path, data, options, mode)
    createRelation(sqlContext, parameters)
  }

}
