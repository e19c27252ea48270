package graft.index

import graft.core.model._
import graft.core.transform._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.json4s._

/**
 * Decides the revision a write lands in: reuse the existing one, or cut
 * a new revision with a (merged) wider space. All data statistics are
 * gathered in ONE aggregate job (reference:
 * `core/.../index/SparkRevisionFactory.scala:73-110,191-197`).
 */
object RevisionFactory {

  /** @return (revision to write into, isNewRevision, numElements)
   *
   * `mappingSchema` is the table's LOGICAL schema carrying the
   * logical→physical column mapping (None → loaded from the log;
   * identity tables no-op everywhere). Revisions and transformers are
   * keyed by PHYSICAL names — immutable across RENAME COLUMN — so the
   * incoming frame (logical names) is renamed here and `columnsToIndex`
   * specs are translated; user `columnStats` keys stay LOGICAL. */
  def computeRevisionChanges(
      existing: Option[Revision],
      options: QbeastOptions,
      tableID: String,
      data0: DataFrame,
      mappingSchema: Option[org.apache.spark.sql.types.StructType] = None): (Revision, Boolean, Long) = {

    val mschema = mappingSchema.orElse {
      scala.util.Try(graft.log.QbeastLog.lightSnapshot(tableID,
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
        .schema).toOption.flatten
    }.filter(ColumnMapping.isEnabled)
    val physMap = mschema.map(ColumnMapping.toPhysicalMap).getOrElse(Map.empty)
    val data = if (physMap.isEmpty) data0 else ColumnMapping.toPhysicalDf(data0, mschema.get)
    def translateSpec(spec: String): String =
      if (physMap.isEmpty) spec
      else spec.split(":") match {
        case Array(n) => physMap.getOrElse(n.trim.toLowerCase(java.util.Locale.ROOT), n.trim)
        case Array(n, k) =>
          physMap.getOrElse(n.trim.toLowerCase(java.util.Locale.ROOT), n.trim) + ":" + k.trim
        case _ => spec
      }
    // columnStats are keyed by the names the USER writes — logical
    val statKey: Transformer => String = t =>
      mschema.map(ColumnMapping.logicalOf(_, t.columnName)).getOrElse(t.columnName)

    val schema = data.schema
    // cubeSize: an append that does NOT explicitly set it inherits the
    // table's configured size — filling in the global default here
    // would fail the revision-reuse checks below and silently reset the
    // index config with a fresh revision on every plain append / SQL
    // INSERT INTO
    val cubeSize = existing match {
      case Some(rev) if !rev.isStaging && !options.cubeSizeExplicit =>
        rev.desiredCubeSize
      case _ => options.cubeSize
    }
    val transformers: Vector[Transformer] =
      if (options.columnsToIndex.nonEmpty)
        options.columnsToIndex.map(spec => Transformer(translateSpec(spec), schema)).toVector
      else existing match {
        case Some(rev) if !rev.isStaging => rev.columnTransformers
        case _ =>
          throw new IllegalArgumentException(
            "columnsToIndex is required for the first write of a qbeast table")
      }

    // one job: every transformer's aggregates + the row count
    val statsCols = transformers.flatMap(_.statsColumns) :+ count(lit(1))
    decide(existing, options, tableID, cubeSize, transformers, statKey,
      data.select(statsCols: _*).first())
  }

  /** [[computeRevisionChanges]] for rows written into `existing`'s index
   * space without write options (the DML case), from a stats row the
   * caller gathered: every transformer's `statsColumns`, then the row
   * count. */
  def forExisting(
      existing: Revision,
      tableID: String,
      mappingSchema: Option[org.apache.spark.sql.types.StructType],
      statsRow: Row): (Revision, Boolean, Long) = {
    val mschema = mappingSchema.filter(ColumnMapping.isEnabled)
    decide(Some(existing), QbeastOptions(Map.empty[String, String],
      defaultCubeSize = existing.desiredCubeSize), tableID, existing.desiredCubeSize,
      existing.columnTransformers,
      t => mschema.map(ColumnMapping.logicalOf(_, t.columnName)).getOrElse(t.columnName),
      statsRow)
  }

  /** The revision rows with the stats in `statsRow` land in: `existing`
   * reused, its space widened under the next ID, or a fresh space. */
  private def decide(
      existing: Option[Revision],
      options: QbeastOptions,
      tableID: String,
      cubeSize: Int,
      transformers: Vector[Transformer],
      statKey: Transformer => String,
      statsRow: Row): (Revision, Boolean, Long) = {
    val numElements = statsRow.getLong(statsRow.length - 1)

    var offset = 0
    val newTransformations: Vector[Transformation] = transformers.map { t =>
      val fromStats = t match {
        case _: QuantilesTransformer => quantilesFromColumnStats(t, options, statKey(t))
        case _: StringHistogramTransformer => histogramFromColumnStats(t, options, statKey(t))
        // min/max columnStats define a LINEAR space — applying them to
        // a hashing/histogram transformer would build a Linear
        // transformation over (possibly string) values and bump a new
        // revision on every subsequent write
        case _: LinearTransformer if hasUserStats(statKey(t), options) =>
          userStatsTransformation(t, options, statKey(t))
        case _ =>
          if (numElements == 0) IdentityTransformation(None)
          else t.makeTransformation(statsRow, offset)
      }
      offset += t.statsColumns.size
      // user columnStats widen data-derived ranges
      fromStats
    }

    existing match {
      case Some(rev) if !rev.isStaging &&
          rev.columnTransformers.map(t => (t.columnName, t.kind)) ==
            transformers.map(t => (t.columnName, t.kind)) &&
          rev.desiredCubeSize == cubeSize &&
          !rev.isSupersededBy(newTransformations) =>
        (rev, false, numElements)
      case Some(rev) if !rev.isStaging &&
          rev.columnTransformers.map(t => (t.columnName, t.kind)) ==
            transformers.map(t => (t.columnName, t.kind)) &&
          rev.desiredCubeSize == cubeSize =>
        // same space definition, wider domain → merge ranges, bump ID
        val merged = rev.transformations.lazyZip(newTransformations)
          .map((old, nu) => if (old.isSupersededBy(nu)) old.merge(nu) else old)
        (rev.copy(revisionID = rev.revisionID + 1, timestamp = System.currentTimeMillis(),
          transformations = merged.toVector), true, numElements)
      case Some(rev) if !rev.isStaging =>
        // different columns / kinds / cube size → fresh space, next ID
        (Revision(rev.revisionID + 1, System.currentTimeMillis(), tableID,
          cubeSize, transformers, newTransformations), true, numElements)
      case _ =>
        (Revision.firstRevision(tableID, cubeSize, transformers,
          newTransformations), true, numElements)
    }
  }

  private def hasUserStats(key: String, options: QbeastOptions): Boolean =
    options.parsedColumnStats.contains(s"${key}_min") &&
      options.parsedColumnStats.contains(s"${key}_max")

  private def userStatsTransformation(
      t: Transformer, options: QbeastOptions, key: String): Transformation = {
    def num(j: JValue): Double = j match {
      case JInt(v) => v.toDouble
      case JLong(v) => v.toDouble
      case JDouble(v) => v
      case JDecimal(v) => v.toDouble
      case JString(s) => s.toDoubleOption.getOrElse {
        // quoted numbers parse as JString in json4s — accept them
        // before trying temporal forms, and fail with the VALUE named
        try parseTemporal(s)
        catch {
          case _: Exception => throw new IllegalArgumentException(
            s"bad columnStats value '$s': expected a number or an ISO timestamp/date")
        }
      }
      case other => throw new IllegalArgumentException(s"bad columnStats value: $other")
    }
    val lo = num(options.parsedColumnStats(s"${key}_min"))
    val hi = num(options.parsedColumnStats(s"${key}_max"))
    if (lo == hi) IdentityTransformation(Some(lo))
    else LinearTransformation(lo, hi, LinearTransformer.nullCoordinate(t.columnName))
  }

  /** Timestamps in columnStats use ISO strings; canonical form is micros
   * (dates: days). */
  private def parseTemporal(s: String): Double = {
    try {
      java.time.Instant.parse(s).toEpochMilli * 1000.0
    } catch {
      case _: Exception =>
        try java.time.LocalDate.parse(s).toEpochDay.toDouble
        catch {
          case _: Exception =>
            java.sql.Timestamp.valueOf(s).getTime * 1000.0
        }
    }
  }

  private def quantilesFromColumnStats(
      t: Transformer, options: QbeastOptions, statBase: String): Transformation = {
    val key = s"${statBase}_quantiles"
    options.parsedColumnStats.get(key) match {
      case Some(JArray(values)) if values.nonEmpty =>
        values.head match {
          case _: JString =>
            CDFStringQuantilesTransformation(
              values.collect { case JString(s) => s }.toVector)
          case _ =>
            CDFNumericQuantilesTransformation(values.collect {
              case JInt(v) => v.toDouble
              case JLong(v) => v.toDouble
              case JDouble(v) => v
              case JDecimal(v) => v.toDouble
            }.toVector)
        }
      case _ =>
        throw new IllegalArgumentException(
          s"""quantiles indexing of ${t.columnName} needs columnStats {"$key":[...]}""")
    }
  }

  /** Histogram bounds from `columnStats {"col_histogram":[...]}`;
   * absent, the reference's default a-z histogram (unlike quantiles,
   * histogram indexing works without user stats). */
  private def histogramFromColumnStats(
      t: Transformer, options: QbeastOptions, statBase: String): Transformation = {
    options.parsedColumnStats.get(s"${statBase}_histogram") match {
      case Some(JArray(values)) if values.nonEmpty =>
        val bounds = values.map {
          case JString(v) => v
          case other => throw new IllegalArgumentException(
            s"histogram bounds for ${t.columnName} must all be strings, got $other")
        }.toVector
        // the transform binary-searches the bounds and query pruning
        // treats it as monotonic — unsorted bounds would silently prune
        // live data, so reject them at write time
        require(bounds.size > 1,
          s"histogram for ${t.columnName} needs at least 2 bounds")
        require(bounds.lazyZip(bounds.tail).forall(_ < _),
          s"histogram bounds for ${t.columnName} must be strictly ascending")
        StringHistogramTransformation(bounds)
      case _ =>
        StringHistogramTransformation(StringHistogramTransformation.DefaultHistogram)
    }
  }

}
