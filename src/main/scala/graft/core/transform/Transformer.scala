package graft.core.transform

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.types.TimestampType

/**
 * Per-column transformer: declares the aggregate statistics needed to
 * build a [[Transformation]] and builds it from the stats row.
 *
 * Counterpart of the reference's `core/.../transform/Transformer.scala`
 * (registry linear | hashing | quantiles, defaults ordered→linear,
 * string→hashing) re-expressed so that stats run in ONE Spark job.
 */
sealed trait Transformer extends Serializable {

  def columnName: String
  def kind: String

  /** The per-row value whose min and max are this transformer's stats
   * (None: it needs none). */
  def statsInput: Option[Column] = None

  /** Aggregate columns evaluated in the single stats pass. */
  final def statsColumns: Seq[Column] = statsInput.toSeq.flatMap(v => Seq(min(v), max(v)))

  /** Build the transformation from the stats row; `offset` points at this
   * transformer's first stat. */
  def makeTransformation(stats: Row, offset: Int): Transformation

}

object Transformer {

  /** Parse a `columnsToIndex` entry: `"col"` or `"col:kind"`. */
  def apply(spec: String, schema: StructType): Transformer = {
    val (name, kindOpt) = spec.split(":") match {
      case Array(n) => (n.trim, None)
      case Array(n, k) => (n.trim, Some(k.trim.toLowerCase))
      case _ => throw new IllegalArgumentException(s"bad column spec: $spec")
    }
    val field = schema.find(_.name.equalsIgnoreCase(name)).getOrElse {
      throw new IllegalArgumentException(
        s"column $name not found in schema ${schema.fieldNames.mkString(",")}")
    }
    val kind = kindOpt.getOrElse(defaultKind(field.dataType))
    kind match {
      case "linear" => LinearTransformer(field.name, field.dataType.simpleString)
      case "hashing" => HashTransformer(field.name, field.dataType.simpleString)
      case "quantiles" =>
        QuantilesTransformer(field.name, field.dataType.simpleString)
      case "histogram" =>
        StringHistogramTransformer(field.name, field.dataType.simpleString)
      case other => throw new IllegalArgumentException(s"unknown transformer: $other")
    }
  }

  def defaultKind(dt: DataType): String = dt match {
    case _: NumericType | TimestampType | TimestampNTZType | DateType => "linear"
    case StringType => "hashing"
    case other =>
      throw new IllegalArgumentException(s"cannot index type ${other.simpleString}")
  }

  def fromKind(kind: String, column: String, dataTypeName: String): Transformer = kind match {
    case "linear" => LinearTransformer(column, dataTypeName)
    case "hashing" => HashTransformer(column, dataTypeName)
    case "quantiles" => QuantilesTransformer(column, dataTypeName)
    case "histogram" => StringHistogramTransformer(column, dataTypeName)
    case "empty" => EmptyTransformer(column, dataTypeName)
    case other => throw new IllegalArgumentException(s"unknown transformer kind: $other")
  }

  /** Canonical numeric form of an ordered column, matching
   * [[Transformation.toCanonicalDouble]] and Catalyst literal internals:
   * timestamps→micros, dates→days, numerics→double. */
  def canonicalColumn(name: String, dataTypeName: String): Column = {
    val c = col(name)
    dataTypeName match {
      case "timestamp" => unix_micros(c).cast(DoubleType)
      // NTZ micros == TZ micros under the UTC session; unix_micros only
      // accepts TIMESTAMP
      case "timestamp_ntz" => unix_micros(c.cast(TimestampType)).cast(DoubleType)
      case "date" => unix_date(c).cast(DoubleType)
      case _ => c.cast(DoubleType)
    }
  }

}

final case class LinearTransformer(columnName: String, dataTypeName: String)
    extends Transformer {

  override def kind: String = "linear"

  override def statsInput: Option[Column] = {
    val c = Transformer.canonicalColumn(columnName, dataTypeName)
    // NaN must not define the revision range: Spark's max() returns NaN
    // as the largest value, and a NaN range bound poisons EVERY
    // coordinate ((v-min)/(NaN-min) = NaN). nanvl maps NaN to null,
    // which min/max skip; NaN rows then clamp to the TOP border on both
    // the write side (greatest/least) and the read side
    // (LinearTransformation.transform), consistent with Spark ordering.
    Some(nanvl(c, lit(null).cast(DoubleType)))
  }

  override def makeTransformation(stats: Row, offset: Int): Transformation = {
    if (stats.isNullAt(offset)) return IdentityTransformation(None)
    val lo = stats.getDouble(offset)
    val hi = stats.getDouble(offset + 1)
    if (lo == hi) IdentityTransformation(Some(lo))
    else LinearTransformation(lo, hi, LinearTransformer.nullCoordinate(columnName))
  }

}

object LinearTransformer {

  /** Deterministic pseudo-random in-range coordinate for nulls, derived
   * from the column name so it is stable across writers and sessions. */
  def nullCoordinate(columnName: String): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(columnName, 42)
    (h & 0x7fffffff).toDouble / Int.MaxValue
  }

}

final case class HashTransformer(columnName: String, dataTypeName: String)
    extends Transformer {
  override def kind: String = "hashing"
  override def makeTransformation(stats: Row, offset: Int): Transformation =
    HashTransformation(dataTypeName)
}

/** Quantile (CDF) transformer; the quantile array comes from user
 * `columnStats` JSON, not from a stats job. */
final case class QuantilesTransformer(columnName: String, dataTypeName: String)
    extends Transformer {

  override def kind: String = "quantiles"

  override def makeTransformation(stats: Row, offset: Int): Transformation =
    throw new IllegalArgumentException(
      s"quantiles transformer on $columnName requires columnStats " +
        s"""{"${columnName}_quantiles": [...]} in the write options""")

}

/** Histogram-binned strings (reference `StringHistogramTransformer` —
 * deprecated upstream for CDF quantiles, kept for compatibility). Bounds
 * come from `columnStats {"col_histogram": [...]}`; absent that, the
 * reference's default a-z histogram — no stats job either way. */
final case class StringHistogramTransformer(columnName: String, dataTypeName: String)
    extends Transformer {

  override def kind: String = "histogram"

  override def makeTransformation(stats: Row, offset: Int): Transformation =
    StringHistogramTransformation(StringHistogramTransformation.DefaultHistogram)

}

final case class EmptyTransformer(columnName: String, dataTypeName: String)
    extends Transformer {
  override def kind: String = "empty"
  override def makeTransformation(stats: Row, offset: Int): Transformation =
    EmptyTransformation
}
