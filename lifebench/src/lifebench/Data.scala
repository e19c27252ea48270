package lifebench

import org.apache.spark.sql.{functions, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** One table row. `x` and `y` are the indexed columns; `t` tracks `x`
 * (so per-file min/max on the non-indexed `t` prunes), `tag` is the
 * bloom-filtered column, `b` is the batch that wrote the row. */
final case class R(id: Long, x: Double, y: Int, t: Long, tag: String, v: Long, b: Int)

object Data {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("b", IntegerType, nullable = false)))

  val columns: Seq[String] = schema.fieldNames.toSeq

  /** Rows `id0 until id0 + n` of batch `b`. `x` is skewed towards
   * xMin (xMin + (xMax − xMin)·u²), `y` is Zipf-like over 0..99 (u³),
   * `tag` is 12 random hex digits, so every tag is (almost surely)
   * unique. With `edges` the first two rows sit on the corners
   * (xMin, 0) and (xMax, 99) of the indexed space, so a batch drawn
   * later from inside it never extends the revision by chance. */
  def rows(rng: java.util.Random, id0: Long, n: Int, b: Int,
      xMin: Double, xMax: Double, edges: Boolean = false): Vector[R] =
    Vector.tabulate(n) { i =>
      val u = rng.nextDouble()
      val x = if (edges && i < 2) (if (i == 0) xMin else xMax) else xMin + (xMax - xMin) * u * u
      val y = if (edges && i < 2) 99 * i else (100 * math.pow(rng.nextDouble(), 3)).toInt
      val t = (x * 1000).toLong + rng.nextInt(50)
      val tag = f"${rng.nextLong() & 0xffffffffffffL}%012x"
      R(id0 + i, x, y, t, tag, rng.nextInt(1000000).toLong, b)
    }

  def frame(spark: SparkSession, rs: Seq[R]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rs.map(r => Row(r.id, r.x, r.y, r.t, r.tag, r.v, r.b)): _*),
      schema)

  def fromRow(r: Row): R =
    R(r.getAs[Long]("id"), r.getAs[Double]("x"), r.getAs[Int]("y"), r.getAs[Long]("t"),
      r.getAs[String]("tag"), r.getAs[Long]("v"), r.getAs[Int]("b"))

  /** Spark's `hash(id, x, y, t, tag, v, b)` (Murmur3, seed 42), computed
   * apart from any query engine so table checksums can be compared with
   * the model. */
  def hash(r: R): Int = {
    var h = 42
    h = Murmur3_x86_32.hashLong(r.id, h)
    h = Murmur3_x86_32.hashLong(java.lang.Double.doubleToLongBits(if (r.x == -0.0d) 0.0d else r.x), h)
    h = Murmur3_x86_32.hashInt(r.y, h)
    h = Murmur3_x86_32.hashLong(r.t, h)
    val s = UTF8String.fromString(r.tag)
    h = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
    h = Murmur3_x86_32.hashLong(r.v, h)
    Murmur3_x86_32.hashInt(r.b, h)
  }

  /** Order-independent multiset fingerprint: (row count, sum of row hashes). */
  final case class Sum(count: Long, hashSum: Long) {
    def +(r: R): Sum = Sum(count + 1, hashSum + hash(r))
    def ++(rs: Iterable[R]): Sum = rs.foldLeft(this)(_ + _)
  }
  val emptySum: Sum = Sum(0L, 0L)
  def sumOf(rs: Iterable[R]): Sum = emptySum ++ rs

  /** The same fingerprint computed by the engine over a table read. */
  def tableSum(df: DataFrame): Sum = {
    val r = df.agg(count(lit(1)), coalesce(sum(functions.hash(columns.map(col): _*).cast(LongType)), lit(0L)))
      .head()
    Sum(r.getLong(0), r.getLong(1))
  }

  /** A counted multiset of rows, for exact change-feed replay. */
  final class Bag private (private val m: mutable.HashMap[R, Int]) {
    def add(r: R): Unit = m.update(r, m.getOrElse(r, 0) + 1)
    /** False when `r` is not present (a delete image of a row that did not exist). */
    def remove(r: R): Boolean = m.get(r) match {
      case Some(1) => m.remove(r); true
      case Some(n) => m.update(r, n - 1); true
      case None => false
    }
    def sameAs(o: Bag): Boolean = m == o.m
  }
  object Bag {
    def of(rs: Iterable[R]): Bag = { val b = new Bag(mutable.HashMap.empty); rs.foreach(b.add); b }
  }
}

/** Positions in [0, 1) that cover the interval evenly from a seeded
 * start (golden-ratio steps), so a run's predicates hit dense and sparse
 * parts of the skewed data alike whatever the seed. */
final class Spread(rng: java.util.Random) {
  private var u = rng.nextDouble()
  def next(): Double = { u = (u + 0.6180339887498949) % 1.0; u }
}

/** A filter predicate with two renderings: a Spark column for the
 * engine and a Scala function for the expected answer. */
sealed trait Pred {
  def column: Column
  def test(r: R): Boolean
  def sql: String
}
object Pred {
  final case class Between(c: String, lo: Double, hi: Double) extends Pred {
    def column: Column = col(c).between(lit(lo), lit(hi))
    def test(r: R): Boolean = { val v = num(r, c); v >= lo && v <= hi }
    def sql: String = s"$c BETWEEN $lo AND $hi"
  }
  final case class LongBetween(c: String, lo: Long, hi: Long) extends Pred {
    def column: Column = col(c).between(lit(lo), lit(hi))
    def test(r: R): Boolean = { val v = num(r, c); v >= lo && v <= hi }
    def sql: String = s"$c BETWEEN $lo AND $hi"
  }
  final case class IntEq(c: String, v: Int) extends Pred {
    def column: Column = col(c) === lit(v)
    def test(r: R): Boolean = num(r, c) == v
    def sql: String = s"$c = $v"
  }
  final case class TagEq(v: String) extends Pred {
    def column: Column = col("tag") === lit(v)
    def test(r: R): Boolean = r.tag == v
    def sql: String = s"tag = '$v'"
  }
  final case class And(a: Pred, b: Pred) extends Pred {
    def column: Column = a.column && b.column
    def test(r: R): Boolean = a.test(r) && b.test(r)
    def sql: String = s"(${a.sql}) AND (${b.sql})"
  }

  private def num(r: R, c: String): Double = c match {
    case "id" => r.id.toDouble
    case "x" => r.x
    case "y" => r.y.toDouble
    case "t" => r.t.toDouble
    case "v" => r.v.toDouble
    case "b" => r.b.toDouble
  }
}
