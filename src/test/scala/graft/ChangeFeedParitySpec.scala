package graft

import graft.table.QbeastTable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Property: over seeded histories of appends, copy-on-write DML with
 * and without the persisted change feed, deletion-vector DELETE,
 * UPDATE and upsert, RESTOREs that shrink and grow a vector, optimize
 * and a column rename, three readings of a version range agree as
 * signed multisets: batch `changes(v1, v2)`, a `readChangeFeed` stream
 * drained one unit per trigger, and the net snapshot diff v1-1 → v2. A
 * schema change stops a live stream, so the stream is compared over the
 * range after the last rename. */
class ChangeFeedParitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A signed multiset of rows (inserts +1, deletes -1) with an
   * order-independent Murmur3 fingerprint (row count, hash sum) for
   * failure messages. Rows are compared by position, so a renamed
   * column still matches its old images. */
  final class Bag {
    private val m = mutable.HashMap.empty[Seq[Any], Long]
    def add(row: Seq[Any], sign: Long): Unit = {
      val n = m.getOrElse(row, 0L) + sign
      if (n == 0L) m.remove(row) else m.update(row, n)
    }
    def sameAs(o: Bag): Boolean = m == o.m
    override def toString: String = {
      val (count, hashSum) = m.foldLeft((0L, 0L)) { case ((c, h), (r, n)) =>
        (c + n, h + n * Bag.hash(r))
      }
      s"Bag(count=$count, hashSum=$hashSum, distinct=${m.size})"
    }
  }

  object Bag {
    def hash(row: Seq[Any]): Int = row.foldLeft(42) {
      case (h, null) => h
      case (h, l: Long) => Murmur3_x86_32.hashLong(l, h)
      case (h, d: Double) =>
        Murmur3_x86_32.hashLong(java.lang.Double.doubleToLongBits(if (d == -0.0d) 0.0d else d), h)
      case (h, s: String) =>
        val u = UTF8String.fromString(s)
        Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
      case (h, other) => Murmur3_x86_32.hashInt(other.hashCode, h)
    }

    /** A feed's rows: the table columns, then `_change_type`. */
    def ofFeed(rows: Seq[Row], width: Int): Bag = {
      val b = new Bag
      rows.foreach { r =>
        val sign = if (r.getString(width) == "insert") 1L else -1L
        b.add((0 until width).map(r.get), sign)
      }
      b
    }

    /** `after` minus `before`. */
    def diff(before: Seq[Row], after: Seq[Row]): Bag = {
      val b = new Bag
      after.foreach(r => b.add(r.toSeq, 1L))
      before.foreach(r => b.add(r.toSeq, -1L))
      b
    }
  }

  private def at(dir: String, v: Long): Seq[Row] =
    spark.read.format("qbeast").option("versionAsOf", v.toString).load(dir).collect().toSeq

  /** Runs one seeded history, with a column rename after its first
   * appends when `rename` is set; returns the table, its log of
   * operations and the version of the rename (-1 if none). */
  private def history(seed: Long, rename: Boolean): (String, Seq[String], Long) = {
    val rng = new scala.util.Random(seed)
    val dir = TestSpark.tmpDir(s"cdf-parity-$seed")
    val t = QbeastTable.forPath(spark, dir)
    var nextKey = 0L
    var payload = "x"
    var renamed = -1L
    val ops = mutable.ArrayBuffer.empty[String]
    def rows(n: Int): DataFrame = {
      val base = nextKey
      nextKey += n
      (base until base + n).map(k => (k, s"s${rng.nextInt(7)}", (k % 13) * 0.5))
        .toDF("k", "s", payload)
    }
    def append(n: Int, options: (String, String)*): Unit = {
      options.foldLeft(rows(n).write.format("qbeast").mode("append")) {
        case (w, (k, v)) => w.option(k, v)
      }.save(dir)
      ops += s"append($n${options.map(o => s", ${o._1}=${o._2}").mkString})"
    }
    def slice(): String = {
      val m = 3 + rng.nextInt(5)
      s"k % $m = ${rng.nextInt(m)}"
    }
    def delete(): Unit = { val c = slice(); t.delete(c); ops += s"delete($c)" }
    def update(): Unit = {
      val c = slice()
      t.update(c, Map(payload -> s"$payload + 1"))
      ops += s"update($c)"
    }
    def upsert(): Unit = {
      val keys = Seq.fill(6)(rng.nextInt(nextKey.toInt).toLong).distinct ++ Seq(nextKey, nextKey + 1)
      nextKey += 2
      t.upsert(keys.map(k => (k, "up", -1.0)).toDF("k", "s", payload), Seq("k"))
      ops += s"upsert(${keys.mkString(",")})"
    }
    def restore(to: Long): Unit = { t.restoreToVersion(to); ops += s"restore($to)" }

    (0 until 240).map(k => (k.toLong, s"s${k % 7}", (k % 13) * 0.5)).toDF("k", "s", "x")
      .write.format("qbeast").option("columnsToIndex", "k").option("cubeSize", "60")
      .save(dir)
    nextKey = 240L
    ops += "write(240)"
    // copy-on-write DML without a change file
    Seq(() => delete(), () => update(), () => upsert())(rng.nextInt(3))()
    append(20 + rng.nextInt(20))
    if (rename) {
      t.renameColumn(payload, payload + "r")
      payload += "r"
      renamed = t.snapshot.version
      ops += s"rename(-> $payload)"
    }
    // deletion vectors: two deletes on the same files grow their
    // vectors; restoring to the first shrinks them, then restoring to
    // the second grows them again
    append(10, "deletionVectors" -> "true")
    // (sparse, on the first write's files: within the masked-fraction
    // budget, so both mask rather than rewrite)
    t.delete("k < 240 AND k % 10 = 3"); ops += "delete(k < 240 AND k % 10 = 3)"
    val masked = t.snapshot.version
    t.delete("k < 240 AND k % 10 = 6"); ops += "delete(k < 240 AND k % 10 = 6)"
    val grown = t.snapshot.version
    require(t.snapshot.dvs.nonEmpty, "the history must mask rows")
    Seq(() => update(), () => upsert(), () => delete())(rng.nextInt(3))()
    restore(masked)
    restore(grown)
    if (rng.nextBoolean()) update() else upsert()
    t.optimize(); ops += "optimize"
    // the persisted change feed, under both strategies
    append(10, "enableChangeDataFeed" -> "true")
    Seq(() => delete(), () => update(), () => upsert())(rng.nextInt(3))()
    append(10, "deletionVectors" -> "false")
    Seq(() => delete(), () => update(), () => upsert())(rng.nextInt(3))()
    append(10)
    (dir, ops.toSeq, renamed)
  }

  private def streamed(dir: String, from: Long): Seq[Row] = {
    val out = mutable.ArrayBuffer.empty[Row]
    val q = spark.readStream.format("qbeast")
      .option("readChangeFeed", "true").option("startingVersion", from.toString)
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.foreachBatch { (df: DataFrame, _: Long) => out ++= df.collect(); () }
      .option("checkpointLocation", TestSpark.tmpDir("cdf-parity-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    out.toSeq
  }

  for ((seed, rename) <- Seq((11L, true), (23L, false), (37L, true))) {
    test(s"batch changes, a one-unit-per-trigger stream and the snapshot diff agree (seed $seed)") {
      val (dir, ops, renamed) = history(seed, rename)
      val t = QbeastTable.forPath(spark, dir)
      val head = t.snapshot.version
      val width = t.snapshot.schema.get.fields.length
      def changes(v1: Long) = Bag.ofFeed(t.changes(v1, head).collect().toSeq, width)
      def snapshotDiff(v1: Long) = Bag.diff(at(dir, v1 - 1), at(dir, head))
      val all = changes(1L)
      assert(all.sameAs(snapshotDiff(1L)),
        s"changes(1, $head) $all != snapshot diff ${snapshotDiff(1L)}; history: ${ops.mkString("; ")}")
      val v1 = math.max(1L, renamed + 1)
      val stream = Bag.ofFeed(streamed(dir, v1), width)
      val batch = changes(v1)
      assert(stream.sameAs(batch) && batch.sameAs(snapshotDiff(v1)),
        s"from $v1: stream $stream, batch $batch, snapshot diff ${snapshotDiff(v1)}; " +
          s"history: ${ops.mkString("; ")}")
    }
  }
}
