package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pre-commit hook landing an APPEND between an optimize's rewrite and
 * its commit — the deterministic optimize-vs-append race, optimize
 * rebasing. */
class MidOptimizeAppendHook extends graft.write.PreCommitHook {
  override def name: String = "race-append"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    import spark.implicits._
    (10000L until 10100L).map(i => (i, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "200")
      .mode("append").save(MidOptimizeAppendHook.tableDir.get())
    Map.empty
  }
}

object MidOptimizeAppendHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** Pre-commit hook running an OPTIMIZE between an append's file write
 * and its commit — the same race with the append rebasing. */
class MidAppendOptimizeHook extends graft.write.PreCommitHook {
  override def name: String = "race-optimize"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    graft.table.QbeastTable.forPath(spark, MidAppendOptimizeHook.tableDir.get()).optimize()
    Map.empty
  }
}

object MidAppendOptimizeHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** Pre-commit hook landing an APPEND and then a dv DELETE between an
 * optimize's rewrite and its commit — the three-way interleaving with
 * the optimize rebasing over two different commit kinds at once. */
class MidOptimizeAppendDvHook extends graft.write.PreCommitHook {
  override def name: String = "race-append-dv"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    import spark.implicits._
    val dir = MidOptimizeAppendDvHook.tableDir.get()
    (10000L until 10100L).map(i => (i, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "200")
      .mode("append").save(dir)
    graft.table.QbeastTable.forPath(spark, dir).delete("a % 100 = 7")
    Map.empty
  }
}

object MidOptimizeAppendDvHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** Pre-commit hook landing a dv DELETE and then an OPTIMIZE between an
 * append's file write and its commit. */
class MidAppendDvOptimizeHook extends graft.write.PreCommitHook {
  override def name: String = "race-dv-optimize"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    val t = graft.table.QbeastTable.forPath(
      spark, MidAppendDvOptimizeHook.tableDir.get())
    t.delete("a % 100 = 7")
    t.optimize()
    Map.empty
  }
}

object MidAppendDvOptimizeHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** DML pre-commit hook (session-conf seam) landing an APPEND between a
 * dv DELETE's vector computation and its commit — the delete rebases. */
class MidDmlAppendHook extends graft.write.PreCommitHook {
  override def name: String = "dml-race-append"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    import spark.implicits._
    (10000L until 10100L).map(i => (i, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "200")
      .mode("append").save(MidDmlAppendHook.tableDir.get())
    Map.empty
  }
}

object MidDmlAppendHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** DML pre-commit hook landing an OPTIMIZE mid-delete: the optimize
 * rewrites the delete's target files, so the rebase guard must refuse
 * the stale vectors instead of resurrecting or double-deleting. */
class MidDmlOptimizeHook extends graft.write.PreCommitHook {
  override def name: String = "dml-race-optimize"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    graft.table.QbeastTable.forPath(spark, MidDmlOptimizeHook.tableDir.get()).optimize()
    Map.empty
  }
}

object MidDmlOptimizeHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

class RobustnessSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("optimize racing an append: deterministic, both orders, exact rows") {
    import spark.implicits._
    def seed(dir: String): Unit =
      (0L until 1000L).map(i => (i, i * 2.0)).toDF("a", "b")
        .write.format("qbeast").option("columnsToIndex", "a,b")
        .option("cubeSize", "200").save(dir)

    // order 1: the APPEND lands mid-optimize; optimize (dataChange =
    // false) must rebase and commit without losing the appended rows or
    // duplicating the rewritten ones
    val dir1 = TestSpark.tmpDir("optrace-det1")
    seed(dir1)
    MidOptimizeAppendHook.tableDir.set(dir1)
    graft.table.QbeastTable.forPath(spark, dir1).optimize(
      options = Map("hook.race" -> classOf[MidOptimizeAppendHook].getName))
    val back1 = spark.read.format("qbeast").load(dir1)
    assert(back1.count() === 1100L)
    assert(back1.select("a").distinct().count() === 1100L, "no duplicated rows")
    // history: the append committed BETWEEN the optimize's snapshot and
    // its commit (the race actually happened)
    val ops1 = graft.table.QbeastTable.forPath(spark, dir1).history().map(_.operation)
    assert(ops1 == Seq("WRITE", "WRITE", "OPTIMIZE"), ops1.toString)

    // order 2: the OPTIMIZE lands mid-append; the append must rebase,
    // keep the optimize's rewrite (no resurrected pre-optimize files)
    // and land its own rows exactly once
    val dir2 = TestSpark.tmpDir("optrace-det2")
    seed(dir2)
    val preOpt = graft.log.QbeastLog
      .snapshot(dir2, spark.sparkContext.hadoopConfiguration).files.map(_.path).toSet
    MidAppendOptimizeHook.tableDir.set(dir2)
    (10000L until 10100L).map(i => (i, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "200")
      .option("hook.race", classOf[MidAppendOptimizeHook].getName)
      .mode("append").save(dir2)
    val back2 = spark.read.format("qbeast").load(dir2)
    assert(back2.count() === 1100L)
    assert(back2.select("a").distinct().count() === 1100L, "no duplicated rows")
    // the optimize's removals stay removed: none of the seed files the
    // optimize rewrote may be live again
    val snap2 = graft.log.QbeastLog
      .snapshot(dir2, spark.sparkContext.hadoopConfiguration)
    val resurrected = snap2.files.map(_.path).toSet.intersect(preOpt)
    assert(resurrected.isEmpty, s"rewritten files resurrected: $resurrected")
    val ops2 = graft.table.QbeastTable.forPath(spark, dir2).history().map(_.operation)
    assert(ops2 == Seq("WRITE", "OPTIMIZE", "WRITE"), ops2.toString)
  }

  test("three-way races: append vs optimize vs dv DELETE, each op in flight") {
    import spark.implicits._
    def seedDv(dir: String): Unit =
      (0L until 1000L).map(i => (i, i * 2.0)).toDF("a", "b")
        .write.format("qbeast").option("columnsToIndex", "a,b")
        .option("cubeSize", "200").option("deletionVectors", "true").save(dir)
    def content(dir: String) = spark.read.format("qbeast").load(dir)
    def checkClean(dir: String): Unit = {
      val t = graft.table.QbeastTable.forPath(spark, dir)
      assert(t.verifyIntegrity().isEmpty, t.verifyIntegrity().toString)
      val df = content(dir)
      assert(df.count() == df.select("a").distinct().count(), "duplicated rows")
    }

    // OPTIMIZE in flight; an append AND a dv delete land mid-rewrite:
    // the optimize must rebase (or drop its rewrite) without losing the
    // appended rows or resurrecting the masked ones
    val dirA = TestSpark.tmpDir("race3-opt")
    seedDv(dirA)
    MidOptimizeAppendDvHook.tableDir.set(dirA)
    graft.table.QbeastTable.forPath(spark, dirA).optimize(
      options = Map("hook.race" -> classOf[MidOptimizeAppendDvHook].getName))
    // delete hit 10 seed rows (7..907) and the appended 10007
    assert(content(dirA).count() == 1000L + 100L - 11L)
    assert(content(dirA).filter(col("a") % 100 === 7).count() == 0L,
      "masked rows resurrected by the rebasing optimize")
    checkClean(dirA)
    val opsA = graft.table.QbeastTable.forPath(spark, dirA).history().map(_.operation)
    assert(opsA.count(_ == "WRITE") == 2 && opsA.contains("DELETE"), opsA.toString)

    // APPEND in flight; a dv delete and a mask-materializing optimize
    // land before its commit: the append must rebase over both, keep
    // the optimize's removals removed and the deleted rows deleted
    val dirB = TestSpark.tmpDir("race3-app")
    seedDv(dirB)
    val preB = graft.log.QbeastLog
      .snapshot(dirB, spark.sparkContext.hadoopConfiguration).files.map(_.path).toSet
    MidAppendDvOptimizeHook.tableDir.set(dirB)
    (10000L until 10100L).map(i => (i, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "200")
      .option("hook.race", classOf[MidAppendDvOptimizeHook].getName)
      .mode("append").save(dirB)
    assert(content(dirB).count() == 1000L - 10L + 100L)
    // the delete ran BEFORE the append existed: only the appended
    // a%100=7 row (10007) survives
    assert(content(dirB).filter(col("a") % 100 === 7)
      .collect().map(_.getLong(0)).toSeq == Seq(10007L))
    val snapB = graft.log.QbeastLog
      .snapshot(dirB, spark.sparkContext.hadoopConfiguration)
    assert(snapB.files.map(_.path).toSet.intersect(preB).isEmpty,
      "optimize-rewritten files resurrected by the rebasing append")
    checkClean(dirB)

    // dv DELETE in flight; an APPEND lands between its vector write and
    // its commit: the delete rebases (targets untouched) and commits
    // with strict snapshot semantics — the appended a%100=7 row was
    // never in its snapshot, so it survives
    val dirC = TestSpark.tmpDir("race3-del-app")
    seedDv(dirC)
    MidDmlAppendHook.tableDir.set(dirC)
    spark.conf.set(graft.table.QbeastTable.DmlPreCommitHookKey,
      classOf[MidDmlAppendHook].getName)
    try {
      val n = graft.table.QbeastTable.forPath(spark, dirC).delete("a % 100 = 7")
      assert(n == 10L, s"delete saw the seed snapshot only, got $n")
    } finally spark.conf.unset(graft.table.QbeastTable.DmlPreCommitHookKey)
    assert(content(dirC).count() == 1000L - 10L + 100L)
    assert(content(dirC).filter(col("a") % 100 === 7)
      .collect().map(_.getLong(0)).toSeq == Seq(10007L))
    checkClean(dirC)
    val opsC = graft.table.QbeastTable.forPath(spark, dirC).history().map(_.operation)
    assert(opsC == Seq("WRITE", "WRITE", "DELETE"), opsC.toString)

    // dv DELETE in flight; an OPTIMIZE rewrites its target files before
    // the commit: stale vectors must be REFUSED (named error), content
    // untouched, and a re-run against the fresh state must succeed
    val dirD = TestSpark.tmpDir("race3-del-opt")
    seedDv(dirD)
    MidDmlOptimizeHook.tableDir.set(dirD)
    spark.conf.set(graft.table.QbeastTable.DmlPreCommitHookKey,
      classOf[MidDmlOptimizeHook].getName)
    val e = try intercept[java.util.ConcurrentModificationException] {
      graft.table.QbeastTable.forPath(spark, dirD).delete("a % 100 = 7")
    } finally spark.conf.unset(graft.table.QbeastTable.DmlPreCommitHookKey)
    assert(e.getMessage.contains("re-run"), e.getMessage)
    assert(content(dirD).count() == 1000L, "refused delete must not change content")
    checkClean(dirD)
    assert(graft.table.QbeastTable.forPath(spark, dirD).delete("a % 100 = 7") == 10L)
    assert(content(dirD).count() == 990L)
    checkClean(dirD)

    // the same two races for UPDATE, mergeOn and upsert under
    // copy-on-write and under deletion vectors: each sets b = -1 on the
    // ten seed rows a % 100 = 7
    def seedCow(dir: String): Unit =
      (0L until 1000L).map(i => (i, i * 2.0)).toDF("a", "b")
        .write.format("qbeast").option("columnsToIndex", "a,b")
        .option("cubeSize", "200").save(dir)
    val keys = 7L until 1000L by 100L
    val src = keys.map(i => (i, -1.0)).toDF("a", "b")
    val verbs: Seq[(String, graft.table.QbeastTable => Any)] = Seq(
      "update" -> (_.update("a % 100 = 7", Map("b" -> "-1.0"))),
      "mergeOn" -> (_.mergeOn(src, Seq("a" -> "a"),
        matched = Seq(graft.table.MergeClause(None, Some(Map("b" -> col("__src_b"))))),
        notMatched = Nil, notMatchedBySource = Nil)),
      "upsert" -> (_.upsert(src, Seq("a"))))
    def underDmlHook(hook: Class[_], dir: String, run: graft.table.QbeastTable => Any): Unit = {
      spark.conf.set(graft.table.QbeastTable.DmlPreCommitHookKey, hook.getName)
      try run(graft.table.QbeastTable.forPath(spark, dir))
      finally spark.conf.unset(graft.table.QbeastTable.DmlPreCommitHookKey)
    }
    def updated(dir: String): Seq[Long] =
      content(dir).filter(col("b") === -1.0).select("a").collect().map(_.getLong(0)).sorted.toSeq
    for ((mode, seed) <- Seq("cow" -> seedCow _, "dv" -> seedDv _); (verb0, run) <- verbs) {
      val verb = s"$verb0-$mode"
      // an APPEND lands mid-commit: the verb rebases, the appended rows
      // survive untouched
      val dirE = TestSpark.tmpDir(s"race3-$verb-app")
      seed(dirE)
      MidDmlAppendHook.tableDir.set(dirE)
      underDmlHook(classOf[MidDmlAppendHook], dirE, run)
      assert(content(dirE).count() == 1100L, verb)
      assert(updated(dirE) == keys, verb)
      // the dv seed must really take the masking strategy
      val masks = graft.log.QbeastLog
        .snapshot(dirE, spark.sparkContext.hadoopConfiguration).dvMaskedRows
      assert(masks == (if (mode == "dv") keys.size.toLong else 0L), s"$verb: $masks masked")
      checkClean(dirE)

      // an OPTIMIZE rewrites the verb's targets mid-commit: refused,
      // content unchanged
      val dirF = TestSpark.tmpDir(s"race3-$verb-opt")
      seed(dirF)
      MidDmlOptimizeHook.tableDir.set(dirF)
      val err = intercept[java.util.ConcurrentModificationException] {
        underDmlHook(classOf[MidDmlOptimizeHook], dirF, run)
      }
      assert(err.getMessage.contains("re-run"), s"$verb: ${err.getMessage}")
      assert(content(dirF).count() == 1000L && updated(dirF).isEmpty, verb)
      checkClean(dirF)
    }
  }

  test("seeded commit-loop stress: appends + dv deletes + optimizes, exact multiset") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("race3-stress")
    (0L until 1000L).map(i => (i, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("columnsToIndex", "a,b")
      .option("cubeSize", "200").option("deletionVectors", "true").save(dir)
    val rnd = new scala.util.Random(42)
    val deleteBatches: Seq[Seq[Long]] =
      rnd.shuffle((0L until 1000L).toVector).take(120).grouped(24).toSeq
    val appendRanges: Seq[(Long, Long)] =
      (0 until 5).map(i => (2000000L + i * 1000L, 2000000L + i * 1000L + 500L))

    def retrying[T](tag: String)(op: => T): T = {
      var attempts = 0
      while (true) {
        try return op
        catch {
          case _: java.util.ConcurrentModificationException |
              _: graft.log.ConcurrentCommitException if attempts < 20 =>
            attempts += 1
            Thread.sleep(rnd.synchronized(rnd.nextInt(40)).toLong)
        }
      }
      sys.error(s"$tag: unreachable")
    }

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(name: String)(body: => Unit): Thread = {
      val th = new Thread(() =>
        try body catch { case t: Throwable => errs.add(t) }, name)
      th.start(); th
    }
    val appender = thread("appender") {
      appendRanges.foreach { case (lo, hi) =>
        (lo until hi).map(i => (i, i * 2.0)).toDF("a", "b")
          .write.format("qbeast").option("cubeSize", "200")
          .mode("append").save(dir)
      }
    }
    val deleter = thread("deleter") {
      deleteBatches.foreach { keys =>
        retrying("delete") {
          graft.table.QbeastTable.forPath(spark, dir)
            .delete(s"a IN (${keys.mkString(",")})")
        }
      }
    }
    val optimizer = thread("optimizer") {
      (0 until 3).foreach { _ =>
        Thread.sleep(300)
        retrying("optimize") {
          graft.table.QbeastTable.forPath(spark, dir).optimize()
        }
      }
    }
    Seq(appender, deleter, optimizer).foreach(_.join(600000))
    assert(errs.isEmpty, errs.toArray.mkString("\n"))

    val deleted = deleteBatches.flatten.toSet
    val expected = ((0L until 1000L).filterNot(deleted) ++
      appendRanges.flatMap { case (lo, hi) => lo until hi }).sorted
    val got = spark.read.format("qbeast").load(dir)
      .select("a").collect().map(_.getLong(0)).toSeq.sorted
    assert(got == expected,
      s"multiset drift: got ${got.size} rows, expected ${expected.size}; " +
        s"missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
    val t = graft.table.QbeastTable.forPath(spark, dir)
    assert(t.verifyIntegrity().isEmpty, t.verifyIntegrity().toString)
  }

  test("null values in indexed columns round-trip and stay sampleable") {
    import spark.implicits._
    val data = (1 to 3000).map { i =>
      (if (i % 7 == 0) None else Some(i.toLong),
        if (i % 11 == 0) null else s"name_$i",
        i * 1.5)
    }.toDF("id", "name", "value")
    val dir = TestSpark.tmpDir("nulls")
    data.write.format("qbeast")
      .option("columnsToIndex", "id,value")
      .option("cubeSize", "500").save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 3000)
    assert(back.filter(col("id").isNull).count() == data.filter(col("id").isNull).count())
    assert(back.exceptAll(data).count() == 0 && data.exceptAll(back).count() == 0)
    val s = back.sample(0.2).count()
    assert(math.abs(s - 600) <= 120)
    // range filter must still see all non-null matches
    assert(back.filter(col("id") <= 1000).count() == data.filter(col("id") <= 1000).count())
  }

  test("single-value and tiny tables index as root-only (Identity transformation)") {
    import spark.implicits._
    val tiny = Seq((1L, "x"), (1L, "y"), (1L, "z")).toDF("k", "s")
    val dir = TestSpark.tmpDir("tiny")
    tiny.write.format("qbeast").option("columnsToIndex", "k").save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 3)
    assert(back.inputFiles.length == 1)
  }

  test("concurrent appends both land (optimistic retry)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = TestSpark.tmpDir("concurrent")
    li.limit(100).write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice").save(dir)
    val parts = (0 until 4).map(i => li.filter(col("l_orderkey") % 4 === i))
    val threads = parts.map { p =>
      new Thread(() => {
        p.write.format("qbeast")
          .option("columnsToIndex", "l_orderkey,l_extendedprice")
          .mode("append").save(dir)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 6000 + 100)
  }

  test("8 concurrent appenders + concurrent optimize: exact union, no lost updates") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = TestSpark.tmpDir("stress8")
    spark.conf.set("spark.qbeast.index.numberOfRetries", "50")
    try {
      // seed: bucket 8 of 9; eight appender threads race buckets 0-7
      // while another thread runs optimize in a loop
      li.filter(col("l_orderkey") % 9 === 8).write.format("qbeast")
        .option("columnsToIndex", "l_orderkey,l_extendedprice")
        .option("cubeSize", "500").save(dir)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appenders = (0 until 8).map { i =>
        new Thread(() => {
          try {
            li.filter(col("l_orderkey") % 9 === i).write.format("qbeast")
              .option("columnsToIndex", "l_orderkey,l_extendedprice")
              .mode("append").save(dir)
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      val optimizer = new Thread(() => {
        try {
          (1 to 3).foreach { _ =>
            graft.table.QbeastTable.forPath(spark, dir).optimize()
            Thread.sleep(25)
          }
        } catch { case t: Throwable => failures.add(t) }
      })
      (appenders :+ optimizer).foreach(_.start())
      (appenders :+ optimizer).foreach(_.join())
      assert(failures.isEmpty,
        s"concurrent writers failed: ${failures.toArray.mkString("; ")}")
      // exact multiset union: every source row exactly once, nothing else
      val back = spark.read.format("qbeast").load(dir)
      assert(back.count() === li.count())
      assert(back.exceptAll(li).count() === 0)
      assert(li.exceptAll(back).count() === 0)
      // a final quiescent optimize must preserve the union too
      graft.table.QbeastTable.forPath(spark, dir).optimize()
      val after = spark.read.format("qbeast").load(dir)
      assert(after.count() === li.count())
      assert(after.exceptAll(li).count() === 0)
    } finally spark.conf.unset("spark.qbeast.index.numberOfRetries")
  }

  test("racing optimizes: loser drops its rewrite, rows never duplicate") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = TestSpark.tmpDir("optrace")
    li.write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "500").save(dir)
    // both optimizes select overlapping files; whichever commits second
    // must detect its removes are gone on rebase and abort silently
    // (dropping a pure layout change is always safe) — never double-add
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try graft.table.QbeastTable.forPath(spark, dir).optimize()
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty,
      s"optimize must not surface races: ${failures.toArray.mkString("; ")}")
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === li.count())
    assert(back.exceptAll(li).count() === 0)
    assert(li.exceptAll(back).count() === 0)
  }

  test("empty dataframe write creates a readable empty table") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("a", "b")
    val dir = TestSpark.tmpDir("emptytbl")
    empty.write.format("qbeast").option("columnsToIndex", "a,b").save(dir)
    assert(spark.read.format("qbeast").load(dir).count() == 0)
  }

  // ---- commit-log fencing fault injection ----------------------------
  // The publish protocol is write-tmp → atomic link/rename → delete-tmp.
  // A crash at ANY point between those steps must never make a torn or
  // partial commit visible to replay, and must never fence out later
  // writers from the version.

  test("crash between tmp-write and publish: torn tmp is invisible, version stays claimable") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-torn")
    Seq((1L, 1.0), (2L, 2.0)).toDF("a", "b").write.format("qbeast")
      .option("columnsToIndex", "a,b").save(dir)
    // simulate a writer that died after staging its payload but before
    // the atomic link: a partial JSON tmp for the NEXT version
    val logDir = java.nio.file.Paths.get(dir, "_qbeast_log")
    val torn = logDir.resolve(
      ".00000000000000000001.json.dead-beef.tmp")
    java.nio.file.Files.write(torn,
      "{\"add\":{\"path\":\"torn".getBytes("UTF-8")) // mid-line crash
    graft.log.QbeastLog.invalidateCache()
    // replay ignores the tmp entirely
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === 2)
    // and version 1 is still claimable by a healthy writer
    Seq((3L, 3.0)).toDF("a", "b").write.format("qbeast")
      .mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir).count() === 3)
    val snap = graft.log.QbeastLog.snapshot(dir,
      spark.sparkContext.hadoopConfiguration)
    assert(snap.version === 1L)
  }

  test("same-version race: exactly one winner, loser leaves no residue") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-race")
    Seq((1L, 1.0)).toDF("a", "b").write.format("qbeast")
      .option("columnsToIndex", "a,b").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val v0 = graft.log.QbeastLog.snapshot(dir, conf).version
    graft.log.QbeastLog.commit(dir, conf, v0,
      Seq(graft.log.TxnAction("winner", 1L)))
    intercept[graft.log.ConcurrentCommitException] {
      graft.log.QbeastLog.commit(dir, conf, v0,
        Seq(graft.log.TxnAction("loser", 2L)))
    }
    val snap = graft.log.QbeastLog.snapshot(dir, conf)
    assert(snap.txns.get("winner").contains(1L))
    assert(!snap.txns.contains("loser"))
    // the losing attempt must clean its staging tmp
    val logDir = new java.io.File(dir, "_qbeast_log")
    val tmps = logDir.listFiles().filter(_.getName.endsWith(".tmp"))
    assert(tmps.isEmpty, s"stray tmp files: ${tmps.mkString(", ")}")
  }

  test("orphan data file from a crashed pre-commit writer is never read") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-orphan")
    Seq((1L, 1.0), (2L, 2.0)).toDF("a", "b").write.format("qbeast")
      .option("columnsToIndex", "a,b").save(dir)
    // a task wrote its parquet, then the job died before commit: copy a
    // live file under an uncommitted name (valid parquet, no log entry)
    val table = java.nio.file.Paths.get(dir)
    val live = java.nio.file.Files.list(table).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(live, table.resolve("deadbeef-orphan.parquet"))
    graft.log.QbeastLog.invalidateCache()
    // reads list from the log, never the directory — the orphan is invisible
    assert(spark.read.format("qbeast").load(dir).count() === 2)
  }

  test("crash mid-checkpoint: torn tmps invisible, checkpointing still completes") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-ckpt")
    (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("columnsToIndex", "a,b")
      .option("cubeSize", "100").save(dir)
    (501 to 600).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").mode("append").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val logDir = java.nio.file.Paths.get(dir, "_qbeast_log")
    // a checkpoint writer that died mid-stream: partial checkpoint tmp
    java.nio.file.Files.write(
      logDir.resolve(".00000000000000000001.checkpoint.json.dead.tmp"),
      "{\"add\":{\"path\":\"torn".getBytes("UTF-8"))
    // and a sidecar writer that died before publishing its parquet
    val sidecarDir = java.nio.file.Paths.get(dir, "_qbeast_meta")
    java.nio.file.Files.createDirectories(sidecarDir)
    java.nio.file.Files.write(sidecarDir.resolve(".crashed.parquet.tmp"),
      Array[Byte](1, 2, 3))
    graft.log.QbeastLog.invalidateCache()
    // replay is unaffected by either torn artifact
    val snap = graft.log.QbeastLog.snapshot(dir, conf)
    assert(snap.files.map(_.elementCount).sum == 600L)
    assert(spark.read.format("qbeast").load(dir).count() === 600)
    // a healthy checkpoint still lands at the same version afterwards
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    graft.log.QbeastLog.writeCheckpoint(fs, snap)
    graft.log.QbeastLog.invalidateCache()
    val replayed = graft.log.QbeastLog.snapshot(dir, conf)
    assert(replayed.files.map(_.elementCount).sum == 600L)
    assert(replayed.version == snap.version)
  }

  test("crash mid-vacuum: partial deletion is harmless and the re-run completes") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-vac")
    (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("columnsToIndex", "a,b")
      .option("cubeSize", "50").save(dir)
    // overwrite → every first-write file becomes a tombstoned dead file
    (1 to 100).map(i => (i.toLong, i * 3.0)).toDF("a", "b")
      .write.format("qbeast").mode("overwrite").save(dir)
    val t = graft.table.QbeastTable.forPath(spark, dir)
    val live = t.snapshot.files.map(f =>
      new org.apache.hadoop.fs.Path(f.path).getName).toSet
    val table = java.nio.file.Paths.get(dir)
    val dead = java.nio.file.Files.list(table).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !live.contains(p.getFileName.toString)).toVector
    assert(dead.size > 1, "fixture needs several dead files")
    // simulate a vacuum that crashed after deleting HALF the dead set
    dead.take(dead.size / 2).foreach(java.nio.file.Files.delete(_))
    graft.log.QbeastLog.invalidateCache()
    // reads never touch dead files — content is unaffected
    assert(spark.read.format("qbeast").load(dir).count() === 100)
    // the re-run completes, skipping the already-deleted names without
    // erroring, and reclaims the rest
    val reclaimed = t.vacuum(retainMillis = 0L, force = true)
    assert(reclaimed >= dead.size - dead.size / 2,
      s"re-run reclaimed $reclaimed of ${dead.size - dead.size / 2} remaining")
    val left = java.nio.file.Files.list(table).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(_.getFileName.toString).toSet
    assert(left == live, "post-vacuum directory must hold exactly the live files")
    assert(spark.read.format("qbeast").load(dir).count() === 100)
  }

  test("vacuum never deletes files a retention-window asOf reader can still name") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-vac-asof")
    (1 to 60).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("columnsToIndex", "a,b")
      .option("cubeSize", "50").save(dir)
    (1 to 30).map(i => (i.toLong, i * 3.0)).toDF("a", "b")
      .write.format("qbeast").mode("overwrite").save(dir)
    val t = graft.table.QbeastTable.forPath(spark, dir)
    // tombstones are seconds old: a vacuum at the minimum legal
    // retention must delete NOTHING — version 0's files are all still
    // inside every reader's window
    assert(t.vacuum(retainMillis = graft.table.QbeastTable.MinRetentionMillis) == 0)
    val v0 = spark.read.format("qbeast").option("versionAsOf", "0").load(dir)
    assert(v0.count() === 60, "asOf reader inside the retention window broke")
    assert(v0.agg(org.apache.spark.sql.functions.sum("b")).head.getDouble(0) ==
      (1 to 60).map(_ * 2.0).sum)
  }

  test("out-of-band log truncation invalidates the snapshot cache") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("fence-cache")
    Seq((1L, 1.0)).toDF("a", "b").write.format("qbeast")
      .option("columnsToIndex", "a,b").save(dir)
    Seq((2L, 2.0)).toDF("a", "b").write.format("qbeast")
      .mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir).count() === 2)
    // surgery: drop the newest commit (e.g. manual disaster recovery) —
    // the cached snapshot must not survive the fingerprint change
    val logDir = java.nio.file.Paths.get(dir, "_qbeast_log")
    java.nio.file.Files.delete(
      logDir.resolve("00000000000000000001.json"))
    assert(spark.read.format("qbeast").load(dir).count() === 1)
  }

}
