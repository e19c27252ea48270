package graft

import graft.table.{MergeClause, QbeastTable}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftTestShims
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/**
 * The Spark job budget of every DML verb, writer and maintenance
 * rewrite. At small sizes an operation's latency is set by how many plans
 * and jobs it runs, not by its data, so an operation that grows a job
 * fails here. Each DML verb runs once on a small change-feed table under
 * copy-on-write and under deletion vectors, in the order and shape of
 * lifebench's `mutate` rotation; the writers and rewrites run once each
 * on small tables. A listener counts the jobs of each job group.
 */
class DmlJobBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Jobs started under `group`, counted by a listener. */
  private final class JobCounter extends SparkListener {
    val group = s"dml-budget-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        jobs.incrementAndGet()
  }

  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val counter = new JobCounter
    GraftTestShims.drainListeners(sc)
    sc.addSparkListener(counter)
    sc.setJobGroup(counter.group, "dml job budget")
    try body
    finally {
      sc.clearJobGroup()
      GraftTestShims.drainListeners(sc)
      sc.removeSparkListener(counter)
    }
    counter.jobs.get
  }

  private type Row5 = (Long, Double, Int, Long, Int)

  private def rows(from: Long, n: Int, b: Int): Seq[Row5] =
    (0 until n).map { i =>
      val id = from + i
      (id, (id * 37 % 1000) / 10.0, (id % 100).toInt, id * 7919 % 1000000, b)
    }

  /** Per mode and verb: the most jobs it may run. Discovery 1, stats
   * pass 1, write 2 (the write exchange and the writer stage), feed 1; a
   * key join adds the broadcast of its build side. Under deletion
   * vectors a delete writes no rows. `deleteMatched` with a local
   * single-key source filters on the key values, so it runs no
   * broadcast. */
  private val budgets = Map(
    "cow" -> Map(
      "metadata_delete" -> 1,
      "delete" -> 4,
      "update" -> 5,
      "upsert" -> 6,
      "merge" -> 6,
      "delete_matched" -> 4),
    "dv" -> Map(
      "delete" -> 2,
      "update" -> 5,
      "upsert" -> 6,
      "merge" -> 6,
      "delete_matched" -> 2))

  Seq("cow", "dv").foreach { mode =>
    test(s"every DML verb stays within its Spark job budget ($mode)") {
      val dir = TestSpark.tmpDir(s"dml-budget-$mode")
      Seq(0, 1).foreach { b =>
        rows(b * 300L, 300, b).toDF("id", "x", "y", "v", "b")
          .write.format("qbeast").mode(if (b == 0) "overwrite" else "append")
          .option("columnsToIndex", "x,y").option("cubeSize", "100")
          .option("enableChangeDataFeed", "true")
          .option("deletionVectors", (mode == "dv").toString).save(dir)
      }
      val t = QbeastTable.forPath(spark, dir)
      var model: Map[Long, Row5] = (rows(0L, 300, 0) ++ rows(300L, 300, 1)).map(r => r._1 -> r).toMap
      def frame(rs: Seq[Row5]) = rs.toDF("id", "x", "y", "v", "b")
      val used = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      if (mode == "cow") {
        used("metadata_delete") = jobsOf(t.delete("b = 1"))
        model = model.filterNot(_._2._5 == 1)
      }
      used("delete") = jobsOf(t.delete("x >= 10.0 AND x < 11.0"))
      model = model.filterNot(kv => kv._2._2 >= 10.0 && kv._2._2 < 11.0)
      used("update") = jobsOf(t.update("x >= 20.0 AND x < 24.0", Map("v" -> "v + 1")))
      model = model.map { case (k, r) =>
        k -> (if (r._2 >= 20.0 && r._2 < 24.0) r.copy(_4 = r._4 + 1) else r)
      }
      val ups = (100L until 110L).map(model).map(r => r.copy(_4 = r._4 + 7)) ++ rows(1000L, 10, 9)
      used("upsert") = jobsOf(t.upsert(frame(ups), Seq("id")))
      model ++= ups.map(r => r._1 -> r)
      val mrg = (150L until 160L).map(model).map(r => r.copy(_4 = r._4 * 3 % 1000000)) ++
        rows(2000L, 10, 9)
      used("merge") = jobsOf(t.mergeOn(frame(mrg), Seq("id" -> "id"),
        matched = Seq(MergeClause(Some(col("__src_v") > col("v")),
          Some(Map("v" -> col("__src_v"))))),
        notMatched = Seq(MergeClause(None,
          Some(Seq("id", "x", "y", "v", "b").map(c => c -> col(c)).toMap))),
        notMatchedBySource = Nil))
      mrg.foreach { s =>
        model.get(s._1) match {
          case Some(tg) => if (s._4 > tg._4) model += s._1 -> tg.copy(_4 = s._4)
          case None => model += s._1 -> s
        }
      }
      used("delete_matched") =
        jobsOf(t.deleteMatched(frame((200L until 210L).map(model)).select("id"), Seq("id")))
      model --= (200L until 210L)
      info(used.map { case (v, n) => s"$v=$n" }.mkString(" "))
      val budget = budgets(mode)
      val over = used.filter { case (v, n) => n > budget(v) }
      assert(over.isEmpty, s"verbs over their job budget ($mode): " +
        over.map { case (v, n) => s"$v ran $n jobs, budget ${budget(v)}" }.mkString("; "))
      // the verbs did their work
      val back = spark.read.format("qbeast").load(dir).agg(count(lit(1)), sum("v")).head()
      assert((back.getLong(0), back.getLong(1)) === (model.size.toLong, model.values.map(_._4).sum))
    }
  }

  /** Per writer and rewrite: the most jobs it may run. Every writer makes
   * one pass over its rows (count, indexed min/max, cube domains under the
   * existing space: 1 job) and one write (2 jobs: the write exchange and
   * the writer stage). A first write or a new revision re-runs the domain
   * pass under the new space (1 more). A rewrite reads no row count: rows
   * that stay in their revision keep its frozen weights (write only),
   * rows moving into another revision take one domain pass, which also
   * counts them; every revision group rides the one write. */
  private val writeBudget = Map(
    "first_write" -> 4, // pass 1, domain pass under the new space 1, write 2
    "append" -> 3, // pass 1 (its domains reused), write 2
    "extending_append" -> 4, // pass 1, domain pass under the widened space 1, write 2
    "overwrite" -> 3, // same space: pass 1 (domains reused), write 2
    "optimize" -> 2, // frozen: write 2
    "compact_small_files" -> 3, // revision 2's group fresh 1, revision 3's frozen, write 2
    "compact_revisions" -> 3, // one fresh group 1, write 2
    "optimize_files" -> 3, // staging fresh 1, indexed frozen, write 2
    "optimize_unindexed" -> 3) // staging fresh 1, write 2

  test("every writer and maintenance rewrite stays within its Spark job budget") {
    val used = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def frame(rs: Seq[Row5]) = rs.toDF("id", "x", "y", "v", "b")
    def write(dir: String, rs: Seq[Row5], mode: String) =
      frame(rs).write.format("qbeast").mode(mode)
        .option("columnsToIndex", "x,y").option("cubeSize", "100").save(dir)
    def snap(dir: String) =
      graft.log.QbeastLog.snapshot(dir, spark.sparkContext.hadoopConfiguration)
    /** Each live row with the revision of the file holding it. */
    def content(dir: String): Set[(Row5, Long)] = {
      val revisionOf = snap(dir).files.map(f => name(f) -> f.revisionId).toMap
      spark.read.format("qbeast").load(dir)
        .select($"id", $"x", $"y", $"v", $"b", $"_metadata.file_path")
        .as[(Long, Double, Int, Long, Int, String)].collect()
        .map(r => ((r._1, r._2, r._3, r._4, r._5),
          revisionOf(new org.apache.hadoop.fs.Path(r._6).getName)))
        .toSet
    }
    /** Runs `op` as `name`, then checks the table holds every model row
     * in the revision the model gives it. */
    def step(label: String, dir: String, model: => Map[Long, (Row5, Long)])(op: => Any): Unit = {
      used(label) = jobsOf(op)
      assert(content(dir) === model.values.toSet, s"$label: table content or revisions")
    }
    def name(f: graft.core.model.IndexFile) = new org.apache.hadoop.fs.Path(f.path).getName
    /** The ids of the rows in the named files. */
    def idsIn(dir: String, names: Set[String]): Set[Long] =
      spark.read.format("qbeast").load(dir).select($"id", $"_metadata.file_path")
        .as[(Long, String)].collect()
        .filter(r => names.contains(new org.apache.hadoop.fs.Path(r._2).getName)).map(_._1).toSet
    // x spans [0, 99.9] and y [0, 99] from the first 300 ids on, so later
    // ids stay in range; shifting x out of it cuts a widened revision
    def shifted(rs: Seq[Row5]) = rs.map(r => r.copy(_2 = r._2 + 200.0))

    val dir = TestSpark.tmpDir("write-budget")
    var model: Map[Long, (Row5, Long)] = Map.empty
    def add(rs: Seq[Row5], rev: Long): Unit = model ++= rs.map(r => r._1 -> (r, rev))
    add(rows(0L, 300, 0), 1L)
    step("first_write", dir, model)(write(dir, rows(0L, 300, 0), "overwrite"))
    add(rows(300L, 300, 1), 1L)
    step("append", dir, model)(write(dir, rows(300L, 300, 1), "append"))
    // an overwrite keeping the space takes the next revision ID
    model = Map.empty
    add(rows(0L, 600, 2), 2L)
    step("overwrite", dir, model)(write(dir, rows(0L, 600, 2), "overwrite"))
    // tiny appends: small files in revision 2, then in revision 3
    val tinyIn2 = (0 until 4).map(i => rows(1000L + 5 * i, 5, 3))
    tinyIn2.foreach { rs => write(dir, rs, "append"); add(rs, 2L) }
    add(shifted(rows(2000L, 100, 4)), 3L)
    step("extending_append", dir, model)(write(dir, shifted(rows(2000L, 100, 4)), "append"))
    val tinyIn3 = (0 until 4).map(i => rows(3000L + 5 * i, 5, 5))
    tinyIn3.foreach { rs => write(dir, rs, "append"); add(rs, 3L) }
    val t = QbeastTable.forPath(spark, dir)
    // the files below a cut just above the tiny appends' largest fold
    // into revision 3: revision 2's move in fresh, revision 3's keep
    // their frozen weights
    val tinyIds = (tinyIn2 ++ tinyIn3).flatten.map(_._1).toSet
    val tinyFiles = spark.read.format("qbeast").load(dir).select($"id", $"_metadata.file_path")
      .as[(Long, String)].collect().filter(r => tinyIds(r._1))
      .map(r => new org.apache.hadoop.fs.Path(r._2).getName).toSet
    val cut = snap(dir).files.filter(f => tinyFiles(name(f))).map(_.size).max + 1
    val small = snap(dir).files.filter(_.size < cut)
    assert(small.map(_.revisionId).toSet === Set(2L, 3L))
    val smallIds = idsIn(dir, small.map(name).toSet)
    model = model.map { case (id, (r, rev)) => id -> (r, if (smallIds(id)) 3L else rev) }
    step("compact_small_files", dir, model)(t.compactSmallFiles(cut, 2))
    step("optimize", dir, model)(t.optimize())
    model = model.map { case (id, (r, _)) => id -> (r, 3L) }
    step("compact_revisions", dir, model)(t.compactRevisions())

    // staging files: a converted parquet table, then an indexed append
    // (revision 1) and a range-extending one (revision 2)
    val sdir = TestSpark.tmpDir("write-budget-staging")
    frame(rows(5000L, 40, 6)).repartition(2).write.mode("overwrite").parquet(sdir)
    QbeastTable.convertFromParquet(spark, sdir)
    write(sdir, rows(0L, 300, 0), "append")
    write(sdir, shifted(rows(400L, 50, 7)), "append")
    val st = QbeastTable.forPath(spark, sdir)
    val staging = snap(sdir).unindexedFiles
    assert(staging.size === 2)
    val indexed = snap(sdir).filesOfRevision(1L).head
    var smodel = Seq(rows(5000L, 40, 6) -> 0L, rows(0L, 300, 0) -> 1L,
      shifted(rows(400L, 50, 7)) -> 2L).flatMap { case (rs, rev) => rs.map(r => r._1 -> (r, rev)) }
      .toMap
    assert(content(sdir) === smodel.values.toSet, "staging table before the rewrites")
    // the staging file moves into the latest revision, the indexed one
    // stays in its own
    val fromStaging = idsIn(sdir, Set(name(staging.head)))
    assert(fromStaging.nonEmpty)
    smodel = smodel.map { case (id, (r, rev)) => id -> (r, if (fromStaging(id)) 2L else rev) }
    step("optimize_files", sdir, smodel)(st.optimizeFiles(Seq(staging.head.path, indexed.path)))
    smodel = smodel.map { case (id, (r, rev)) => id -> (r, if (rev == 0L) 2L else rev) }
    step("optimize_unindexed", sdir, smodel)(st.optimizeUnindexed())

    info(used.map { case (v, n) => s"$v=$n" }.mkString(" "))
    val over = used.filter { case (v, n) => n > writeBudget(v) }
    assert(over.isEmpty, "writers over their job budget: " +
      over.map { case (v, n) => s"$v ran $n jobs, budget ${writeBudget(v)}" }.mkString("; "))
  }
}
