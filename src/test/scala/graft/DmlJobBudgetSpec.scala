package graft

import graft.table.{MergeClause, QbeastTable}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftTestShims
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/**
 * The Spark job budget of every DML verb. At small sizes a verb's
 * latency is set by how many plans and jobs it runs, not by its data, so
 * a verb that grows a job fails here. Each verb runs once on a small
 * change-feed table under copy-on-write and under deletion vectors, in
 * the order and shape of lifebench's `mutate` rotation, with a listener
 * counting the jobs of its job group.
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

  /** Per verb: the most jobs it may run under copy-on-write and under
   * deletion vectors. Discovery 1, stats pass 1, write 2 (the write
   * exchange and the writer stage), feed 1; a key join adds the
   * broadcast of its build side. */
  private val budget = Map(
    "metadata_delete" -> 1,
    "delete" -> 4,
    "update" -> 5,
    "upsert" -> 6,
    "merge" -> 6,
    "delete_matched" -> 5)

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
      val over = used.filter { case (v, n) => n > budget(v) }
      assert(over.isEmpty, s"verbs over their job budget ($mode): " +
        over.map { case (v, n) => s"$v ran $n jobs, budget ${budget(v)}" }.mkString("; "))
      // the verbs did their work
      val back = spark.read.format("qbeast").load(dir).agg(count(lit(1)), sum("v")).head()
      assert((back.getLong(0), back.getLong(1)) === (model.size.toLong, model.values.map(_._4).sum))
    }
  }
}
