package graft

import graft.table.QbeastTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Merge-on-read UPDATE via deletion vectors (the q90 surface): matched
 * rows are masked, their updated images appended — one atomic commit,
 * survivors never read or rewritten. The sparse-UPDATE shape at 100 TB.
 */
class DvUpdateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeTable(dir: String, rows: Int = 10000,
      extra: Map[String, String] = Map.empty): Unit = {
    var w = (1 to rows).map(i => (i.toLong, i % 97, i * 2.0)).toDF("id", "k", "v")
      .write.format("qbeast")
      .option("columnsToIndex", "id,v")
      .option("cubeSize", "1000")
      .option("deletionVectors", "true")
    extra.foreach { case (kk, vv) => w = w.option(kk, vv) }
    w.save(dir)
  }

  private def back(dir: String): DataFrame =
    spark.read.format("qbeast").load(dir)

  test("sparse UPDATE masks + appends; no file is rewritten") {
    val dir = TestSpark.tmpDir("dvu-basic")
    writeTable(dir)
    val t = QbeastTable.forPath(spark, dir)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    val updated = t.update("k = 13", Map("v" -> "v + 0.5"))
    val expectN = (1 to 10000).count(_ % 97 == 13).toLong
    assert(updated === expectN)
    val s = t.snapshot
    assert(filesBefore.subsetOf(s.files.map(_.path).toSet),
      "merge-on-read UPDATE must keep every pre-update file (masked, not rewritten)")
    assert(s.files.size > filesBefore.size, "the updated images are new adds")
    assert(s.dvs.nonEmpty && s.dvMaskedRows === expectN)
    // content: updated rows carry +0.5, everything else bit-identical
    assert(back(dir).count() === 10000L)
    val got = back(dir).filter(col("k") === 13).agg(sum("v")).head().getDouble(0)
    val exp = (1 to 10000).filter(_ % 97 == 13).map(i => i * 2.0 + 0.5).sum
    assert(math.abs(got - exp) < 1e-6)
    assert(back(dir).filter(col("k") =!= 13)
      .agg(sum("v")).head().getDouble(0) ===
      (1 to 10000).filterNot(_ % 97 == 13).map(i => i * 2.0).sum)
  }

  test("a second UPDATE on the same files unions into replacement vectors") {
    val dir = TestSpark.tmpDir("dvu-union")
    writeTable(dir, rows = 3000)
    val t = QbeastTable.forPath(spark, dir)
    val n1 = t.update("k = 7", Map("v" -> "0.0"))
    val n2 = t.update("k = 11", Map("v" -> "1.0"))
    assert(t.snapshot.dvMaskedRows === n1 + n2,
      "replacement vectors must carry BOTH updates' masks")
    assert(back(dir).count() === 3000L)
    assert(back(dir).filter(col("k") === 7 && col("v") =!= 0.0).count() === 0L)
    assert(back(dir).filter(col("k") === 11 && col("v") =!= 1.0).count() === 0L)
  }

  test("a large UPDATE falls back to copy-on-write") {
    val dir = TestSpark.tmpDir("dvu-budget")
    writeTable(dir, rows = 2000)
    val t = QbeastTable.forPath(spark, dir)
    // >50% of every file matched: masking would exceed the budget
    val updated = t.update("k < 80", Map("v" -> "v * 2"))
    assert(updated === (1 to 2000).count(_ % 97 < 80).toLong)
    assert(t.snapshot.dvs.isEmpty,
      "over-budget UPDATE must rewrite (copy-on-write), not mask")
    val got = back(dir).agg(sum("v")).head().getDouble(0)
    val exp = (1 to 2000).map(i =>
      if (i % 97 < 80) i * 4.0 else i * 2.0).sum
    assert(math.abs(got - exp) < 1e-6)
  }

  test("UPDATE moving an indexed column outside the space cuts a merged revision") {
    val dir = TestSpark.tmpDir("dvu-revision")
    writeTable(dir, rows = 2000)
    val t = QbeastTable.forPath(spark, dir)
    val revsBefore = t.revisionIDs.size
    // v is indexed with data range [2, 4000]: pushing matched rows to
    // 1e7 leaves the frozen space → new merged revision, like an append
    val updated = t.update("k = 5", Map("v" -> "v + 10000000.0"))
    assert(updated === (1 to 2000).count(_ % 97 == 5).toLong)
    assert(t.revisionIDs.size === revsBefore + 1,
      "out-of-space update must cut a new revision")
    assert(back(dir).filter(col("v") > 1000000.0).count() === updated)
    assert(back(dir).count() === 2000L)
  }

  test("changes() replays a dv UPDATE commit as deletes + inserts (no change file)") {
    val dir = TestSpark.tmpDir("dvu-changes")
    writeTable(dir, rows = 2000)
    val t = QbeastTable.forPath(spark, dir)
    val v0 = t.snapshot.version
    assert(t.update("k = 23", Map("v" -> "v + 1.0")) > 0L)
    val n = (1 to 2000).count(_ % 97 == 23).toLong
    val feed = t.changes(v0 + 1)
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.get("delete").contains(n), s"pre-images as deletes: $byType")
    assert(byType.get("insert").contains(n), s"post-images as inserts: $byType")
    // the delete rows are the OLD values, the insert rows the NEW ones
    val delSum = feed.filter(col("_change_type") === "delete")
      .agg(sum("v")).head().getDouble(0)
    val insSum = feed.filter(col("_change_type") === "insert")
      .agg(sum("v")).head().getDouble(0)
    assert(math.abs(insSum - delSum - n * 1.0) < 1e-6)
  }

  test("CDF-enabled dv UPDATE persists one change file with pre/post images") {
    val dir = TestSpark.tmpDir("dvu-cdf")
    writeTable(dir, rows = 2000, extra = Map("enableChangeDataFeed" -> "true"))
    val t = QbeastTable.forPath(spark, dir)
    val v0 = t.snapshot.version
    assert(t.update("k = 29", Map("v" -> "-1.0")) > 0L)
    val n = (1 to 2000).count(_ % 97 == 29).toLong
    val feed = t.changes(v0 + 1)
    assert(feed.filter(col("_change_type") === "delete").count() === n)
    val ins = feed.filter(col("_change_type") === "insert")
    assert(ins.count() === n)
    assert(ins.filter(col("v") =!= -1.0).count() === 0L)
  }

  test("merge-on-read upsert masks matched keys and appends all source rows") {
    val dir = TestSpark.tmpDir("dvu-upsert")
    writeTable(dir, rows = 3000)
    val t = QbeastTable.forPath(spark, dir)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    // ids 10, 20 exist (replaced); 99999 is new (inserted)
    val src = Seq((10L, 10 % 97, -1.0), (20L, 20 % 97, -2.0),
      (99999L, 0, -3.0)).toDF("id", "k", "v")
    val (replaced, inserted) = t.upsert(src, Seq("id"))
    assert(replaced === 2L && inserted === 3L)
    val s = t.snapshot
    assert(filesBefore.subsetOf(s.files.map(_.path).toSet),
      "merge-on-read upsert must keep every pre-upsert file")
    assert(s.dvs.nonEmpty && s.dvMaskedRows === 2L)
    assert(back(dir).count() === 3001L)
    assert(back(dir).filter(col("id") === 10L).select("v").head().getDouble(0) === -1.0)
    assert(back(dir).filter(col("id") === 99999L).count() === 1L)
  }

  test("merge-on-read upsert still rejects duplicate matching source keys") {
    val dir = TestSpark.tmpDir("dvu-upsert-dup")
    writeTable(dir, rows = 1000)
    val t = QbeastTable.forPath(spark, dir)
    val v0 = t.snapshot.version
    val dup = Seq((10L, 1, -1.0), (10L, 2, -2.0)).toDF("id", "k", "v")
    val e = intercept[IllegalArgumentException] { t.upsert(dup, Seq("id")) }
    assert(e.getMessage.contains("unique"))
    assert(t.snapshot.version === v0, "failed upsert must not commit")
    assert(t.snapshot.dvs.isEmpty, "no vector may leak from the failed upsert")
  }

  test("deleteMatched masks the matched keys without rewriting") {
    val dir = TestSpark.tmpDir("dvu-delmatch")
    writeTable(dir, rows = 3000)
    val t = QbeastTable.forPath(spark, dir)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    // duplicate source keys are legal for the delete shape
    val src = Seq(5L, 15L, 25L, 25L).toDF("id")
    val deleted = t.deleteMatched(src, Seq("id"))
    assert(deleted === 3L)
    val s = t.snapshot
    assert(s.files.map(_.path).toSet === filesBefore,
      "merge-on-read deleteMatched must not rewrite files")
    assert(s.dvMaskedRows === 3L)
    assert(back(dir).count() === 2997L)
    assert(back(dir).filter(col("id").isin(5L, 15L, 25L)).count() === 0L)
  }

  test("user columns named _f/_i survive merge-on-read DML (reserved identity names)") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("dvu-colclash")
    // "_f" and "_i" are real data columns here — the dv machinery's
    // identity stamps must not clobber them (they once did: withColumn
    // replaced the user column and the later drop erased it from every
    // appended image)
    (1 to 500).map(i => (i.toLong, s"f$i", i * 3L)).toDF("id", "_f", "_i")
      .write.format("qbeast").option("columnsToIndex", "id")
      .option("cubeSize", "200").option("deletionVectors", "true").save(dir)
    val t = QbeastTable.forPath(spark, dir)
    assert(t.update("id % 50 = 7", Map("_i" -> "_i + 1")) === 10L)
    assert(t.snapshot.dvs.nonEmpty, "the update must still be merge-on-read")
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === 500L)
    assert(back.filter(col("_f").isNull || col("_i").isNull).count() === 0L,
      "user _f/_i columns must survive the masked update intact")
    assert(back.filter(col("id") === 7L).select("_i").head().getLong(0) === 22L)
  }

  test("a table using the reserved identity names still masks, its column intact") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("dvu-reserved")
    (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("id", "__qbeast_dv_file")
      .write.format("qbeast").option("columnsToIndex", "id")
      .option("cubeSize", "100").option("deletionVectors", "true").save(dir)
    val t = QbeastTable.forPath(spark, dir)
    assert(t.delete("id <= 10 OR id % 100 = 55") === 12L)
    assert(t.snapshot.dvs.nonEmpty,
      "the identity columns take fresh names, so the delete still masks")
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === 188L)
    assert(back.filter(col("__qbeast_dv_file").isNull ||
      col("__qbeast_dv_file") =!= col("id") * 2.0).count() === 0L)
  }

  test("mergeOn masks on a dv table and ends like the same merge under copy-on-write") {
    val dvDir = TestSpark.tmpDir("dvu-merge")
    val cowDir = TestSpark.tmpDir("dvu-merge-cow")
    writeTable(dvDir, rows = 3000)
    writeTable(cowDir, rows = 3000, extra = Map("deletionVectors" -> "false"))
    // ids 10, 20 matched (updated), 99999 inserted, and every unmatched
    // k = 3 row deleted by the NOT MATCHED BY SOURCE clause
    val src = Seq((10L, 10 % 97, -1.0), (20L, 20 % 97, -2.0),
      (99999L, 0, -3.0)).toDF("id", "k", "v")
    def run(dir: String): (Long, Long) = QbeastTable.forPath(spark, dir).mergeOn(
      src, Seq("id" -> "id"),
      matched = Seq(graft.table.MergeClause(None, Some(Map("v" -> col("__src_v"))))),
      notMatched = Seq(graft.table.MergeClause(None,
        Some(Seq("id", "k", "v").map(c => c -> col(c)).toMap))),
      notMatchedBySource = Seq(graft.table.MergeClause(Some(col("k") === 3), None)))
    val filesBefore = QbeastTable.forPath(spark, dvDir).snapshot.files.map(_.path).toSet
    val k3 = (1 to 3000).count(_ % 97 == 3).toLong
    assert(run(dvDir) === ((2L + k3, 3L)))
    assert(run(cowDir) === ((2L + k3, 3L)))
    val s = QbeastTable.forPath(spark, dvDir).snapshot
    assert(filesBefore.subsetOf(s.files.map(_.path).toSet),
      "merge-on-read merge must keep every pre-merge file")
    assert(s.dvs.nonEmpty && s.dvMaskedRows === 2L + k3)
    assert(QbeastTable.forPath(spark, cowDir).snapshot.dvs.isEmpty)
    assert(back(dvDir).count() === 3001L - k3)
    assert(back(dvDir).exceptAll(back(cowDir)).isEmpty &&
      back(cowDir).exceptAll(back(dvDir)).isEmpty)
  }

  test("SQL REORG APPLY (PURGE) materializes vectors, rewrites only masked files") {
    val dir = TestSpark.tmpDir("dvu-reorg")
    writeTable(dir, rows = 3000)
    val t = QbeastTable.forPath(spark, dir)
    assert(t.update("k = 13", Map("v" -> "0.5")) > 0L)
    val s0 = t.snapshot
    assert(s0.dvs.nonEmpty)
    val unmaskedBefore = s0.files.map(_.path).toSet -- s0.dvs.keySet
    val res = spark.sql(s"REORG TABLE '$dir' APPLY (PURGE)").collect()
    assert(res.head.getLong(1) === s0.dvs.size.toLong)
    val s1 = t.snapshot
    assert(s1.dvs.isEmpty, "every vector materialized")
    assert(unmaskedBefore.subsetOf(s1.files.map(_.path).toSet),
      "unmasked files must survive the purge untouched")
    assert(back(dir).count() === 3000L)
    assert(back(dir).filter(col("k") === 13 && col("v") =!= 0.5).count() === 0L)
    // idempotent: a second purge is a no-op
    assert(spark.sql(s"REORG '$dir' APPLY (PURGE)").collect().head.getLong(1) === 0L)
  }

  test("a running stream refuses a dv UPDATE without ignoreChanges, streams adds with it") {
    val dir = TestSpark.tmpDir("dvu-stream")
    writeTable(dir, rows = 2000)
    val t = QbeastTable.forPath(spark, dir)

    def drain(opts: Map[String, String], out: String, ckpt: String): Option[Throwable] = {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val r = spark.readStream.format("qbeast")
          .options(opts).load(dir)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q = r
        r.awaitTermination(120000)
        None
      } catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Some(e)
      } finally if (q != null && q.isActive) q.stop()
    }

    val out1 = TestSpark.tmpDir("dvu-stream-out"); val ck1 = TestSpark.tmpDir("dvu-stream-ck")
    assert(drain(Map.empty, out1, ck1).isEmpty)
    assert(t.update("k = 37", Map("v" -> "v + 1.0")) > 0L)
    val err = drain(Map.empty, out1, ck1)
    assert(err.nonEmpty, "dv UPDATE commit must stop a stream without ignoreChanges")
    val msg = Option(err.get.getMessage).getOrElse("") +
      Option(err.get.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("deletion vectors"), msg)
    // ignoreChanges: the updated images stream as appends
    val n = (1 to 2000).count(_ % 97 == 37).toLong
    val before = spark.read.parquet(out1).count()
    assert(drain(Map("ignoreChanges" -> "true"), out1, ck1).isEmpty)
    assert(spark.read.parquet(out1).count() === before + n,
      "ignoreChanges streams exactly the updated images")
  }
}
