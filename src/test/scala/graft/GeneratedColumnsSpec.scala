package graft

import graft.table.QbeastTable
import graft.write.GeneratedColumns

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Generated columns (Delta `GENERATED ALWAYS AS`, re-derived): writes
 * that omit the column get it computed per row; writes that supply it
 * are enforced per row through the CHECK-constraint path; UPDATE/MERGE
 * recompute after assignments; the definitions are table properties
 * defined at creation and refused as retrofits. A generated column is
 * STORED — indexing, stats pruning, CDF and time travel see a normal
 * column.
 */
class GeneratedColumnsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  private def base(n: Int = 1000): DataFrame =
    (0 until n).map(i => (i.toLong, i * 2.0)).toDF("k", "v")

  /** k,v table with g := CAST(k % 10 AS INT) generated, computed at v0. */
  private def freshGen(prefix: String,
      gens: String = "g:CAST(k % 10 AS INT)",
      index: String = "k"): String = {
    val dir = TestSpark.tmpDir(prefix)
    base().repartition(4).write.format("qbeast")
      .option("columnsToIndex", index).option("cubeSize", "100")
      .option("generatedColumns", gens)
      .save(dir)
    dir
  }

  test("omitted columns are computed per row; definitions persist as properties") {
    val dir = freshGen("gen-compute")
    val back = spark.read.format("qbeast").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("k", "v", "g"))
    assert(back.schema("g").dataType == org.apache.spark.sql.types.IntegerType)
    assert(back.filter(col("g") =!= col("k") % 10).count() == 0)
    val t = QbeastTable.forPath(spark, dir)
    assert(t.generatedColumns == Map("g" -> "CAST(k % 10 AS INT)"))
    // appends inherit the definition without re-specifying
    Seq((5000L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("k") === 5000L).select("g").as[Int].head() == 0)
  }

  test("supplied values are enforced per row: consistent passes, violating fails NAMED") {
    val dir = freshGen("gen-enforce")
    // consistent explicit values pass
    Seq((2000L, 1.0, 0), (2001L, 2.0, 1)).toDF("k", "v", "g")
      .write.format("qbeast").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir).filter(col("k") >= 2000L).count() == 2)
    // a mismatching value fails the write, naming the generated column
    val e = intercept[Exception] {
      Seq((3000L, 1.0, 7)).toDF("k", "v", "g")
        .write.format("qbeast").mode("append").save(dir)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).map(m => Option(m.getMessage).getOrElse("")).exists(m =>
        m.contains("generated_g")), s"unexpected error: $e")
    // nothing landed
    assert(spark.read.format("qbeast").load(dir).filter(col("k") === 3000L).count() == 0)
  }

  test("mixed write: one generated column supplied, the other computed") {
    val dir = TestSpark.tmpDir("gen-mixed")
    base().write.format("qbeast")
      .option("columnsToIndex", "k").option("cubeSize", "200")
      .option("generatedColumns", "g:CAST(k % 10 AS INT);h:v * 2.0")
      .save(dir)
    Seq((9000L, 3.0, 6.0)).toDF("k", "v", "h") // g omitted, h supplied
      .write.format("qbeast").mode("append").save(dir)
    val row = spark.read.format("qbeast").load(dir)
      .filter(col("k") === 9000L).select("g", "h").head()
    assert(row.getInt(0) == 0 && row.getDouble(1) == 6.0)
  }

  test("a generated column is indexable and its predicates prune files") {
    val dir = TestSpark.tmpDir("gen-indexed")
    base(4000).repartition(8).write.format("qbeast")
      .option("columnsToIndex", "k,gbin").option("cubeSize", "200")
      .option("generatedColumns", "gbin:CAST(k / 500 AS INT)")
      .save(dir)
    val back = spark.read.format("qbeast").load(dir)
    val total = QbeastTable.forPath(spark, dir).snapshot.files.size
    val pruned = filesRead(back.filter(col("gbin") === 1))
    assert(pruned < total, s"expected pruning on the generated column: $pruned/$total")
    assert(back.filter(col("gbin") === 1).count() == 500)
  }

  test("UPDATE recomputes after assignments; explicit SET of a generated column is refused") {
    val dir = freshGen("gen-update")
    val t = QbeastTable.forPath(spark, dir)
    val n = t.update("k = 7", Map("k" -> "k + 10001"))
    assert(n == 1)
    val row = spark.read.format("qbeast").load(dir)
      .filter(col("k") === 10008L).select("g").as[Int].collect().toSeq
    assert(row == Seq(8 /* 10008 % 10, recomputed from 7 */), s"got $row")
    val e = intercept[UnsupportedOperationException] {
      t.update("k = 1", Map("g" -> "5"))
    }
    assert(e.getMessage.contains("generated column g"))
  }

  test("upsert enforces supplied values (insert semantics); merge SET * recomputes") {
    val dir = freshGen("gen-merge")
    val t = QbeastTable.forPath(spark, dir)
    // upsert with consistent g
    val (rep, ins) = t.upsert(
      Seq((3L, 99.0, 3), (20000L, 1.0, 0)).toDF("k", "v", "g"), Seq("k"))
    assert(rep == 1 && ins == 2)
    // upsert with violating g fails
    intercept[Exception] {
      t.upsert(Seq((4L, 1.0, 9)).toDF("k", "v", "g"), Seq("k"))
    }
    // general merge (conditional clause forces the row-level path):
    // SET * carries the source's stale g, the recompute fixes it
    val src = Seq((5L, 50.0, 99)).toDF("k", "v", "g")
    t.merge(src, Seq("k"),
      matched = Seq(graft.table.MergeClause(Some(col("__src_v") > 0),
        Some(Map("v" -> col("__src_v"), "g" -> col("__src_g"))))),
      notMatched = Nil, notMatchedBySource = Nil)
    val row = spark.read.format("qbeast").load(dir)
      .filter(col("k") === 5L).select("v", "g").head()
    assert(row.getDouble(0) == 50.0 && row.getInt(1) == 5, s"got $row")
  }

  test("rename of a referenced column is refused; renaming the generated column carries the definition") {
    val dir = freshGen("gen-rename")
    val t = QbeastTable.forPath(spark, dir)
    val e = intercept[UnsupportedOperationException] { t.renameColumn("k", "key") }
    assert(e.getMessage.contains("generated column"))
    // renaming the generated column itself carries the definition
    t.renameColumn("g", "bucket")
    assert(t.generatedColumns == Map("bucket" -> "CAST(k % 10 AS INT)"))
    Seq((6000L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("k") === 6000L).select("bucket").as[Int].head() == 0)
    // the catalog's creation-time option still names the OLD column —
    // the stale echo is tolerated and the renamed definition rules
    Seq((6001L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append")
      .option("generatedColumns", "g:CAST(k % 10 AS INT)").save(dir)
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("k") === 6001L).select("bucket").as[Int].head() == 1)
  }

  test("drop of a referenced column is refused; dropping the generated column drops the definition") {
    val dir = freshGen("gen-drop")
    val t = QbeastTable.forPath(spark, dir)
    val eRef = intercept[UnsupportedOperationException] { t.dropColumn("k") }
    // k is both indexed and referenced — either guard is a correct refusal
    assert(eRef.getMessage.contains("generated column") ||
      eRef.getMessage.contains("indexed"), eRef.getMessage)
    t.dropColumn("g")
    assert(t.generatedColumns.isEmpty)
    // subsequent append: no definition, no computed column
    Seq((7000L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir).schema.fieldNames.toSeq == Seq("k", "v"))
    // the catalog replays creation-time options on every write: after
    // the drop, the stale echo must be tolerated (not a retrofit) and
    // must not resurrect the column
    Seq((7001L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append")
      .option("generatedColumns", "g:CAST(k % 10 AS INT)").save(dir)
    assert(spark.read.format("qbeast").load(dir).schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("type widening of produced/referenced columns is refused (ALTER and mergeSchema)") {
    val dir = TestSpark.tmpDir("gen-widen")
    (0 until 100).map(i => (i, i * 2.0)).toDF("k", "v")
      .write.format("qbeast")
      .option("columnsToIndex", "v").option("cubeSize", "100")
      .option("generatedColumns", "g:CAST(k % 10 AS INT)")
      .save(dir)
    val t = QbeastTable.forPath(spark, dir)
    val e1 = intercept[UnsupportedOperationException] {
      t.widenColumn("k", org.apache.spark.sql.types.LongType)
    }
    assert(e1.getMessage.contains("generated column"))
    val e2 = intercept[Exception] {
      (100 until 110).map(i => (i.toLong, i * 2.0, (i % 10))).toDF("k", "v", "g")
        .write.format("qbeast").mode("append")
        .option("mergeSchema", "true").save(dir)
    }
    assert(e2.getMessage.contains("generated"), e2.getMessage)
  }

  test("retrofit and redefinition are refused; stale catalog echoes are tolerated") {
    val dir = TestSpark.tmpDir("gen-retrofit")
    base().write.format("qbeast")
      .option("columnsToIndex", "k").option("cubeSize", "500").save(dir)
    // retrofit on a table with data
    val e = intercept[UnsupportedOperationException] {
      base().write.format("qbeast").mode("append")
        .option("generatedColumns", "g:CAST(k % 10 AS INT)").save(dir)
    }
    assert(e.getMessage.contains("cannot be added"))
    // redefinition of an existing definition
    val dir2 = freshGen("gen-redefine")
    val e2 = intercept[UnsupportedOperationException] {
      Seq((1L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append")
        .option("generatedColumns", "g:CAST(k % 3 AS INT)").save(dir2)
    }
    assert(e2.getMessage.contains("redefined"))
    // a consistent echo (the catalog passes creation TBLPROPERTIES on
    // every write) is fine
    Seq((8000L, 1.0)).toDF("k", "v").write.format("qbeast").mode("append")
      .option("generatedColumns", "g:CAST(k % 10 AS INT)").save(dir2)
    assert(spark.read.format("qbeast").load(dir2)
      .filter(col("k") === 8000L).select("g").as[Int].head() == 0)
  }

  test("definition validation: nondeterministic, aggregate, other-generated and unresolvable refused") {
    def attempt(gens: String): Exception = intercept[Exception] {
      base(10).write.format("qbeast")
        .option("columnsToIndex", "k").option("cubeSize", "100")
        .option("generatedColumns", gens)
        .save(TestSpark.tmpDir("gen-bad"))
    }
    assert(attempt("g:rand()").getMessage.contains("rand"))
    assert(attempt("g:current_timestamp()").getMessage.contains("current_timestamp"))
    assert(attempt("g:sum(v)").getMessage.contains("aggregates"))
    assert(attempt("g:CAST(k % 10 AS INT);h:g + 1").getMessage.contains("itself generated"))
    assert(attempt("g:no_such_col + 1").getMessage.contains("does not resolve"))
  }

  test("overwriteSchema replace redefines; stale definitions die with their columns") {
    val dir = freshGen("gen-replace")
    // replace WITHOUT the generated column and without options: the
    // stale definition must not resurface
    (0 until 50).map(i => (i.toLong, s"s$i")).toDF("k", "s")
      .write.format("qbeast").mode("overwrite")
      .option("overwriteSchema", "true")
      .option("columnsToIndex", "k").option("cubeSize", "100")
      .save(dir)
    val t = QbeastTable.forPath(spark, dir)
    assert(t.generatedColumns.isEmpty)
    // replace WITH a new definition
    (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .write.format("qbeast").mode("overwrite")
      .option("overwriteSchema", "true")
      .option("columnsToIndex", "k").option("cubeSize", "100")
      .option("generatedColumns", "half:CAST(k / 2 AS INT)")
      .save(dir)
    assert(t.generatedColumns == Map("half" -> "CAST(k / 2 AS INT)"))
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("half") =!= (col("k") / 2).cast("int")).count() == 0)
  }

  test("streaming ingestion computes generated columns per batch") {
    val tblDir = TestSpark.tmpDir("gen-stream-tbl")
    val ckpt = TestSpark.tmpDir("gen-stream-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    mem.addData((1L, 1.0), (22L, 2.0))
    val q = mem.toDS().toDF("k", "v").writeStream.format("qbeast")
      .option("checkpointLocation", ckpt)
      .option("columnsToIndex", "k").option("cubeSize", "100")
      .option("generatedColumns", "g:CAST(k % 10 AS INT)")
      .option("path", tblDir)
      .start()
    try {
      q.processAllAvailable()
      mem.addData((333L, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("qbeast").load(tblDir)
    assert(back.count() == 3)
    assert(back.filter(col("g") =!= col("k") % 10).count() == 0)
  }

  test("upsert feed with a generated column replays to the table after it (CoW and DV)") {
    Seq(false, true).foreach { dv =>
      val dir = TestSpark.tmpDir(s"gen-upsert-cdf-$dv")
      base().repartition(4).write.format("qbeast")
        .option("columnsToIndex", "k").option("cubeSize", "100")
        .option("generatedColumns", "g:CAST(k % 10 AS INT)")
        .option("enableChangeDataFeed", "true")
        .option("deletionVectors", dv.toString)
        .save(dir)
      val t = QbeastTable.forPath(spark, dir)
      val v0 = t.snapshot.version
      // 3 and 7 replaced, 20001 and 20002 inserted, each with its g
      val src = Seq((3L, -3.0, 3), (7L, -7.0, 7), (20001L, 1.0, 1), (20002L, 2.0, 2))
        .toDF("k", "v", "g")
      assert(t.upsert(src, Seq("k")) == ((2L, 4L)))
      assert(t.snapshot.dvs.nonEmpty == dv, s"deletionVectors=$dv")
      val feed = t.changes(v0 + 1)
      def images(kind: String) =
        feed.filter(col("_change_type") === kind).select("k", "v", "g")
      val before = spark.read.format("qbeast").option("versionAsOf", v0).load(dir)
      val after = spark.read.format("qbeast").load(dir)
      val replayed = before.exceptAll(images("delete")).unionByName(images("insert"))
      assert(images("delete").count() == 2L, s"deletionVectors=$dv")
      assert(replayed.exceptAll(after).isEmpty && after.exceptAll(replayed).isEmpty,
        s"deletionVectors=$dv: the feed does not turn the table before into the table after")
      assert(images("insert").select("k", "g").as[(Long, Int)].collect().toSet ==
        Set((3L, 3), (7L, 7), (20001L, 1), (20002L, 2)), s"deletionVectors=$dv")
      assert(after.filter(col("g") =!= col("k") % 10).count() == 0)
    }
  }

  test("time travel and CDF see the stored computed values") {
    val dir = freshGen("gen-history")
    val t = QbeastTable.forPath(spark, dir)
    t.update("k = 4", Map("k" -> "k + 10000"))
    // v0 still shows the original computed values
    val v0 = spark.read.format("qbeast").option("versionAsOf", 0).load(dir)
    assert(v0.filter(col("k") === 4L).select("g").as[Int].head() == 4)
    // the change feed's insert image carries the recomputed value
    val feed = t.changes(1, 1)
    val ins = feed.filter(col("_change_type") === "insert")
      .select("k", "g").as[(Long, Int)].collect().toSeq
    assert(ins == Seq((10004L, 4)), s"got $ins")
  }

}
