package graft

import graft.core.model.ColumnMapping
import graft.table.QbeastTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Logical→physical column mapping: ALTER TABLE RENAME/DROP COLUMN as
 * metadata-only commits (the Delta `columnMapping = name` design — the
 * reference refuses renames because its per-file stats are name-keyed).
 * Covers: reads under the new name (incl. file pruning + pushdown),
 * writes after a rename, DML, sampling, time travel, CDF batch +
 * streaming, sketch folds, drop + re-add non-resurrection, and the
 * refusals (indexed column, constraint-referenced column).
 */
class ColumnMappingSpec extends AnyFunSuite {

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

  /** 0..999 over 4+ files indexed by k, with a payload column v. */
  private def freshTable(prefix: String, extra: Map[String, String] = Map.empty): String = {
    val dir = TestSpark.tmpDir(prefix)
    val w = (0 until 1000).map(i => (i.toLong, i.toDouble, s"s$i"))
      .toDF("k", "v", "s")
      .repartition(4)
      .write.format("qbeast")
      .option("columnsToIndex", "k").option("cubeSize", "100")
    extra.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save(dir)
    dir
  }

  test("rename: logical-only commit; reads, filters and pruning keep working") {
    val dir = freshTable("cm-rename")
    val t = QbeastTable.forPath(spark, dir)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.renameColumn("v", "value")
    val s = t.snapshot
    // metadata-only: same physical file set, one new commit
    assert(s.files.map(_.path).toSet == filesBefore)
    assert(s.schema.get.fieldNames.toSeq == Seq("k", "value", "s"))
    // physical name pinned to the pre-rename name
    val f = s.schema.get.fields.find(_.name == "value").get
    assert(ColumnMapping.physicalName(f) == "v")
    val back = spark.read.format("qbeast").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("k", "value", "s"))
    assert(back.select(sum("value")).as[Double].head() == (0 until 1000).map(_.toDouble).sum)
    // data-skipping on the RENAMED column still prunes files (per-file
    // stats are keyed by the physical name)
    val total = filesRead(back)
    val pruned = filesRead(back.filter(col("value") < 10.0))
    assert(pruned < total, s"expected stats pruning: $pruned vs $total")
    // pruning on the indexed column still works through the OTree
    assert(filesRead(back.filter(col("k") < 50L)) < total)
    // the old name is gone
    val e = intercept[Exception] { back.select("v").collect() }
    assert(e.getMessage.toLowerCase.contains("v"))
  }

  test("rename of the indexed column: appends, sampling and pruning survive") {
    val dir = freshTable("cm-rename-idx")
    val t = QbeastTable.forPath(spark, dir)
    t.renameColumn("k", "key")
    // indexedColumns reports the logical name
    assert(t.indexedColumns() == Seq("key"))
    // append under the NEW logical name reuses the revision
    val revsBefore = t.revisionIDs.size
    (1000 until 1200).map(i => (i.toLong, i.toDouble, s"s$i")).toDF("key", "v", "s")
      .write.format("qbeast").mode("append").save(dir)
    assert(QbeastTable.forPath(spark, dir).revisionIDs.size == revsBefore + 1) // widened domain merges
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 1200)
    // append MISSING the indexed column names the LOGICAL name
    val miss = intercept[Exception] {
      Seq((1.0, "x")).toDF("v", "s").write.format("qbeast").mode("append").save(dir)
    }
    assert(miss.getMessage.contains("key"), miss.getMessage)
    // sampling still rewrites to the weight filter (file-level pruning)
    val n = back.count().toDouble
    val got = back.sample(0.2).count().toDouble
    assert(math.abs(got - 0.2 * n) <= 0.05 * n, s"sample drift: $got vs ${0.2 * n}")
    assert(filesRead(back.sample(0.1)) < filesRead(back), "sample should prune files")
  }

  test("writes after rename keep physical stats keys; sketch folds answer under logical names") {
    val dir = freshTable("cm-sketch",
      Map("hllColumns" -> "s", "kllColumns" -> "v", "bloomFilterColumns" -> "s"))
    val t = QbeastTable.forPath(spark, dir)
    val hllBefore = t.approxCountDistinct("s").map(_.est)
    assert(hllBefore.nonEmpty)
    t.renameColumn("s", "str")
    t.renameColumn("v", "value")
    // config lists were rewritten to the new logical names
    val cfg = t.properties
    assert(cfg("qbeast.hllColumns") == "str")
    assert(cfg("qbeast.kllColumns") == "value")
    assert(cfg("qbeast.bloomFilterColumns") == "str")
    // folds answer under the NEW logical name (states keyed physical)
    assert(t.approxCountDistinct("str").map(_.est) == hllBefore)
    assert(t.approxQuantile("value", Seq(0.5)).nonEmpty)
    // an append AFTER the rename keeps collecting under the same
    // physical keys — the merged fold still answers
    (1000 until 1500).map(i => (i.toLong, i.toDouble, s"s$i"))
      .toDF("k", "value", "str")
      .write.format("qbeast").mode("append").save(dir)
    val t2 = QbeastTable.forPath(spark, dir)
    val est = t2.approxCountDistinct("str").map(_.est)
    assert(est.exists(e => math.abs(e - 1500.0) / 1500.0 < 0.15), s"got $est")
    // metadata count/min/max fold under the logical name
    val agg = spark.read.format("qbeast").load(dir)
      .agg(count(lit(1)), min("value"), max("value")).collect().head
    assert(agg.getLong(0) == 1500L)
    assert(agg.getDouble(1) == 0.0 && agg.getDouble(2) == 1499.0)
  }

  test("DML (DELETE/UPDATE/upsert) under renamed columns") {
    val dir = freshTable("cm-dml")
    val t = QbeastTable.forPath(spark, dir)
    t.renameColumn("v", "value")
    assert(t.delete("value < 100.0") == 100L)
    assert(t.update("value >= 990.0", Map("s" -> "'hot'")) == 10L)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 900L)
    assert(back.filter(col("s") === "hot").count() == 10L)
    // upsert keyed on the renamed indexed column
    t.renameColumn("k", "key")
    // upsert returns (target rows replaced, rows newly indexed): the
    // matched row is replaced and BOTH source rows are newly indexed
    val (replaced, indexed) = t.upsert(
      Seq((100L, -1.0, "u"), (5000L, -2.0, "i")).toDF("key", "value", "s"), Seq("key"))
    assert(replaced == 1L && indexed == 2L)
    val after = spark.read.format("qbeast").load(dir)
    assert(after.filter(col("key") === 100L).select("value").as[Double].head() == -1.0)
    assert(after.count() == 901L)
  }

  test("time travel reads each version under ITS logical schema") {
    val dir = freshTable("cm-tt")
    val t = QbeastTable.forPath(spark, dir)
    val v0 = t.snapshot.version
    t.renameColumn("v", "value")
    // pre-rename version: old name, same data
    val old = spark.read.format("qbeast").option("versionAsOf", v0).load(dir)
    assert(old.schema.fieldNames.toSeq == Seq("k", "v", "s"))
    assert(old.select(sum("v")).as[Double].head() == (0 until 1000).map(_.toDouble).sum)
    // head: new name
    assert(spark.read.format("qbeast").load(dir)
      .schema.fieldNames.toSeq == Seq("k", "value", "s"))
    // RESTORE to the pre-rename version brings the old logical name back
    t.restoreToVersion(v0)
    assert(spark.read.format("qbeast").load(dir)
      .schema.fieldNames.toSeq == Seq("k", "v", "s"))
  }

  test("drop + re-add same logical name never resurrects old data") {
    val dir = freshTable("cm-dropadd")
    val t = QbeastTable.forPath(spark, dir)
    t.dropColumn("s")
    assert(spark.read.format("qbeast").load(dir)
      .schema.fieldNames.toSeq == Seq("k", "v"))
    // re-add the released logical name: fresh physical mint → old
    // parquet data for "s" must NOT come back
    val t2 = QbeastTable.forPath(spark, dir)
    val s2 = t2.snapshot
    graft.catalog.QbeastCatalog.persistAddColumnsToLog(dir,
      Seq(org.apache.spark.sql.connector.catalog.TableChange.addColumn(
        Array("s"), org.apache.spark.sql.types.StringType)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableChange.AddColumn]))
    val s3 = QbeastTable.forPath(spark, dir).snapshot
    assert(s3.version == s2.version + 1)
    val f = s3.schema.get.fields.find(_.name == "s").get
    assert(ColumnMapping.physicalName(f) != "s", "re-added column must mint fresh physical")
    val back = spark.read.format("qbeast").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("k", "v", "s"))
    assert(back.filter(col("s").isNotNull).count() == 0L, "old data resurrected!")
    // new appends fill it under the fresh physical name
    Seq((9999L, 1.0, "fresh")).toDF("k", "v", "s")
      .write.format("qbeast").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("s") === "fresh").count() == 1L)
  }

  test("refusals: indexed column drop, constraint-referenced rename/drop, chain rename") {
    val dir = freshTable("cm-refuse")
    val t = QbeastTable.forPath(spark, dir)
    t.addConstraint("v_pos", "v >= 0")
    val e1 = intercept[UnsupportedOperationException] { t.dropColumn("k") }
    assert(e1.getMessage.contains("indexed"))
    val e2 = intercept[UnsupportedOperationException] { t.renameColumn("v", "w") }
    assert(e2.getMessage.contains("v_pos"))
    val e3 = intercept[UnsupportedOperationException] { t.dropColumn("v") }
    assert(e3.getMessage.contains("v_pos"))
    t.dropConstraint("v_pos")
    t.renameColumn("v", "w") // now allowed
    // chain rename: renaming another column TO a released PHYSICAL name
    // is refused (mapping stays unambiguous)
    val e4 = intercept[UnsupportedOperationException] { t.renameColumn("s", "v") }
    assert(e4.getMessage.contains("physical"))
    // a drop of the only remaining... (not applicable here); duplicate target
    val e5 = intercept[IllegalArgumentException] { t.renameColumn("s", "w") }
    assert(e5.getMessage.contains("exists"))
  }

  test("CDF: batch changes() replays across a rename under the end schema") {
    // copy-on-write and deletion-vector deletes write their change files
    // the same way, so both replay under the end schema
    Seq(false, true).foreach { dv =>
      val dir = freshTable(s"cm-cdf-$dv", Map("deletionVectors" -> dv.toString))
      // turn on the change feed, do DML, rename, more DML
      Seq((5000L, 50000.0, "x")).toDF("k", "v", "s").write.format("qbeast")
        .option("enableChangeDataFeed", "true").mode("append").save(dir)
      val t = QbeastTable.forPath(spark, dir)
      val vStart = t.snapshot.version
      t.delete("v < 10.0") // persisted change file (pre-rename logical names)
      t.renameColumn("v", "value")
      t.delete("value >= 990.0 and value < 1000.0") // post-rename change file
      assert(t.snapshot.dvs.nonEmpty == dv, s"deletionVectors=$dv")
      val ch = t.changes(vStart)
      // all frames expose the END schema's logical names
      assert(ch.schema.fieldNames.contains("value") && !ch.schema.fieldNames.contains("v"))
      val dels = ch.filter(col("_change_type") === "delete")
      assert(dels.count() == 20L, s"deletionVectors=$dv")
      assert(dels.filter(col("value") < 10.0).count() == 10L, s"deletionVectors=$dv")
      assert(dels.filter(col("value") >= 990.0).count() == 10L, s"deletionVectors=$dv")
    }
  }

  test("streaming: a rename commit stops the stream with a restart message; restart drains") {
    val dir = freshTable("cm-stream")
    val sink = TestSpark.tmpDir("cm-stream-sink")
    val ckpt = TestSpark.tmpDir("cm-stream-ckpt")
    val t = QbeastTable.forPath(spark, dir)
    t.renameColumn("v", "value")
    Seq((5000L, 5.0, "x")).toDF("k", "value", "s")
      .write.format("qbeast").mode("append").save(dir)
    // a stream STARTED BEFORE the rename commit must stop on it
    val q0 = spark.readStream.format("qbeast")
      .option("startingVersion", "0").load(dir)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val failed = intercept[Exception] { q0.awaitTermination() }
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(failed).exists(m => m != null && m.contains("Restart the streaming query")),
      chain(failed).mkString(" | "))
    // a FRESH stream (new checkpoint) sees the pinned post-rename schema
    val sink2 = TestSpark.tmpDir("cm-stream-sink2")
    val ckpt2 = TestSpark.tmpDir("cm-stream-ckpt2")
    val q1 = spark.readStream.format("qbeast").load(dir)
      .writeStream.format("parquet")
      .option("path", sink2).option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val drained = spark.read.parquet(sink2)
    assert(drained.schema.fieldNames.toSeq == Seq("k", "value", "s"))
    assert(drained.count() == 1001L)
    assert(drained.select(sum("value")).as[Double].head() ==
      (0 until 1000).map(_.toDouble).sum + 5.0)
  }

  test("SQL DML (DELETE/UPDATE/MERGE) and INSERT work after SQL RENAME COLUMN") {
    spark.conf.set("spark.sql.catalog.qbeast_catalog", "graft.catalog.QbeastCatalog")
    val dir = TestSpark.tmpDir("cm-sqldml")
    val table = "qbeast_catalog.default.cm_sqldml"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    (0 until 500).map(i => (i.toLong, i.toDouble, s"s$i")).toDF("k", "v", "s")
      .createOrReplaceTempView("cm_sqldml_src")
    spark.sql(s"""CREATE TABLE $table
      USING qbeast OPTIONS ('columnsToIndex'='k', 'cubeSize'='100')
      LOCATION '$dir' AS SELECT * FROM cm_sqldml_src""")
    spark.sql(s"ALTER TABLE $table RENAME COLUMN v TO price")
    spark.sql(s"DELETE FROM $table WHERE price < 50.0")
    assert(spark.sql(s"SELECT count(*) FROM $table").head.getLong(0) == 450L)
    spark.sql(s"UPDATE $table SET s = 'big' WHERE price >= 490.0")
    assert(spark.sql(s"SELECT count(*) FROM $table WHERE s = 'big'")
      .head.getLong(0) == 10L)
    Seq((100L, -5.0, "m"), (9000L, -6.0, "m")).toDF("k", "price", "s")
      .createOrReplaceTempView("cm_merge_src")
    spark.sql(s"""MERGE INTO $table t USING cm_merge_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val m = spark.sql(s"SELECT price FROM $table WHERE s = 'm' ORDER BY k")
      .as[Double].collect().toSeq
    assert(m == Seq(-5.0, -6.0))
    spark.sql(s"INSERT INTO $table VALUES (9001, 7.5, 'i')")
    assert(spark.sql(s"SELECT price FROM $table WHERE k = 9001")
      .as[Double].head() == 7.5)
  }

  test("streaming sink appends into a column-mapped table under the new names") {
    val dir = freshTable("cm-sink")
    QbeastTable.forPath(spark, dir).renameColumn("v", "value")
    val srcDir = TestSpark.tmpDir("cm-sink-src")
    (5000 until 5100).map(i => (i.toLong, i.toDouble, s"s$i"))
      .toDF("k", "value", "s").coalesce(1)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.format("qbeast")
      .option("checkpointLocation", TestSpark.tmpDir("cm-sink-ckpt"))
      .option("path", dir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 1100L)
    assert(back.filter(col("value") >= 5000.0).count() == 100L)
    // physical parquet of the streamed files still carries the original
    // physical name — pruning on the renamed column keeps working
    assert(filesRead(back.filter(col("value") >= 5050.0)) < filesRead(back))
  }

  test("user-specified stream schema on a mapped table inherits the physical names") {
    val dir = freshTable("cm-userschema")
    QbeastTable.forPath(spark, dir).renameColumn("v", "value")
    // the user schema carries NO mapping metadata — the source must
    // graft the log's physical names on, or every renamed column would
    // silently read as NULL through the identity path
    val user = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val sink = TestSpark.tmpDir("cm-userschema-sink")
    val q = spark.readStream.format("qbeast").schema(user).load(dir)
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", TestSpark.tmpDir("cm-userschema-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val drained = spark.read.parquet(sink)
    assert(drained.count() == 1000L)
    assert(drained.filter(col("value").isNull).count() == 0L,
      "renamed column read as NULL through a user-specified stream schema")
  }

  test("never-written catalog table validates RENAME/DROP against the declared schema") {
    spark.conf.set("spark.sql.catalog.qbeast_catalog", "graft.catalog.QbeastCatalog")
    val dir = TestSpark.tmpDir("cm-nolog")
    val table = "qbeast_catalog.default.cm_nolog"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""CREATE TABLE $table (a BIGINT, b DOUBLE) USING qbeast
      OPTIONS ('columnsToIndex'='a') LOCATION '$dir'""")
    // rename onto an existing name must refuse (no log to catch it —
    // the catalog validates against the declared schema)
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $table RENAME COLUMN a TO b")
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $table RENAME COLUMN nope TO c")
    }
    assert(e2.getMessage.contains("does not exist") ||
      e2.getMessage.toLowerCase.contains("missing field") ||
      e2.getMessage.contains("UNRESOLVED_COLUMN") ||
      e2.getMessage.contains("cannot be resolved"), e2.getMessage)
    // a legal pre-write rename applies to the catalog schema
    spark.sql(s"ALTER TABLE $table RENAME COLUMN b TO c")
    assert(spark.table(table).schema.fieldNames.toSeq == Seq("a", "c"))
    // dropping the last remaining non-... the ONLY column path
    spark.sql(s"ALTER TABLE $table DROP COLUMN c")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $table DROP COLUMN a")
    }
    assert(e3.getMessage.contains("only column"), e3.getMessage)
  }

  test("overwriteSchema after an indexed-column rename re-keys columnsToIndex") {
    val dir = freshTable("cm-ovw")
    val t = QbeastTable.forPath(spark, dir)
    t.renameColumn("k", "key")
    // overwrite WITHOUT re-specifying columnsToIndex: the inherited
    // transformers are keyed by the OLD physical name ("k"), which the
    // new identity-mapped frame does not carry — the writer re-keys
    // them to the logical name ("key") the user knows
    (0 until 300).map(i => (i.toLong, s"n$i")).toDF("key", "name")
      .write.format("qbeast").mode("overwrite")
      .option("overwriteSchema", "true").save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 300L)
    assert(QbeastTable.forPath(spark, dir).indexedColumns() == Seq("key"))
    // and the reset table is identity-mapped again
    assert(ColumnMapping.isIdentity(
      QbeastTable.forPath(spark, dir).snapshot.schema.get))
  }

  test("nested CHECK constraint references block renaming the struct column") {
    val dir = TestSpark.tmpDir("cm-nested")
    (0 until 100).map(i => (i.toLong, (i.toDouble, s"s$i")))
      .toDF("k", "st")
      .write.format("qbeast").option("columnsToIndex", "k")
      .option("cubeSize", "50").save(dir)
    val t = QbeastTable.forPath(spark, dir)
    t.addConstraint("stx", "st._1 >= 0")
    val e = intercept[UnsupportedOperationException] { t.renameColumn("st", "payload") }
    assert(e.getMessage.contains("stx"), e.getMessage)
    t.dropConstraint("stx")
    t.renameColumn("st", "payload")
    assert(spark.read.format("qbeast").load(dir)
      .select("payload._1").as[Double].collect().sum == (0 until 100).map(_.toDouble).sum)
  }

  test("sidecar-distributed reads and folds prune under renamed names") {
    val dir = freshTable("cm-sidecar")
    spark.conf.set("spark.qbeast.metadata.sidecar.minFiles", "0")
    try {
      val t = QbeastTable.forPath(spark, dir)
      t.checkpoint() // parquet sidecar → DistributedQbeastFileIndex path
      t.renameColumn("v", "value")
      t.renameColumn("k", "key")
      val back = spark.read.format("qbeast").load(dir)
      assert(back.count() == 1000L)
      // OTree pruning (renamed indexed col) + stats pruning (renamed
      // payload col) both run through the sidecar job
      val total = filesRead(back)
      assert(filesRead(back.filter(col("key") < 50L)) < total)
      assert(filesRead(back.filter(col("value") < 10.0)) < total)
      assert(back.filter(col("key") < 50L).count() == 50L)
      // metadata fold over the sidecar answers under logical names
      val agg = back.agg(count(lit(1)), min("value"), max("value")).collect().head
      assert(agg.getLong(0) == 1000L && agg.getDouble(2) == 999.0)
    } finally spark.conf.unset("spark.qbeast.metadata.sidecar.minFiles")
  }

  test("symlink manifest refused on a column-mapped table; clone carries the mapping") {
    val dir = freshTable("cm-manifest")
    val t = QbeastTable.forPath(spark, dir)
    assert(t.generateSymlinkManifest() > 0) // identity mapping: fine
    t.renameColumn("v", "value")
    val e = intercept[IllegalArgumentException] { t.generateSymlinkManifest() }
    assert(e.getMessage.contains("column-mapped"))
    // shallow clone: the mapping rides the copied schema — the clone
    // reads under the renamed logical names against the SOURCE files
    val target = TestSpark.tmpDir("cm-clone-dst") + "/t"
    t.cloneTo(target)
    val c = spark.read.format("qbeast").load(target)
    assert(c.schema.fieldNames.toSeq == Seq("k", "value", "s"))
    assert(c.select(sum("value")).as[Double].head() ==
      (0 until 1000).map(_.toDouble).sum)
  }

  test("optimize and vacuum after rename; verifyIntegrity stays clean") {
    val dir = freshTable("cm-opt")
    val t = QbeastTable.forPath(spark, dir)
    t.renameColumn("v", "value")
    (1000 until 1400).map(i => (i.toLong, i.toDouble, s"s$i")).toDF("k", "value", "s")
      .repartition(4).write.format("qbeast").mode("append").save(dir)
    t.optimize()
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 1400L)
    assert(back.filter(col("value") === 1234.0).count() == 1L)
    assert(QbeastTable.forPath(spark, dir).verifyIntegrity().isEmpty)
  }
}
