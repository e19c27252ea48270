package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.sql.QbeastSparkSessionExtension")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

class RoundtripSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("write + read roundtrip preserves content") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = TestSpark.tmpDir("qbeast-rt")
    li.write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "1000")
      .save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === li.count())
    assert(back.schema.fieldNames.toSeq === li.schema.fieldNames.toSeq)
    assert(back.exceptAll(li).count() === 0)
    assert(li.exceptAll(back).count() === 0)
  }

  test("an append reports the bytes and rows it wrote to Spark's task metrics") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("qbeast-output-metrics")
    (1 to 2000).map(i => (i.toLong, i * 0.5)).toDF("a", "b").write.format("qbeast")
      .option("columnsToIndex", "a,b").option("cubeSize", "300").save(dir)
    val before = graft.log.QbeastLog.snapshot(dir, spark.sparkContext.hadoopConfiguration)
      .files.map(_.path).toSet
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.outputMetrics.bytesWritten)
          records.addAndGet(m.outputMetrics.recordsWritten)
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftTestShims.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      (2001 to 3000).map(i => (i.toLong, i * 0.5)).toDF("a", "b").write.format("qbeast")
        .mode("append").save(dir)
      org.apache.spark.sql.GraftTestShims.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    val added = graft.log.QbeastLog.snapshot(dir, sc.hadoopConfiguration)
      .files.filterNot(f => before.contains(f.path))
    assert(added.nonEmpty)
    assert(bytes.get === added.map(_.size).sum)
    assert(records.get === 1000L)
  }

  test("sampling accuracy within tolerance and deterministic") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = TestSpark.tmpDir("qbeast-sample")
    li.write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "1000")
      .save(dir)
    val back = spark.read.format("qbeast").load(dir)
    val n = back.count().toDouble
    for (f <- Seq(0.1, 0.2, 0.5, 0.7, 0.99)) {
      val got = back.sample(f).count().toDouble
      assert(math.abs(got - f * n) <= 0.05 * n, s"fraction $f: got $got of $n")
      // deterministic: same fraction → same rows
      assert(back.sample(f).count().toDouble === got)
    }
  }

  test("sampling accuracy within the reference-enforced ±1% of f·N (sf0.01)") {
    // mirror of the reference's QbeastSamplingTest.scala:33-53 tolerance
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val dir = TestSpark.tmpDir("qbeast-tol")
    li.write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "1000")
      .save(dir)
    val back = spark.read.format("qbeast").load(dir)
    val n = back.count().toDouble
    for (f <- Seq(0.1, 0.2, 0.5, 0.7, 0.99)) {
      val got = back.sample(f).count().toDouble
      assert(math.abs(got - f * n) <= 0.01 * n,
        s"fraction $f: got $got, expected ${f * n} ± ${0.01 * n}")
    }
  }

  test("sampling prunes files") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = TestSpark.tmpDir("qbeast-prune")
    li.write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "500")
      .save(dir)
    val back = spark.read.format("qbeast").load(dir)
    val all = back.inputFiles.length
    assert(all > 1, s"expected multiple files, got $all")
    val sampled = back.sample(0.01)
    val read = sampled.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s.inputRDDs().map(_.getNumPartitions).sum
    }
    // physical check: the sampled scan reads fewer input files
    val sampledFiles = sampled.select(org.apache.spark.sql.functions
      .input_file_name()).distinct().count()
    assert(sampledFiles < all, s"sampled scan read $sampledFiles of $all files")
  }

  test("range filter prunes files and preserves results") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = TestSpark.tmpDir("qbeast-filter")
    li.write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "500")
      .save(dir)
    val back = spark.read.format("qbeast").load(dir)
    val maxKey = li.agg(org.apache.spark.sql.functions.max("l_orderkey")).head.getLong(0)
    val cut = maxKey / 10
    val expected = li.filter(s"l_orderkey <= $cut").count()
    val got = back.filter(s"l_orderkey <= $cut").count()
    assert(got === expected)

    // regression (ADVICE r1): equality on the column MAX transforms to
    // coordinate 1.0; only cubes touching the top edge hold those rows —
    // without the top-edge clause in QuerySpace every file was pruned
    // and the rows silently vanished
    val expectedMax = li.filter(s"l_orderkey = $maxKey").count()
    assert(expectedMax > 0, "test data must have rows at the max key")
    assert(back.filter(s"l_orderkey = $maxKey").count() === expectedMax)
    val maxPrice = li.agg(org.apache.spark.sql.functions.max("l_extendedprice"))
      .head.getDouble(0)
    assert(back.filter(s"l_extendedprice = $maxPrice").count() ===
      li.filter(s"l_extendedprice = $maxPrice").count())
    // and >= max-bound ranges keep working
    assert(back.filter(s"l_orderkey >= $maxKey").count() === expectedMax)
  }

  test("append without cubeSize inherits the table's configured size (no revision churn)") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("rt-inherit-cubesize")
    (1 to 2000).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast")
      .option("columnsToIndex", "a,b").option("cubeSize", "500").save(dir)
    val t = table.QbeastTable.forPath(spark, dir)
    val revs0 = t.revisionIDs
    assert(t.cubeSize() == 500)
    // in-space append WITHOUT any cubeSize option: must reuse the
    // revision — filling in the global default would fail the reuse
    // check and silently reset the index config on every plain append
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").mode("append").save(dir)
    assert(t.revisionIDs == revs0, "plain append must not cut a new revision")
    assert(t.cubeSize() == 500, "configured cubeSize must survive plain appends")
    assert(spark.read.format("qbeast").load(dir).count() == 2100)
    // an EXPLICIT different cubeSize still cuts a new revision
    (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "900").mode("append").save(dir)
    assert(t.revisionIDs.size == revs0.size + 1)
    assert(t.cubeSize() == 900)
  }

  test("compactRevisions collapses a 2-revision table, content intact") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = TestSpark.tmpDir("qbeast-compact")
    val cut = li.agg(org.apache.spark.sql.functions.expr("percentile(l_orderkey, 0.5)"))
      .head.getDouble(0).toLong
    li.filter(s"l_orderkey <= $cut").write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "500").save(dir)
    li.filter(s"l_orderkey > $cut").write.format("qbeast")
      .option("columnsToIndex", "l_orderkey,l_extendedprice")
      .option("cubeSize", "500").mode("append").save(dir)
    val t = graft.table.QbeastTable.forPath(spark, dir)
    val before = t.revisionIDs.filter(_ > 0)
    assert(before.size >= 2, s"append should have bumped the revision: $before")
    t.compactRevisions()
    val s = t.snapshot
    val latest = s.lastRevisionID
    // every data file now belongs to the latest revision
    assert(s.files.forall(f => f.revisionId == latest),
      s"files left in ${s.files.map(_.revisionId).distinct}")
    // and the content still matches the source exactly
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === li.count())
    assert(back.agg(org.apache.spark.sql.functions.sum("l_quantity")).head.getDouble(0)
      === li.agg(org.apache.spark.sql.functions.sum("l_quantity")).head.getDouble(0))
    // sampling still accurate after compaction
    val f = 0.2
    val n = back.sample(f).count()
    assert(math.abs(n - f * li.count()) <= 0.01 * li.count() + 50)
  }

  test("4-dimension mixed-type index (long, double, timestamp, hashed string)") {
    val dir = TestSpark.tmpDir("qbeast-4d")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    li.write.format("qbeast")
      .option("columnsToIndex",
        "l_orderkey,l_extendedprice,l_shipdate,l_returnflag")
      .option("cubeSize", "1000").save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() === li.count())

    // revision carries all four transformers with auto-resolved types
    val snap = graft.log.QbeastLog.snapshot(dir, spark.sparkContext.hadoopConfiguration)
    val rev = snap.lastRevision.get
    assert(rev.dimensionCount === 4)
    assert(rev.columnNames ===
      Vector("l_orderkey", "l_extendedprice", "l_shipdate", "l_returnflag"))

    // range predicates over two of the four dims still prune files
    import org.apache.spark.sql.functions._
    val pred = col("l_orderkey").between(100, 200) &&
      col("l_extendedprice") < 20000
    val filtered = back.filter(pred)
    val expected = li.filter(pred)
    assert(filtered.count() === expected.count())
    // scan metric, not input_file_name(): counts files LISTED for the
    // scan (pruning evidence), not just files that produced rows
    filtered.collect()
    val numFiles = filtered.queryExecution.executedPlan.collectLeaves().collectFirst {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
        scan.metrics("numFiles").value
    }.getOrElse(-1L)
    val total = snap.files.size.toLong
    assert(numFiles >= 0 && numFiles < total,
      s"4-dim range scan should prune (read $numFiles of $total)")

    // sampling pushdown unaffected by dimensionality
    val c = back.sample(0.1).count()
    assert(math.abs(c - 600) <= 150, s"10% of 6000 expected ~600, got $c")
  }

}
