package graft.core

import graft.core.model._
import graft.core.transform._
import graft.index.ColumnIndexer
import graft.log._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The pruning-correctness invariant: the write-side Column expression
 * and the read-side literal transform must agree numerically, otherwise
 * file pruning could disagree with row values. */
class TransformParitySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("linear transformation: Column expr matches literal transform") {
    import spark.implicits._
    val t = LinearTransformer("v", "double")
    val tr = LinearTransformation(10.0, 110.0, 0.42)
    val values = Seq(10.0, 35.5, 110.0, 55.123, 109.999)
    val df = values.toDF("v")
    val got = df.select(ColumnIndexer.coordinateColumn(t, tr)).collect().map(_.getDouble(0))
    val expected = values.map(v => tr.transform(v))
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("hash transformation: Column expr matches literal transform on strings") {
    import spark.implicits._
    val t = HashTransformer("s", "string")
    val tr = HashTransformation("string")
    val values = Seq("BUILDING", "AUTOMOBILE", "", "qbeast", "ünïcødé 的")
    val df = values.toDF("s")
    val got = df.select(ColumnIndexer.coordinateColumn(t, tr)).collect().map(_.getDouble(0))
    val expected = values.map(tr.transform)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("timestamp canonical form matches catalyst literal micros") {
    import spark.implicits._
    val t = LinearTransformer("ts", "timestamp")
    val ts = java.sql.Timestamp.valueOf("2020-06-01 12:34:56.789")
    val micros = ts.getTime * 1000L
    val tr = LinearTransformation(0.0, 2.0 * micros, 0.5)
    val df = Seq(ts).toDF("ts")
    val got = df.select(ColumnIndexer.coordinateColumn(t, tr)).head.getDouble(0)
    // read side sees catalyst micros (Long)
    assert(got == tr.transform(micros))
  }

  test("cdf quantiles: monotonic ranks, exact hits, out-of-range clamps") {
    val tr = CDFNumericQuantilesTransformation(Vector(0.0, 10.0, 20.0, 40.0, 100.0))
    assert(tr.transform(0.0) == 0.0)
    assert(tr.transform(100.0) == 1.0)
    assert(tr.transform(20.0) == 0.5)
    assert(tr.transform(-5.0) == 0.0)
    assert(tr.transform(500.0) == 1.0)
    assert(tr.transform(15.0) > tr.transform(5.0))
    val st = CDFStringQuantilesTransformation(Vector("a", "g", "p", "z"))
    assert(st.transform("a") == 0.0 && st.transform("z") == 1.0)
    assert(st.transform("g") == 1.0 / 3)
    assert(st.transform("h") > st.transform("b"))
  }

  test("string histogram: reference bin semantics incl. null and serde") {
    // reference StringHistogramTransformation.transform: exact hit
    // i/(n-1); miss → bin LEFT of the insertion point; edges clamp
    val tr = StringHistogramTransformation(Vector("b", "g", "p", "x"))
    assert(tr.transform("b") == 0.0)
    assert(tr.transform("g") == 1.0 / 3)
    assert(tr.transform("x") == 1.0)
    assert(tr.transform("a") == 0.0) // below range
    assert(tr.transform("z") == 1.0) // above range
    assert(tr.transform("h") == 1.0 / 3) // falls in bin [g, p)
    assert(tr.transform("c") == 0.0) // falls in bin [b, g)
    assert(tr.transform(null) == tr.transform("null")) // reference null handling
    // default histogram yields to custom, custom never falls back
    val dflt = StringHistogramTransformation(
      StringHistogramTransformation.DefaultHistogram)
    assert(dflt.isSupersededBy(tr))
    assert(!tr.isSupersededBy(dflt))
    // revision with a histogram transformation round-trips the log serde
    val rev = Revision(1L, 0L, "t", 1000,
      Vector(StringHistogramTransformer("s", "string")), Vector(tr))
    val back = QbeastLogSerde.revisionFromJson(
      org.json4s.jackson.JsonMethods.parse(
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(QbeastLogSerde.revisionToJson(rev)))))
    assert(back.transformations.head == tr)
    assert(back.columnTransformers.head == StringHistogramTransformer("s", "string"))
    // write-side Column expr agrees with the literal transform
    import spark.implicits._
    val vals = Seq("a", "b", "c", "g", "h", "p", "q", "x", "z")
    val df = vals.toDF("s")
    val got = df.select(ColumnIndexer.coordinateColumn(
      StringHistogramTransformer("s", "string"), tr).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == vals.map(tr.transform))
  }

  test("CdfRank expression: parity with literal transforms, UDF-free plan") {
    import spark.implicits._
    // numeric quantiles: hits, misses, clamps, nulls, NaN ordering
    val nq = CDFNumericQuantilesTransformation(Vector(0.0, 10.0, 20.0, 40.0, 100.0))
    val nVals: Seq[java.lang.Double] = Seq[java.lang.Double](
      0.0, 10.0, 20.0, 40.0, 100.0, -5.0, 500.0, 5.0, 15.0, 39.999, 40.001,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, null)
    val nDf = nVals.toDF("v")
    val nCol = ColumnIndexer.coordinateColumn(
      QuantilesTransformer("v", "double"), nq).as("c")
    val nGot = nDf.select(nCol).collect().map(_.getDouble(0)).toSeq
    val nExp = nVals.map(v => if (v == null) 0.0 else nq.transform(v.doubleValue()))
    nGot.zip(nExp).zip(nVals).foreach { case ((g, e), v) =>
      assert(g == e, s"numeric $v: $g != $e")
    }

    // string quantiles: hits, misses, clamps, nulls, non-ascii
    val sq = CDFStringQuantilesTransformation(Vector("a", "g", "p", "z"))
    val sVals = Seq("a", "g", "p", "z", "", "b", "h", "zz", "ünïcødé", null)
    val sDf = sVals.toDF("s")
    val sCol = ColumnIndexer.coordinateColumn(
      QuantilesTransformer("s", "string"), sq).as("c")
    val sGot = sDf.select(sCol).collect().map(_.getDouble(0)).toSeq
    val sExp = sVals.map(v => if (v == null) 0.0 else sq.transform(v))
    sGot.zip(sExp).zip(sVals).foreach { case ((g, e), v) =>
      assert(g == e, s"string $v: $g != $e")
    }

    // histogram: bin-left semantics incl. the null->"null" rank
    val h = StringHistogramTransformation(Vector("b", "g", "p", "x"))
    val hVals = Seq("b", "g", "x", "a", "z", "h", "c", "null", null)
    val hDf = hVals.toDF("s")
    val hCol = ColumnIndexer.coordinateColumn(
      StringHistogramTransformer("s", "string"), h).as("c")
    val hGot = hDf.select(hCol).collect().map(_.getDouble(0)).toSeq
    hGot.zip(hVals.map(h.transform)).zip(hVals).foreach { case ((g, e), v) =>
      assert(g == e, s"histogram $v: $g != $e")
    }

    // the ingest projection must be UDF-free: no ScalaUDF anywhere in
    // the analyzed expression tree (the whole point of CdfRank)
    Seq(nDf.select(nCol), sDf.select(sCol), hDf.select(hCol)).foreach { df =>
      val udfs = df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
      assert(udfs.isEmpty, s"quantile projection must not box through a UDF: $udfs")
    }
    // and it runs inside whole-stage codegen (no interpreted fallback;
    // a range source, because a local Seq folds to LocalTableScan
    // before codegen is even considered)
    val ranged = spark.range(100)
      .select(org.apache.spark.sql.functions.col("id").cast("double").as("v"))
      .select(nCol)
    val planStr = ranged.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen span in simpleString;
    // the Project carrying cdf_rank must sit inside one
    assert(planStr.linesIterator.exists(l =>
      l.contains("*(") && l.contains("cdf_rank")), planStr)
    assert(ranged.collect().map(_.getDouble(0)).forall(d => d >= 0.0 && d <= 1.0))
  }

  test("a quantile-indexed write round-trips and samples correctly (CdfRank ingest)") {
    import spark.implicits._
    val dir = graft.TestSpark.tmpDir("qbeast-cdfrank-write")
    val df = (1 to 4000).map(i => (math.pow(i.toDouble, 2), s"k${i % 97}")).toDF("v", "s")
    val q = graft.utils.QbeastUtils.computeQuantilesForColumn(df, "v", 20)
    df.write.format("qbeast")
      .option("columnsToIndex", s"v:quantiles,s")
      .option("columnStats", s"""{"v_quantiles":$q}""")
      .option("cubeSize", "500").save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.count() == 4000)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head.getDouble(0) ==
      df.agg(org.apache.spark.sql.functions.sum("v")).head.getDouble(0))
    // sampling still honors the pushed weight filter on the CDF index
    val frac = back.sample(0.3).count().toDouble / 4000
    assert(math.abs(frac - 0.3) < 0.1, s"sample fraction drifted: $frac")
  }

  test("supersede/merge semantics drive revision changes") {
    val lin = LinearTransformation(0, 100, 0.5)
    assert(!lin.isSupersededBy(LinearTransformation(10, 90, 0.5)))
    assert(lin.isSupersededBy(LinearTransformation(-1, 90, 0.5)))
    assert(lin.merge(LinearTransformation(-1, 190, 0.5)) ==
      LinearTransformation(-1, 190, 0.5))
    assert(!HashTransformation("string").isSupersededBy(HashTransformation("string")))
    assert(EmptyTransformation.isSupersededBy(lin))
    assert(IdentityTransformation(Some(5.0)).isSupersededBy(lin))
    assert(IdentityTransformation(Some(1.0)).merge(IdentityTransformation(Some(3.0))) ==
      LinearTransformation(1.0, 3.0, 2.0))
  }
}

class LogSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def sampleRevision(id: Long) = Revision(
    id, 123456789L, "/tmp/t", 5000,
    Vector(LinearTransformer("a", "bigint"), HashTransformer("b", "string")),
    Vector(LinearTransformation(0, 100, 0.3), HashTransformation("string")))

  test("actions round-trip through JSON") {
    val rev = sampleRevision(1)
    val file = IndexFile("abc.parquet", 1000L, 77L, 1L,
      Vector(Block(CubeId.root(2).child(1), Weight(-5), Weight(10), 42L)), Some("{}"))
    val dims: Long => Int = _ => 2
    val lines = Seq(
      MetaDataAction("""{"type":"struct","fields":[]}""", Map("k" -> "v")),
      RevisionAction(rev), AddFileAction(file, dataChange = true),
      RemoveFileAction(RemoveFile("x.parquet", 9L)), TxnAction("app", 3L))
    lines.foreach { a =>
      val parsed = QbeastLogSerde.parseLine(QbeastLogSerde.actionToJsonLine(a), dims)
      assert(parsed == a, s"round trip failed for $a")
    }
  }

  test("snapshot replay: adds, removes, revisions, txns, conflict detection") {
    val dir = graft.TestSpark.tmpDir("qlog")
    val rev = sampleRevision(1)
    val f1 = IndexFile("f1.parquet", 10, 1, 1, Vector(Block(CubeId.root(2), Weight(0), Weight(5), 7)))
    val f2 = IndexFile("f2.parquet", 20, 2, 1, Vector(Block(CubeId.root(2), Weight(0), Weight(5), 9)))
    val v0 = QbeastLog.commit(dir, conf, -1,
      Seq(MetaDataAction("""{"type":"struct","fields":[]}""", Map("qbeast.lastRevisionID" -> "1")),
        RevisionAction(rev), AddFileAction(f1, true), TxnAction("app", 1)))
    assert(v0 == 0)
    val v1 = QbeastLog.commit(dir, conf, 0,
      Seq(AddFileAction(f2, true), RemoveFileAction(RemoveFile("f1.parquet", 5))))
    assert(v1 == 1)
    val snap = QbeastLog.snapshot(dir, conf)
    assert(snap.version == 1)
    assert(snap.files.map(_.path) == Vector("f2.parquet"))
    assert(snap.revisions(1L).columnNames == Vector("a", "b"))
    assert(snap.txns("app") == 1)
    // losing writer: version 1 already taken
    intercept[ConcurrentCommitException] {
      QbeastLog.commit(dir, conf, 0, Seq(AddFileAction(f1, true)))
    }
  }

  test("commitOptimistic: a lost race re-derives against the winner's head, None and the bound") {
    val dir = graft.TestSpark.tmpDir("qlog-optimistic")
    QbeastLog.commit(dir, conf, -1, Seq(TxnAction("seed", 1)))
    // a commit landing inside the first attempt makes it lose; the
    // second attempt sees the winner's head
    val seen = scala.collection.mutable.Buffer.empty[Long]
    val v = QbeastLog.commitOptimistic(QbeastLog.snapshot(dir, conf), conf, "TEST") { head =>
      seen += head.version
      if (seen.size == 1) QbeastLog.commit(dir, conf, head.version, Seq(TxnAction("winner", 1)))
      Some(Seq(TxnAction("rebased", head.version)))
    }
    assert(seen == Seq(0L, 1L) && v.contains(2L))
    val snap = QbeastLog.snapshot(dir, conf)
    assert(snap.txns.get("winner").contains(1L) && snap.txns.get("rebased").contains(1L))
    // None stops without committing
    assert(QbeastLog.commitOptimistic(snap, conf, "TEST")(_ => None).isEmpty)
    assert(QbeastLog.snapshot(dir, conf).version == 2L)
    // losing every race rethrows the conflict past the bound
    var attempts = 0
    intercept[ConcurrentCommitException] {
      QbeastLog.commitOptimistic(snap, conf, "TEST") { head =>
        attempts += 1
        QbeastLog.commit(dir, conf, head.version, Seq(TxnAction("racer", attempts)))
        Some(Nil)
      }
    }
    assert(attempts == QbeastLog.MaxCommitRetries + 1)
  }
}
