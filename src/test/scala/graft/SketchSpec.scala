package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch aggregates (KMV distinct-count, bloom pre-filter) and the
 * round-10 pipeline additions (BM25, edit-distance verify, cross-corpus
 * dedup). End-to-end value parity vs DuckDB is enforced by the
 * t31-t34/q71 oracles; these pin the operator semantics on crafted
 * inputs and the properties the oracles cannot see (pruning actually
 * happening, no false negatives, determinism under repartition). */
class SketchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- KMV ------------------------------------------------------------------

  test("kmvDistinct is exact below k") {
    val df = (0 until 40).map(i => ("g", s"val_$i")).toDF("g", "v")
      .union((0 until 7).map(i => ("h", s"x_${i % 3}")).toDF("g", "v"))
    val got = ops.Sketch.kmvDistinct(df, "g", col("v"), k = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("g" -> 40.0, "h" -> 3.0))
  }

  test("kmvDistinct estimate is within 25% at 20x k and invariant to partitioning") {
    val n = 1280 // 20x k
    val df = (0 until n).map(i => ("g", s"unique_value_$i")).toDF("g", "v")
    def run(parts: Int) =
      ops.Sketch.kmvDistinct(df.repartition(parts), "g", col("v"), k = 64)
        .collect().map(r => (r.getDouble(1), r.getLong(2))).head
    val (est1, kth1) = run(1)
    val (est8, kth8) = run(8)
    // merge path (8 partitions) must agree bit-for-bit with the single
    // partition fold — the sketch is a pure function of the value set
    assert(est1 == est8 && kth1 == kth8)
    assert(math.abs(est1 - n) / n < 0.25, s"est $est1 too far from $n")
  }

  test("kmvDistinct counts distinct VALUES, not rows") {
    val df = (0 until 500).map(i => ("g", s"dup_${i % 10}")).toDF("g", "v")
    val got = ops.Sketch.kmvDistinct(df, "g", col("v"), k = 64).head()
    assert(got.getDouble(1) == 10.0)
  }

  // ---- HLL ------------------------------------------------------------------

  test("hllDistinct estimate within 10% at high cardinality and invariant to partitioning") {
    val n = 20000 // >> 2.5*m = 640: the raw-estimate branch
    val df = (0 until n).map(i => ("g", s"unique_value_$i")).toDF("g", "v")
    def run(parts: Int) =
      ops.Sketch.hllDistinct(df.repartition(parts), "g", col("v"))
        .collect().map(r => (r.getDouble(1), r.getLong(2), r.getLong(3))).head
    val (est1, scaled1, zeros1) = run(1)
    val (est8, scaled8, zeros8) = run(8)
    // the merged register state is a pure function of the value set
    assert(est1 == est8 && scaled1 == scaled8 && zeros1 == zeros8)
    assert(math.abs(est1 - n) / n < 0.10, s"est $est1 too far from $n")
    // standard error for m=256 is ~6.5%; 10% is ~1.5 sigma
  }

  test("hllDistinct small range takes linear counting and stays accurate") {
    val df = (0 until 2000).map(i => ("g", s"dup_${i % 50}")).toDF("g", "v")
    val r = ops.Sketch.hllDistinct(df, "g", col("v")).head()
    val (est, zeros) = (r.getDouble(1), r.getLong(3))
    assert(zeros > 0L)
    // linear counting: m * ln(m / zeros), exactly
    assert(est == 256.0 * StrictMath.log(256.0 / zeros))
    assert(math.abs(est - 50.0) / 50.0 < 0.15, s"est $est too far from 50")
  }

  test("hllDistinct counts distinct VALUES, ignores nulls, fixed buffer size") {
    val df = ((0 until 500).map(i => ("g", Some(s"dup_${i % 10}"))) ++
      Seq(("g", Option.empty[String]))).toDF("g", "v")
    val r = ops.Sketch.hllDistinct(df, "g", col("v")).head()
    // 10 distinct values fill <= 10 registers; nulls never touch one
    assert(r.getLong(3) >= 246L)
    assert(math.abs(r.getDouble(1) - 10.0) < 1.5)
  }

  test("hllState + hllMergeDistinct equals the direct sketch, survives persistence") {
    val df = (0 until 5000)
      .map(i => (s"s${i % 4}", s"d${i % 13}", s"val_${i % (700 + i % 4)}"))
      .toDF("src", "day", "v")
    val direct = ops.Sketch.hllDistinct(df, "src", col("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // states per (src, day), persisted to parquet, merged per src
    val dir = TestSpark.tmpDir("hll-rollup")
    ops.Sketch.hllState(df, Seq("src", "day"), col("v"))
      .write.parquet(s"$dir/states")
    val rolled = ops.Sketch.hllMergeDistinct(
      spark.read.parquet(s"$dir/states"), "src", col("hll_state"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(rolled === direct)
  }

  test("hll merge is idempotent: overlapping states never double-count") {
    val df = (0 until 1000).map(i => ("g", s"val_${i % 200}")).toDF("g", "v")
    val state = ops.Sketch.hllState(df, Seq("g"), col("v"))
    // the same state contributed twice must estimate exactly once
    val doubled = ops.Sketch.hllMergeDistinct(
      state.unionAll(state), "g", col("hll_state")).head()
    val once = ops.Sketch.hllMergeDistinct(state, "g", col("hll_state")).head()
    assert(doubled.getDouble(1) == once.getDouble(1) &&
      doubled.getLong(2) == once.getLong(2))
  }

  test("graft_hll_state / graft_hll_merge work from SQL") {
    val df = (0 until 2000).map(i => (s"s${i % 2}", s"d${i % 5}", s"v_${i % 300}"))
      .toDF("src", "day", "v")
    df.createOrReplaceTempView("hll_roll_in")
    val viaSql = spark.sql(
      """WITH states AS (
        |  SELECT src, day, graft_hll_state(
        |    CAST(conv(substring(md5(v), 1, 8), 16, 10) AS BIGINT)) AS st
        |  FROM hll_roll_in GROUP BY src, day)
        |SELECT src, graft_hll_merge(st).est AS est FROM states GROUP BY src""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaApi = ops.Sketch.hllDistinct(df, "src", col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaApi)
  }

  test("graft_hll_distinct works from SQL") {
    val df = (0 until 3000).map(i => (s"s${i % 3}", s"val_${i % (100 * (1 + i % 3))}"))
      .toDF("src", "v")
    df.createOrReplaceTempView("hll_in")
    val viaSql = spark.sql(
      """SELECT src, graft_hll_distinct(
        |  CAST(conv(substring(md5(v), 1, 8), 16, 10) AS BIGINT)).est AS est
        |FROM hll_in GROUP BY src""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaApi = ops.Sketch.hllDistinct(df, "src", col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaApi)
  }

  // ---- bloom ----------------------------------------------------------------

  test("bloom filter has no false negatives and prunes most non-members") {
    val build = (0L until 500L).map(i => i * 7919L).toDF("k")
    val bits = ops.Sketch.bloomBits(build, col("k"), numBits = 1 << 16, numHashes = 3)
    val probe = (0L until 20000L).toDF("k")
    val kept = ops.Sketch.bloomPreFilter(
      probe, col("k"), build, col("k"), numBits = 1 << 16, numHashes = 3)
      .collect().map(_.getLong(0)).toSet
    val members = (0L until 500L).map(_ * 7919L).filter(_ < 20000L).toSet
    assert(members.subsetOf(kept), "bloom dropped a true member")
    // 2^16 bits / 500 keys → fp rate well under 1%; allow 2%
    assert(kept.size <= members.size + 400, s"fp too high: ${kept.size}")
    assert(bits.length == (1 << 16) / 64)
  }

  test("bloom pre-filtered join equals the plain join") {
    val fact = (0L until 5000L).map(i => (i % 700L, i)).toDF("k", "payload")
    val dim = (0L until 50L).map(i => (i * 13L, s"d$i")).toDF("k", "name")
    val plain = fact.join(dim, "k").agg(count(lit(1)), sum("payload"))
      .head().toSeq
    val filtered = ops.Sketch.bloomPreFilter(fact, col("k"), dim, col("k"))
      .join(dim, "k").agg(count(lit(1)), sum("payload")).head().toSeq
    assert(plain == filtered)
  }

  test("bloom pre-filter prunes before the join and stays codegen (no UDF)") {
    val fact = (0L until 10000L).toDF("k")
    val dim = Seq(1L, 5L, 9L).toDF("k")
    val pre = ops.Sketch.bloomPreFilter(fact, col("k"), dim, col("k"))
    assert(pre.count() < 200, "pre-filter should drop nearly everything")
    val plan = pre.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"expected UDF-free plan:\n$plan")
  }

  // ---- count-min heavy hitters ---------------------------------------------

  test("heavyHitters equals exact GROUP BY HAVING on a skewed keyspace") {
    // zipf-ish: key i appears (1000 / (i+1)) times
    val rows = (0 until 400).flatMap(i => Seq.fill(1000 / (i + 1))(s"key_$i"))
    val df = rows.toDF("k").repartition(7)
    val got = ops.Sketch.heavyHitters(df, col("k"), threshold = 50L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 50L).toMap
    assert(got == exact)
  }

  test("heavyHitters keeps NULL as a first-class group") {
    val rows: Seq[Option[String]] =
      Seq.fill(80)(None) ++ Seq.fill(70)(Some("a")) ++ Seq.fill(10)(Some("b"))
    val got = rows.toDF("k")
      .transform(d => ops.Sketch.heavyHitters(d, col("k"), threshold = 60L))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(None -> 80L, Some("a") -> 70L),
      "the NULL group must count and threshold exactly like any other key")
  }

  test("heavyHitters skips the sketch filter when it cannot prune (single-pass plan)") {
    // every key's count clears the threshold → the CMS admits everything
    // and the pre-filter would be pure overhead: the returned plan must
    // be the plain aggregation, with no CmsEstimate filter node
    // (assert on the ANALYZED plan: over a LocalRelation Catalyst's
    // ConvertToLocalRelation folds any filter away in the physical
    // plan, hiding which branch heavyHitters took)
    def usesCms(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.toLowerCase.contains("cms")
    val flat = (0 until 50).flatMap(i => Seq.fill(40)(s"key_$i")).toDF("k")
    val hh = ops.Sketch.heavyHitters(flat, col("k"), threshold = 10L)
    assert(!usesCms(hh),
      s"no-pruning shape must skip the sketch probe:\n${hh.queryExecution.analyzed}")
    val got = hh.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == (0 until 50).map(i => s"key_$i" -> 40L).toMap)

    // a genuinely skewed keyspace keeps the filter (the scale path)
    val skewed = ((0 until 20000).map(i => s"tail_$i") ++
      Seq.fill(5000)("hot")).toDF("k")
    val hh2 = ops.Sketch.heavyHitters(skewed, col("k"), threshold = 1000L)
    assert(usesCms(hh2),
      s"skewed shape must keep the candidate filter:\n${hh2.queryExecution.analyzed}")
    assert(hh2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("hot" -> 5000L))
  }

  test("heavyHitters survives a tiny sketch (heavy collisions) unchanged") {
    // width 16 over 300 keys: the sketch is mostly noise → many false
    // candidates, but the exact confirm must still produce the exact set
    val rows = (0 until 300).flatMap(i => Seq.fill(if (i < 5) 80 else 3)(s"k$i"))
    val df = rows.toDF("k")
    val got = ops.Sketch.heavyHitters(df, col("k"), threshold = 60L, depth = 2, width = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == (0 until 5).map(i => s"k$i" -> 80L).toMap)
  }

  test("cms estimate never underestimates and the candidate filter is codegen") {
    val df = (0L until 2000L).map(i => i % 37L).toDF("h")
    val shims = org.apache.spark.sql.GraftShims
    val agg = shims.column(graft.expressions.CmsAgg(
      shims.expression(col("h")), 4, 64).toAggregateExpression())
    val counters = df.select(agg.as("c")).head().getSeq[Long](0)
    assert(counters.length == 4 * 64)
    val est = shims.column(graft.expressions.CmsEstimate(
      shims.expression(typedlit(counters)), shims.expression(col("h")), 4, 64))
    val under = df.distinct().select(col("h"), est.as("e"))
      .collect().count(r => r.getLong(1) < 2000L / 37L) // true count ≥ 54
    assert(under == 0, "CMS must never underestimate")
    val filtered = df.filter(est >= lit(100L))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"expected codegen plan:\n$plan")
  }

  test("graft_cms / graft_cms_estimate work from SQL") {
    QTables.ensureExtensions(spark)
    (0L until 100L).map(i => i % 3L).toDF("h").createOrReplaceTempView("cms_in")
    val counters = spark.sql("SELECT graft_cms(h, 4, 64) AS c FROM cms_in")
      .head().getSeq[Long](0)
    assert(counters.sum == 400L, "4 rows x 100 increments")
    spark.sql("SELECT graft_cms(h, 4, 64) AS c FROM cms_in")
      .createOrReplaceTempView("cms_sk")
    val est = spark.sql(
      "SELECT graft_cms_estimate(c, CAST(0 AS BIGINT), 4, 64) FROM cms_sk")
      .head().getLong(0)
    assert(est >= 34L, s"key 0 appears 34 times, estimate was $est")
  }

  // ---- BM25 -----------------------------------------------------------------

  test("bm25 matches a hand-computed score on a two-doc corpus") {
    val df = Seq((1L, "spark spark fast"), (2L, "slow table scan")).toDF("id", "text")
    val rows = ops.TextOps.bm25(df, "id", "text", Seq("spark", "table"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 2)
    val n = 2.0; val avgdl = 3.0
    def score(tf: Long, df0: Long, dl: Long): Double =
      math.log((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
        (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
    val bySpark = rows.find(r => r._2 == "spark").get
    assert(bySpark._1 == 1L && bySpark._3 == 2L)
    assert(math.abs(bySpark._4 - score(2, 1, 3)) < 1e-12)
    val byTable = rows.find(r => r._2 == "table").get
    assert(math.abs(byTable._4 - score(1, 1, 3)) < 1e-12)
  }

  test("bm25 rewards rarity: rare term outscores common term at equal tf") {
    val docs = (1L to 20L).map(i => (i, if (i == 1) "rare common" else "common filler"))
      .toDF("id", "text")
    val scores = ops.TextOps.bm25(docs, "id", "text", Seq("rare", "common"))
      .filter(col("doc_id") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(scores("rare") > scores("common"))
  }

  // ---- edit-distance verify -------------------------------------------------

  test("editDistanceVerifiedPairs confirms near-identical docs and rejects distant ones") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok5", "tok5x") // tiny edit, same shingles mostly
    val distant = (0 until 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, distant), (4L, base))
      .toDF("doc_id", "text")
    val got = ops.Dedup.editDistanceVerifiedPairs(df, "doc_id", "text",
      threshold = 0.3, prefixLen = 200, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair missing")
    assert(got.find(t => (t._1, t._2) == (1L, 4L)).get._3 == 0L)
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "near dup pair missing")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "distant doc must not pair")
  }

  // ---- cross-corpus dedup ---------------------------------------------------

  test("crossCorpusDedup: exact wins over near, unique kept, incoming-only dups kept") {
    val mk = (s: String) => s.split(" ").mkString(" ")
    val shared = mk("a b c d e f g h i j k l m n o p")
    val nearShared = shared.replace(" p", " q") // same leading shingles
    val unique = mk("z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")
    val existing = Seq((100L, shared), (101L, mk("x1 x2 x3 x4 x5 x6")))
      .toDF("doc_id", "text")
    // 3 & 4 duplicate each OTHER but nothing in `existing` → both kept
    val incoming = Seq((1L, shared), (2L, nearShared), (5L, unique),
      (3L, mk("m1 m2 m3 m4 m5 m6")), (4L, mk("m1 m2 m3 m4 m5 m6")))
      .toDF("doc_id", "text")
    val got = ops.Dedup.crossCorpusDedup(incoming, existing, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "exact_dup")
    assert(got(2L) == "near_dup")
    assert(got(5L) == "kept")
    assert(got(3L) == "kept" && got(4L) == "kept",
      "within-incoming duplicates are NOT cross-corpus duplicates")
  }

  // ---- KMV overlap ----------------------------------------------------------

  test("kmvOverlap is exact under capacity: known intersections, all pairs") {
    // g0 = {v0..v29}, g1 = {v20..v49}, g2 = {v100..v109}: overlaps
    // 10 (g0,g1), 0 (g0,g2), 0 (g1,g2)
    val rows = (0 until 30).map(i => ("g0", s"v$i")) ++
      (20 until 50).map(i => ("g1", s"v$i")) ++
      (100 until 110).map(i => ("g2", s"v$i"))
    val df = rows.toDF("g", "v")
    val states = ops.Sketch.kmvSetState(df, Seq("g"), col("v"), k = 64)
    val got = ops.Sketch.kmvOverlap(states, "g", col("kmv_state"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(("g0", "g1"), ("g0", "g2"), ("g1", "g2")))
    assert(got(("g0", "g1")) == ((10.0, 50.0, 10.0 / 50.0)))
    assert(got(("g0", "g2")) == ((0.0, 40.0, 0.0)))
    assert(got(("g1", "g2")) == ((0.0, 40.0, 0.0)))
  }

  test("kmvOverlap states survive persistence and duplicate rows do not inflate") {
    val dir = TestSpark.tmpDir("kmv-overlap")
    val rows = (0 until 500).map(i => ("a", s"x${i % 25}")) ++ // 25 distinct
      (0 until 500).map(i => ("b", s"x${i % 40}")) //             40 distinct
    ops.Sketch.kmvSetState(rows.toDF("g", "v"), Seq("g"), col("v"), k = 64)
      .write.parquet(s"$dir/states")
    val got = ops.Sketch.kmvOverlap(
      spark.read.parquet(s"$dir/states"), "g", col("kmv_state")).head()
    assert(got.getDouble(2) == 25.0 && got.getDouble(3) == 40.0)
    assert(got.getDouble(4) == 25.0 / 40.0)
  }

  test("kmvOverlap caches nothing and aggregates the states once") {
    val dir = TestSpark.tmpDir("kmv-overlap-cache") + "/src"
    (0 until 300).map(i => (s"g${i % 3}", s"v${i % 50}")).toDF("g", "v")
      .write.parquet(dir)
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    (1 to 2).foreach { _ =>
      val states = ops.Sketch.kmvSetState(spark.read.parquet(dir), Seq("g"), col("v"))
      val got = ops.Sketch.kmvOverlap(states, "g", col("kmv_state"))
      assert(got.collect().length == 3)
      // one scan of the source: the other join side reuses its shuffle
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
    }
    assert(cache.isEmpty, "kmvOverlap left a CacheManager entry")
  }

  test("graft_kmv_state / graft_kmv_overlap work from SQL") {
    val rows = (0 until 30).map(i => ("g0", s"v$i")) ++
      (20 until 50).map(i => ("g1", s"v$i"))
    rows.toDF("g", "v").createOrReplaceTempView("kmv_sql_in")
    val got = spark.sql(
      """WITH states AS (
        |  SELECT g, graft_kmv_state(
        |    CAST(conv(substr(md5(v), 1, 8), 16, 10) AS BIGINT), 64) AS st
        |  FROM kmv_sql_in GROUP BY g)
        |SELECT a.g, b.g, graft_kmv_overlap(a.st, b.st).inter AS inter,
        |  graft_kmv_overlap(a.st, b.st).jaccard AS jac
        |FROM states a JOIN states b ON a.g < b.g""".stripMargin).head()
    assert(got.getDouble(2) == 10.0 && got.getDouble(3) == 10.0 / 50.0)
  }

  test("kmvOverlap stays exact when both sets are complete but their union exceeds k") {
    // 60 + 60 distinct with overlap 20: each set is under k=64 (so
    // both are complete hash sets), but the union (100) exceeds k — the
    // exact answer must still come back, not the coordinated-sample
    // estimate (this is the regime the t40 oracle exercises at larger
    // SFs: every source under capacity, pairwise unions over it)
    val rows = (0 until 60).map(i => ("a", s"w$i")) ++
      (40 until 100).map(i => ("b", s"w$i"))
    val states = ops.Sketch.kmvSetState(rows.toDF("g", "v"), Seq("g"), col("v"), k = 64)
    val got = ops.Sketch.kmvOverlap(states, "g", col("kmv_state")).head()
    assert(got.getDouble(2) == 20.0 && got.getDouble(3) == 100.0)
    assert(got.getDouble(4) == 20.0 / 100.0)
  }

  test("kmvOverlap answers null for a null state (outer-joined pair), in codegen") {
    val rows = (0 until 10).map(i => ("a", s"v$i"))
    val states = ops.Sketch.kmvSetState(rows.toDF("g", "v"), Seq("g"), col("v"), k = 64)
      .withColumn("null_state", lit(null).cast("binary"))
    val shims = org.apache.spark.sql.GraftShims
    val ov = shims.column(graft.expressions.KmvOverlapExpr(
      shims.expression(col("kmv_state")), shims.expression(col("null_state"))))
    assert(states.select(ov.as("ov")).head().isNullAt(0),
      "null state must answer null, not NPE")
  }

  test("kmvOverlap estimates past capacity within 30% and handles mixed k") {
    val n = 4000
    val shared = 2000
    // a = {0..3999}, b = {2000..5999}: jaccard = 2000/6000, union 6000
    val rows = (0 until n).map(i => ("a", s"u$i")) ++
      (shared until shared + n).map(i => ("b", s"u$i"))
    val df = rows.toDF("g", "v")
    val sa = ops.Sketch.kmvSetState(df.filter(col("g") === "a"), Seq("g"),
      col("v"), k = 256)
    val sb = ops.Sketch.kmvSetState(df.filter(col("g") === "b"), Seq("g"),
      col("v"), k = 512) // mixed capacity: pair math uses min(k)
    val got = ops.Sketch.kmvOverlap(sa.unionByName(sb), "g", col("kmv_state"))
      .head()
    val (inter, uni, jac) = (got.getDouble(2), got.getDouble(3), got.getDouble(4))
    assert(math.abs(uni - 6000.0) / 6000.0 < 0.3, s"union est $uni")
    assert(math.abs(jac - shared / 6000.0) / (shared / 6000.0) < 0.3, s"jaccard $jac")
    assert(math.abs(inter - shared) / shared < 0.45, s"inter est $inter")
  }

}
