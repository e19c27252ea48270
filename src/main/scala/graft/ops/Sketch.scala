package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Sketch-based corpus statistics and join pre-filtering, built on the
 * [[graft.expressions]] aggregate sketches. Both operators follow the
 * one-scan-plus-tiny-state shape that survives 100 TB: the data is
 * touched once, partial sketch buffers ride the aggregation tree, and
 * nothing proportional to the input ever reaches the driver.
 */
object Sketch {

  private val shims = org.apache.spark.sql.GraftShims

  /** Engine-portable 32-bit hash of a value: first 8 md5 hex chars as
   * an unsigned 32-bit integer in a long — the same construction the
   * signature operators use ([[HashUtils.h32]]), so an external SQL
   * engine replays it as `('0x' || substr(md5(v), 1, 8))::BIGINT`. */
  def portableHash32(value: Column): Column =
    conv(substring(md5(value), 1, 8), 16, 10).cast("long")

  /**
   * Per-group distinct-count estimate via a KMV (k-minimum-values)
   * sketch over [[portableHash32]] of `value`. Output:
   * `(groupCol, est double, kth long)` — exact below k distinct
   * values, `(k-1)·2^32 / kth` beyond. Unlike exact
   * `count(DISTINCT v)` the shuffle carries ≤ k longs per group
   * regardless of cardinality, and unlike HLL the estimate is a pure
   * deterministic function of the hash set (bit-replayable by the
   * DuckDB oracle).
   */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      value: Column,
      k: Int = 64): DataFrame = {
    val agg = shims.column(
      graft.expressions.KmvDistinctAgg(
        shims.expression(portableHash32(value)), k).toAggregateExpression())
    df.groupBy(groupCol)
      .agg(agg.as("sk"))
      .select(col(groupCol), col("sk.est").as("est"), col("sk.kth").as("kth"))
  }

  /**
   * Per-group distinct-count estimate via a fixed 256-register
   * HyperLogLog over [[portableHash32]] of `value`. Output:
   * `(groupCol, est double, scaled long, zeros long)` — `scaled` is
   * the exact integer harmonic denominator and `zeros` the empty
   * register count (both bit-replayable by an external engine); `est`
   * is the corrected HLL estimate (linear counting in the small range,
   * raw `alpha·m²·2^25/scaled` otherwise). Unlike KMV's k longs, the
   * shuffle carries a FIXED 256 bytes per group, merged by elementwise
   * max — the sketch to reach for when the group count itself is large.
   */
  def hllDistinct(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val agg = shims.column(
      graft.expressions.HllDistinctAgg(
        shims.expression(portableHash32(value))).toAggregateExpression())
    df.groupBy(groupCol)
      .agg(agg.as("sk"))
      .select(col(groupCol), col("sk.est").as("est"),
        col("sk.scaled").as("scaled"), col("sk.zeros").as("zeros"))
  }

  /**
   * The state-producing half of a mergeable HLL rollup: one 256-byte
   * binary register state per fine-grained group. Persist the result
   * (a parquet table of `groupCols... , hll_state binary`) and combine
   * with [[hllMergeDistinct]] into ANY coarser grouping later without
   * rescanning the data — the pre-aggregated distinct-count cube.
   */
  def hllState(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame = {
    val agg = shims.column(
      graft.expressions.HllStateAgg(
        shims.expression(portableHash32(value))).toAggregateExpression())
    df.groupBy(groupCols.map(col): _*).agg(agg.as("hll_state"))
  }

  /** The finishing half: merge [[hllState]] register arrays per
   * `groupCol` (elementwise max — associative, commutative, idempotent)
   * and return the same `(est, scaled, zeros)` as [[hllDistinct]].
   * Merging the fine-grained states equals sketching the raw union. */
  def hllMergeDistinct(df: DataFrame, groupCol: String, state: Column): DataFrame = {
    val agg = shims.column(
      graft.expressions.HllMergeAgg(
        shims.expression(state)).toAggregateExpression())
    df.groupBy(groupCol)
      .agg(agg.as("sk"))
      .select(col(groupCol), col("sk.est").as("est"),
        col("sk.scaled").as("scaled"), col("sk.zeros").as("zeros"))
  }

  /**
   * The state-producing half of corpus-overlap analysis: one serialized
   * KMV hash-set state (the k smallest distinct [[portableHash32]]
   * values, `[k][size][sorted longs]`) per fine-grained group. Persist
   * the result and answer ANY pairwise overlap question later with
   * [[kmvOverlap]] — no rescan, no O(rows) join. Exact while a group
   * holds < k distinct values; a coordinated-sample estimate beyond.
   */
  def kmvSetState(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      k: Int = 64): DataFrame = {
    val agg = shims.column(
      graft.expressions.KmvSetStateAgg(
        shims.expression(portableHash32(value)), k).toAggregateExpression())
    df.groupBy(groupCols.map(col): _*).agg(agg.as("kmv_state"))
  }

  /**
   * Pairwise overlap between every two groups of a [[kmvSetState]]
   * table: `(src_a, src_b, inter, uni, jaccard)` for each unordered
   * pair (`src_a < src_b`). Exact integer counts (and an oracle-
   * replayable division) while both states are under capacity; the
   * standard KMV coordinated-sample estimate beyond. The pair space is
   * inherently O(groups²) — but over k-long STATES, not rows: 365
   * daily states compare in milliseconds where the raw self-join
   * would rescan the corpus.
   */
  def kmvOverlap(
      states: DataFrame,
      keyCol: String,
      state: Column): DataFrame = {
    // no cache: both join sides plan the states' upstream identically,
    // so adaptive execution reuses the state aggregation's shuffle
    // (ReusedExchange) and the corpus is scanned once. A persist here
    // would leak one CacheManager entry per call.
    val mat = states.select(col(keyCol).as("_k"), state.as("_s"))
    val a = mat.select(col("_k").as("src_a"), col("_s").as("_sa"))
    val b = mat.select(col("_k").as("src_b"), col("_s").as("_sb"))
    val ov = shims.column(graft.expressions.KmvOverlapExpr(
      shims.expression(col("_sa")), shims.expression(col("_sb"))))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), ov.as("ov"))
      .select(col("src_a"), col("src_b"), col("ov.inter").as("inter"),
        col("ov.uni").as("uni"), col("ov.jaccard").as("jaccard"))
  }

  /**
   * Per-group quantiles via a mergeable KLL-style sketch over `value`
   * cast to double. `qs` maps output column name → quantile in [0,1];
   * output is `(groupCol, qs...)`. Exact (and equal to DuckDB's
   * `quantile_disc`) while a group holds ≤ k rows; beyond that the
   * shuffle still carries only O(k·log(n/k)) doubles per group and the
   * rank error grows as O(log(n/k)·n/k) — see
   * [[graft.expressions.KllState]].
   */
  def kllQuantiles(
      df: DataFrame,
      groupCol: String,
      value: Column,
      qs: Seq[(String, Double)],
      k: Int = graft.expressions.KllState.DefaultK): DataFrame = {
    val agg = shims.column(
      graft.expressions.KllQuantilesAgg(
        shims.expression(value.cast("double")), qs.map(_._2), k)
        .toAggregateExpression())
    df.groupBy(groupCol)
      .agg(agg.as("sk"))
      .select(col(groupCol) +: qs.zipWithIndex.map { case ((name, _), i) =>
        col("sk").getItem(i).as(name)
      }: _*)
  }

  /**
   * The state-producing half of a mergeable quantile rollup: one
   * serialized KLL sketch per fine-grained group. Persist the result
   * (a parquet table of `groupCols..., kll_state binary`) and combine
   * with [[kllMergeQuantiles]] into ANY coarser grouping later without
   * rescanning the data — the pre-aggregated percentile cube.
   */
  def kllState(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      k: Int = graft.expressions.KllState.DefaultK): DataFrame = {
    val agg = shims.column(
      graft.expressions.KllStateAgg(
        shims.expression(value.cast("double")), k).toAggregateExpression())
    df.groupBy(groupCols.map(col): _*).agg(agg.as("kll_state"))
  }

  /** The finishing half: merge [[kllState]] sketches per `groupCol`
   * (level-wise concatenation + deterministic compaction) and return
   * the same quantile columns as [[kllQuantiles]]. While the merged
   * row count stays within capacity, merging the fine-grained states
   * equals sketching the raw union. */
  def kllMergeQuantiles(
      df: DataFrame,
      groupCol: String,
      state: Column,
      qs: Seq[(String, Double)]): DataFrame = {
    val agg = shims.column(
      graft.expressions.KllMergeAgg(
        shims.expression(state), qs.map(_._2)).toAggregateExpression())
    df.groupBy(groupCol)
      .agg(agg.as("sk"))
      .select(col(groupCol) +: qs.zipWithIndex.map { case ((name, _), i) =>
        col("sk").getItem(i).as(name)
      }: _*)
  }

  /** Bloom-filter bitset of `key` over `df` as a driver-side long
   * array (numBits/8 bytes — metadata-sized, e.g. 128 KiB for 2^20
   * bits). The aggregation is map-side partial: one bitset per task,
   * OR-merged. */
  def bloomBits(
      df: DataFrame,
      key: Column,
      numBits: Int = 1 << 20,
      numHashes: Int = 3): Array[Long] = {
    val agg = shims.column(
      graft.expressions.BloomBitsAgg(
        shims.expression(key), numBits, numHashes).toAggregateExpression())
    df.select(agg.as("bits")).head().getSeq[Long](0).toArray
  }

  /**
   * Hand-rolled runtime join filter: build a bloom filter from the
   * (small) build side's key column, embed it as a literal predicate
   * on the (large) probe side, and return the filtered probe frame.
   * Rows failing every-bit-set are dropped BEFORE the join's shuffle,
   * so at scale the exchange carries only (true matches + the false
   * positive rate) instead of the full fact table — the pattern
   * Spark's own `InjectRuntimeFilter` applies, made explicit and
   * deterministic. No false negatives: `probe.join(build)` over the
   * result equals the unfiltered join exactly.
   */
  def bloomPreFilter(
      probe: DataFrame,
      probeKey: Column,
      build: DataFrame,
      buildKey: Column,
      numBits: Int = 1 << 20,
      numHashes: Int = 3): DataFrame = {
    val bits = bloomBits(build, buildKey, numBits, numHashes)
    val bitsLit = typedlit(bits.toSeq)
    probe.filter(shims.column(graft.expressions.BloomMightContain(
      shims.expression(bitsLit), shims.expression(probeKey), numHashes)))
  }

  /**
   * Exact heavy hitters via a count-min candidate pass: one scan builds
   * a depth×width CMS over the key hashes (metadata-sized: 128 KiB at
   * the defaults, via map-side-combining [[graft.expressions.CmsAgg]]);
   * the sketch rides back into a [[graft.expressions.CmsEstimate]]
   * predicate that drops every row whose key CANNOT reach `threshold`
   * (CMS never underestimates → no false negatives); only the
   * surviving rows pay the exact groupBy, whose HAVING removes the
   * sketch's false positives. Output `(key, n)` is therefore EXACTLY
   * `GROUP BY key HAVING count(*) >= threshold` — but at 100 TB the
   * exact aggregation shuffles only rows of candidate keys instead of
   * the full keyspace, which is the difference between a bounded
   * second pass and a terabyte exchange when the key column is
   * long-tailed (the usual shape: a handful of boilerplate documents /
   * hot users / stopword n-grams over billions of singletons).
   */
  def heavyHitters(
      df: DataFrame,
      key: Column,
      threshold: Long,
      depth: Int = 4,
      width: Int = 4096): DataFrame = {
    // NULL is a first-class group (exact GROUP BY semantics): xxhash64
    // of a null evaluates to the seed, so null rows flow through the
    // sketch and the candidate filter like any other key; a real key
    // colliding with that value only inflates an estimate, never loses
    // a group. xxhash64 (codegen, non-cryptographic), NOT the md5-based
    // portableHash32: the sketch is invisible to the result (exact
    // groupBy + HAVING decide it), so nothing here needs oracle
    // replayability, and md5 per row was the sketch pass's dominant
    // cost at bench scale.
    val keyed = df.select(key.as("key"), xxhash64(key).as("_h"))

    // DECIDE whether the pre-filter can pay BEFORE scanning everything:
    // build a CMS over a 1-in-K partition subsample (unconsumed
    // partitions never pull rows from the source, so this reads ~1/K of
    // the input) and upper-bound the kept-row fraction — a row survives
    // the filter only if EVERY depth's cell reaches the threshold, so
    // the fraction is at most, per depth row, (mass in cells >=
    // threshold/K-scaled) / N. When even that bound can't halve the
    // shuffle (threshold at or below most keys' counts — a
    // low-threshold query over a flat keyspace), skip straight to the
    // exact aggregation: the degenerate case then costs ~1.06 scans
    // instead of 2. The decision is a heuristic (partition sampling),
    // the RESULT is not: both branches end in the exact groupBy+HAVING.
    // Caveats that bound when the sampling helps: skipping partitions
    // only skips SOURCE reads for scan-rooted plans (a shuffle-backed
    // input still runs its upstream stages in full for this job), and a
    // plan with fewer than 2·SamplePartitions partitions would sample
    // every partition — a full extra pass. Both cases fall back to the
    // build-the-full-sketch-first shape: decide from the full CMS (two
    // scans worst case, exactly the pre-sampling behavior) and REUSE it
    // as the candidate filter when pruning pays.
    val classic = keyed.select(col("_h"))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val nParts = math.max(1, classic.rdd.getNumPartitions)
    // fixed 1-in-SampleStride stride → the decision reads ~1/16 of the
    // input regardless of plan width; plans too narrow for the stride
    // to leave most partitions unsampled take the full-sketch decision
    val every = if (nParts >= 2 * SampleStride) SampleStride else 1

    def fullCounters(): Array[Long] = {
      val cmsAgg = shims.column(
        graft.expressions.CmsAgg(
          shims.expression(col("_h")), depth, width).toAggregateExpression())
      keyed.select(cmsAgg.as("c")).head().getSeq[Long](0).toArray
    }

    // (counters for the DECISION, their count scale, full CMS if built)
    val (decisionCounters, scale, full) =
      if (every == 1) {
        val c = fullCounters()
        (c, 1L, Some(c))
      } else {
        val sampled = classic.queryExecution.toRdd
          .mapPartitionsWithIndex { (pid, it) =>
            if (pid % every != 0) Iterator.empty
            else {
              val c = new Array[Long](depth * width)
              it.foreach(r =>
                graft.expressions.CmsImpl.update(c, r.getLong(0), depth, width))
              Iterator.single(c)
            }
          }
          .fold(new Array[Long](depth * width)) { (a, b) =>
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          }
        (sampled, every.toLong, None)
      }
    val n = math.max(decisionCounters.iterator.take(width).sum, 1L)
    val scaledThreshold = math.max(1L, threshold / scale)
    val keptBound = (0 until depth).map { d =>
      var s = 0L
      var i = d * width
      val end = i + width
      while (i < end) {
        if (decisionCounters(i) >= scaledThreshold) s += decisionCounters(i)
        i += 1
      }
      s.toDouble / n
    }.min

    val exact = keyed.groupBy("key").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
    if (keptBound >= HeavyHitterSkipFraction) exact
    else {
      // the filter pays: use the full sketch (a SAMPLED one could miss
      // rows → false negatives, which the filter must never have),
      // built now if the decision came from the sample
      val counters = full.getOrElse(fullCounters())
      val estimate = shims.column(graft.expressions.CmsEstimate(
        shims.expression(typedlit(counters.toSeq)),
        shims.expression(col("_h")), depth, width))
      keyed.filter(estimate >= threshold)
        .groupBy("key").agg(count(lit(1)).as("n"))
        .filter(col("n") >= threshold)
    }
  }

  /** The decision pass samples every SampleStride-th partition; plans
   * with fewer than 2·SampleStride partitions use the full sketch for
   * the decision instead (striding them would sample everything). */
  val SampleStride = 16

  /** Above this sketch-derived kept-row bound the CMS pre-filter cannot
   * meaningfully shrink the exact pass's shuffle, so [[heavyHitters]]
   * skips it. */
  val HeavyHitterSkipFraction = 0.5

}
