package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines.
 *
 * Scale design: every signature (minhash, simhash) is computed in ONE
 * map-side pass per row (no explode of shingles across the cluster —
 * at 100 TB exploding 5-gram shingles would multiply the shuffle by
 * ~text length). Only compact signatures and band keys shuffle; the
 * candidate-pair join is an equi-join on (band, bucket) that Spark
 * executes as a hash join over a tiny projected relation.
 */
object Dedup {

  // ---- exact --------------------------------------------------------------

  /** Exact dedup: one representative (min id) per distinct content.
   * NULL content is NOT content: md5(null) is null and groupBy keeps
   * null as one key, so without the coalesce every missing-text row in
   * the corpus would collapse into a single million-way "duplicate"
   * group; a per-id sentinel keeps each null row its own group. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(coalesce(md5(col(contentCol)),
        concat(lit("__null__"), col(idCol).cast("string"))).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  // ---- minhash + LSH ------------------------------------------------------

  val DefaultNumHashes = 64
  val DefaultShingleTokens = 3

  /** Modulus of the universal hash family (Mersenne prime 2^31-1); all
   * intermediate products stay < 2^62, so the identical arithmetic runs
   * overflow-free as BIGINT math in the SQL oracle. */
  val MinHashMod: Long = 2147483647L

  /** Permutation parameters, derived from md5 so the oracle can re-derive
   * them: a_j odd and < 2^30, b_j < 2^31. */
  def minHashParams(numHashes: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(numHashes)(j => (HashUtils.h32(s"a_$j") & 0x3fffffffL) | 1L),
    Array.tabulate(numHashes)(j => HashUtils.h32(s"b_$j") & 0x7fffffffL))

  private def shims = org.apache.spark.sql.GraftShims

  /** MinHash signature column — native codegen expression
   * ([[graft.expressions.MinHashSignature]]); [[minHashUdf]] remains as
   * the tested parity reference. */
  def minhashSig(c: Column, numHashes: Int = DefaultNumHashes): Column =
    shims.column(graft.expressions.MinHashSignature(shims.expression(c), numHashes))

  /** LSH band-key column — native codegen
   * ([[graft.expressions.MinHashBandKeys]]); parity ref [[bandKeysUdf]]. */
  def bandKeysCol(c: Column, numHashes: Int = DefaultNumHashes, bands: Int = 16): Column = {
    requireBands(numHashes, bands)
    shims.column(graft.expressions.MinHashBandKeys(shims.expression(c), numHashes, bands))
  }

  /** bands must evenly divide numHashes: a non-divisor silently drops
   * trailing signature values (recall loss), and bands > numHashes
   * makes EVERY band key empty — every doc shares every bucket and the
   * candidate self-join degenerates to the O(N^2) cross product this
   * design exists to avoid. */
  private def requireBands(numHashes: Int, bands: Int): Unit =
    require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
      s"bands=$bands must be a positive divisor of numHashes=$numHashes")

  /** SimHash column — native codegen ([[graft.expressions.SimHash60]]);
   * parity ref [[simHashUdf]]. */
  def simhash(c: Column): Column =
    shims.column(graft.expressions.SimHash60(shims.expression(c)))

  /** Winnowing fingerprint column — native codegen
   * ([[graft.expressions.WinnowFingerprints]]); parity ref [[winnowUdf]]. */
  def winnow(c: Column, k: Int = DefaultShingleTokens, w: Int = 4): Column =
    shims.column(graft.expressions.WinnowFingerprints(shims.expression(c), k, w))

  /** MinHash signature of the word-3-gram shingle set: each shingle is
   * hashed once (md5 → 32-bit), then each of the `numHashes` permutations
   * is the classic (a_j*h + b_j) mod p universal family; min per
   * permutation. Docs with < 3 tokens get the all-MOD sentinel signature.
   * Parity reference for [[minhashSig]] (the hot path uses the codegen
   * expression; ParitySpec asserts bit-identity). */
  def minHashUdf(numHashes: Int = DefaultNumHashes) = {
    val (as, bs) = minHashParams(numHashes)
    udf { (text: String) =>
      val sig = Array.fill(numHashes)(MinHashMod)
      if (text != null) {
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        var i = 0
        val n = toks.length - DefaultShingleTokens
        while (i <= n) {
          val h = HashUtils.h32(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
          var j = 0
          while (j < numHashes) {
            val p = (as(j) * h + bs(j)) % MinHashMod
            if (p < sig(j)) sig(j) = p
            j += 1
          }
          i += 1
        }
      }
      sig
    }.withName("minhash_sig")
  }

  /** LSH band keys: signature split into `bands` groups of
   * numHashes/bands values; the key is the joined value string (exactly
   * reproducible in SQL, unlike a second-level hash). */
  def bandKeysUdf(numHashes: Int = DefaultNumHashes, bands: Int = 16) = {
    requireBands(numHashes, bands)
    val rowsPerBand = numHashes / bands
    udf { (sig: Seq[Long]) =>
      (0 until bands).map { b =>
        sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString("_")
      }.toArray
    }
  }

  /**
   * Candidate near-duplicate pairs with estimated Jaccard ≥ `threshold`.
   * Pipeline: signature (map) → band explode carrying ONLY (id, band,
   * bucket) → self equi-join → distinct id pairs → re-join the compact
   * signature table twice for the agreement estimate. Keeping the
   * 64-value signatures out of the exploded rows matters at scale: the
   * band shuffle would otherwise duplicate every signature `bands`
   * times; re-joining ships each signature once per side instead.
   *
   * Degenerate-bucket guard: docs with fewer than
   * [[DefaultShingleTokens]] tokens have an EMPTY shingle set — under a
   * 3-token-shingle model they cannot be near-duplicates of anything,
   * and keeping them would give every one the identical all-sentinel
   * signature, i.e. ONE quadratic LSH bucket at corpus scale. They are
   * excluded before banding (route them to [[exactDedup]] instead).
   *
   * The signature frame is localCheckpoint'ed: it feeds the band
   * explode AND both pair-side re-joins, so without materialization the
   * O(tokens × numHashes) signature UDF would run three times over the
   * corpus.
   */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = DefaultNumHashes,
      bands: Int = 16): DataFrame = {
    val sigs = df
      .filter(size(split(trim(col(textCol)), "\\s+")) >= DefaultShingleTokens)
      .select(col(idCol).as("id"), minhashSig(col(textCol), numHashes).as("sig"))
      .localCheckpoint(true)
    val bandRows = sigs.select(col("id"),
      posexplode(bandKeysCol(col("sig"), numHashes, bands)).as(Seq("band", "bucket")))
    val a = bandRows.alias("a")
    val b = bandRows.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // native codegen agreement count — this runs once per candidate
    // PAIR, the hottest scalar in the minhash path
    val shims = org.apache.spark.sql.GraftShims
    val est = shims.column(graft.expressions.ArrayAgreement(
      shims.expression(col("sa")), shims.expression(col("sb"))))
      .cast("double") / lit(numHashes.toDouble)
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /**
   * Bucket-connectivity cluster edges — the dup-heavy scale path for
   * LSH clustering. [[minHashCandidatePairs]] enumerates every
   * in-bucket pair, which is C(g,2) per g-deep duplicate group —
   * quadratic in group depth (a 100-way replicated document
   * contributes 4 950 pair rows PER BAND before the distinct). For
   * CLUSTERING consumers (connected components, t13/t19) pairwise
   * edges are redundant: connecting every doc in a bucket to the
   * bucket's minimum doc id yields the exact same bucket-connectivity
   * components with O(g) edges per bucket — the union-find-over-LSH-
   * buckets formulation large corpus dedup pipelines use at the
   * 100 TB scale this engine targets.
   *
   * Semantics are deliberately coarser than threshold-scored pairs:
   * an edge means "shared at least one LSH band", i.e. the candidate
   * graph BEFORE jaccard estimation (apply per-cluster scoring
   * afterwards if the threshold matters). On exact-duplicate groups —
   * the case that makes pair enumeration quadratic — the two
   * clusterings are identical, because exact copies agree on every
   * band.
   */
  def minHashClusterEdges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = 16): DataFrame = {
    val sigs = df
      .filter(size(split(trim(col(textCol)), "\\s+")) >= DefaultShingleTokens)
      .select(col(idCol).as("id"), minhashSig(col(textCol), numHashes).as("sig"))
    // materialized: bandRows feeds BOTH the reps aggregation and the
    // join side, and their differing subplans defeat exchange reuse —
    // without this the O(tokens x numHashes) signature pass runs twice
    val bandRows = sigs.select(col("id"),
      posexplode(bandKeysCol(col("sig"), numHashes, bands)).as(Seq("band", "bucket")))
      .localCheckpoint(true)
    // min id per bucket (partial aggregation map-side), re-joined on the
    // bucket key: edges are linear in bucket population, never pairwise
    val reps = bandRows.groupBy("band", "bucket").agg(min(col("id")).as("rep"))
    bandRows.join(reps, Seq("band", "bucket"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /**
   * Bounded near-dup pair emission — the dup-heavy-corpus scale recipe.
   *
   * [[minHashCandidatePairs]] (and [[editDistanceVerifiedPairs]] on top
   * of it) emits C(g,2) pairs per duplicate group: correct, but
   * quadratic in group depth — a document repeated 10 000 times costs
   * ~5·10⁷ pair rows for that group alone, and a 10× corpus
   * replication multiplies pair output ~100×. This variant bounds the
   * output without losing information:
   *
   *  1. EXACT-HASH PRE-COLLAPSE: md5-group the corpus; each distinct
   *     content keeps one representative (min id). Exact-duplicate
   *     members attach to their representative as O(g) `exact` edges
   *     (est_jaccard = 1.0 by construction) instead of C(g,2) pairs.
   *  2. LSH runs over REPRESENTATIVES only — one signature per
   *     DISTINCT content, so a replicated corpus costs what its
   *     distinct content costs.
   *  3. Optional PER-BUCKET OCCUPANCY CAP on the representative band
   *     rows (lowest `bucketCap` ids kept per (band, bucket)): a
   *     degenerate bucket — boilerplate shingles shared by millions of
   *     near-identical-but-unequal docs — degrades to the capped
   *     population instead of all-pairs. Capped buckets are REPORTED,
   *     not silent: run [[bucketOverflow]] with the same arguments
   *     alongside a capped job.
   *
   * Output: (id_a, id_b, est_jaccard, kind) with kind ∈ exact | near.
   * The full pairwise set is recoverable by linear joins when a
   * consumer truly needs it (a `near` edge (ra, rb) expands to the
   * cross product of the two md5 groups; `exact` edges enumerate each
   * group), and recall on DISTINCT contents equals
   * [[minHashCandidatePairs]] whenever every bucket fits under the
   * cap. NULL content follows [[exactDedup]]: each null row is its own
   * group (and has no shingles, so it never reaches the LSH side).
   */
  def boundedNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = DefaultNumHashes,
      bands: Int = 16,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val withHash = df.select(col(idCol).as("id"), col(textCol).as("txt"),
      coalesce(md5(col(textCol)),
        concat(lit("__null__"), col(idCol).cast("string"))).as("h"))
    val groups = withHash.groupBy("h").agg(min(col("id")).as("rep"))
    val members = withHash.join(groups, "h")
    val exactEdges = members.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("est_jaccard"), lit("exact").as("kind"))
    val sigs = members.filter(col("id") === col("rep"))
      .filter(size(split(trim(col("txt")), "\\s+")) >= DefaultShingleTokens)
      .select(col("id"), minhashSig(col("txt"), numHashes).as("sig"))
      .localCheckpoint(true)
    val bandRows0 = sigs.select(col("id"),
      posexplode(bandKeysCol(col("sig"), numHashes, bands)).as(Seq("band", "bucket")))
    val bandRows =
      if (bucketCap == Int.MaxValue) bandRows0
      else bandRows0
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket").orderBy("id")))
        .filter(col("rn") <= bucketCap).drop("rn")
    val a = bandRows.alias("a")
    val b = bandRows.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shims = org.apache.spark.sql.GraftShims
    val est = shims.column(graft.expressions.ArrayAgreement(
      shims.expression(col("sa")), shims.expression(col("sb"))))
      .cast("double") / lit(numHashes.toDouble)
    val nearEdges = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"),
        lit("near").as("kind"))
      .filter(col("est_jaccard") >= threshold)
    exactEdges.unionByName(nearEdges)
  }

  /** The no-silent-caps report for a capped [[boundedNearDupPairs]]
   * run: every (band, bucket) whose REPRESENTATIVE population exceeds
   * `bucketCap`, with how many rows the cap dropped. Empty ⇒ the
   * capped run had full recall on distinct contents.
   *
   * `bucketCap` is REQUIRED (no default): the report only means
   * something against the exact cap the paired [[boundedNearDupPairs]]
   * run used — a defaulted value here silently audited a different run
   * than the one it claims to describe. */
  def bucketOverflow(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bucketCap: Int,
      numHashes: Int = DefaultNumHashes,
      bands: Int = 16): DataFrame = {
    val withHash = df.select(col(idCol).as("id"), col(textCol).as("txt"),
      coalesce(md5(col(textCol)),
        concat(lit("__null__"), col(idCol).cast("string"))).as("h"))
    val reps = withHash.groupBy("h").agg(min(col("id")).as("id"),
        first(col("txt")).as("txt"))
      .filter(size(split(trim(col("txt")), "\\s+")) >= DefaultShingleTokens)
    reps.select(col("id"),
        posexplode(bandKeysCol(minhashSig(col("txt"), numHashes), numHashes, bands))
          .as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("population"))
      .filter(col("population") > bucketCap)
      .withColumn("dropped", col("population") - bucketCap)
  }

  // ---- simhash ------------------------------------------------------------

  /** 60-bit SimHash over whitespace tokens (md5-derived token hashes;
   * 60 bits = 15 hex chars so the same value is a plain BIGINT in the
   * SQL oracle). */
  def simHashUdf = udf { (text: String) =>
    if (text == null) 0L
    else {
      val counts = new Array[Int](60)
      text.trim.split("\\s+").foreach { tok =>
        if (tok.nonEmpty) {
          val h = HashUtils.h60(tok)
          var bit = 0
          while (bit < 60) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
      }
      var res = 0L
      var bit = 0
      while (bit < 60) {
        if (counts(bit) > 0) res |= (1L << bit)
        bit += 1
      }
      res
    }
  }.withName("simhash60")

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDistance, blocked
   * into `maxDistance + 1` disjoint bit-chunks (pigeonhole: ≤ d
   * differing bits leave at least one of d+1 chunks identical, so the
   * equi-join on (chunk, chunkBits) finds EVERY pair within the radius
   * — the recall contract holds for any requested distance). The
   * default d=3 gives 4×15-bit chunks. Note the inherent selectivity
   * trade-off: larger radii mean narrower chunks (d=16 → 17 chunks of
   * 3-4 bits), so buckets get hotter; beyond d≈8 prefer a tighter
   * radius plus a verify pass. Empty/whitespace-only docs are excluded
   * (no tokens → no signal). */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 60,
      s"maxDistance=$maxDistance outside the 60-bit SimHash range")
    val nChunks = maxDistance + 1
    // materialized: the signature feeds BOTH sides of the self-join,
    // and the join key's pushed null-check re-evaluates the O(tokens)
    // simhash60 below the projection — without this the signature runs
    // FOUR times over the corpus (plan-verified: isnotnull(simhash60)
    // in the Filter + simhash60 in the Project, on each join side)
    val hashes = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
      .localCheckpoint(true)
    val chunkCols = (0 until nChunks).map { i =>
      val lo = i * 60 / nChunks
      val width = (i + 1) * 60 / nChunks - lo
      shiftrightunsigned(col("sh"), lo).bitwiseAND(lit((1L << width) - 1))
    }
    val chunks = hashes.select(col("id"), col("sh"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "ckey")))
    val a = chunks.alias("a")
    val b = chunks.alias("b")
    val hamming = bit_count(col("a.sh").bitwiseXOR(col("b.sh")))
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming.cast("int").as("hamming"))
      // filter BEFORE the distinct: hamming is deterministic per pair,
      // and most in-bucket candidates fail the radius — dropping them
      // first keeps them out of the distinct's shuffle entirely
      .filter(col("hamming") <= maxDistance)
      .distinct()
  }

  // ---- winnowing fingerprints --------------------------------------------

  /**
   * Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every k-token
   * gram, slide a window of `w` consecutive hashes, keep each window's
   * minimum — the selected set is a robust substring-level fingerprint
   * (guaranteed to share values with any copy of ≥ w+k-1 tokens). Pure
   * map-side per row, O(tokens·w); only the compact fingerprint set
   * leaves the executor. Hashes are the same md5-derived h32 as minhash,
   * so the oracle re-derives them in SQL.
   */
  def winnowUdf(k: Int = DefaultShingleTokens, w: Int = 4) = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val n = toks.length - k + 1
      if (n <= 0) Array.empty[Long]
      else {
        val hs = Array.tabulate(n)(i => HashUtils.h32(toks.slice(i, i + k).mkString(" ")))
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var p = 0
        val lastStart = math.max(n - w, 0)
        while (p <= lastStart) {
          var best = hs(p)
          var i = p + 1
          val end = math.min(p + w, n)
          while (i < end) { if (hs(i) < best) best = hs(i); i += 1 }
          out += best
          p += 1
        }
        out.toArray
      }
    }
  }

  /**
   * Substring-duplication candidate pairs: docs sharing ≥ `minShared`
   * winnowing fingerprints. The self-join is guarded by a
   * document-frequency cap — a fingerprint appearing in more than
   * `maxDocFreq` documents (license headers, boilerplate) is dropped
   * BEFORE the join, the same discipline LSH applies to hot buckets;
   * without it one corpus-frequent fingerprint makes the equi-join
   * quadratic. Standard winnowing practice (index-time df cut): a
   * fingerprint shared by half the corpus carries no dedup signal.
   */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 3,
      maxDocFreq: Int = 1000,
      k: Int = DefaultShingleTokens,
      w: Int = 4): DataFrame = {
    // winnow sets are per-doc distinct, so count(*) per fp IS the df.
    // Materialized: fps feeds the doc-frequency aggregation AND the
    // semi-join probe side — without this the O(tokens*w) fingerprint
    // expression runs over the corpus twice
    val fps = df.select(col(idCol).as("doc_id"),
      explode(winnow(col(textCol), k, w)).as("fp"))
      .localCheckpoint(true)
    val rare = fps.groupBy("fp").count()
      .filter(col("count") <= maxDocFreq)
      .select("fp")
    val kept = fps.join(rare, Seq("fp"), "left_semi")
    // Pair generation via ONE groupBy + map-side expansion instead of
    // the fp self-join: the join shuffled the kept frame TWICE (once
    // per side) before the pair aggregation paid a third exchange. The
    // per-fp doc list is bounded by maxDocFreq (hot fps were dropped
    // BEFORE list building, so aggregation buffers stay O(maxDocFreq)
    // at any corpus size), and the sorted-list i<j expansion emits
    // exactly the a.doc_id < b.doc_id pair multiset the join produced.
    val ds = col("ds")
    kept.groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(ds) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(ds) - 2),
        i => transform(slice(ds, i + lit(2), size(ds)),
          x => struct(element_at(ds, i + 1).as("id_a"), x.as("id_b")))))).as("p"))
      // a non-unique idCol lists one id twice: never pair it with itself
      .filter(col("p.id_a") =!= col("p.id_b"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  // ---- exact n-gram jaccard ----------------------------------------------

  /** Distinct token set of a text column (unigram shingles). Empty /
   * whitespace-only text yields the EMPTY set — split(trim(''), ..)
   * returns [""], which would make two content-free docs Jaccard 1.0. */
  def tokenSet(c: Column): Column =
    array_remove(array_distinct(split(trim(c), "\\s+")), "")

  /** Exact token-set Jaccard for candidate pairs of element-distinct
   * token arrays (see [[tokenSet]]). Native codegen expression
   * ([[graft.expressions.TokenSetJaccard]]): one hash-set pass per pair,
   * vs the `array_intersect` formulation which builds the intersection
   * array twice — this runs once per candidate PAIR in blocked pairwise
   * joins, the hottest scalar there. */
  def jaccard(a: Column, b: Column): Column = {
    val shims = org.apache.spark.sql.GraftShims
    shims.column(graft.expressions.TokenSetJaccard(
      shims.expression(a), shims.expression(b)))
  }

  // ---- edit-distance verified near-dup ------------------------------------

  /**
   * Near-duplicate pairs confirmed by edit distance — the verify stage
   * a production dedup pipeline runs after LSH candidate generation:
   * minhash/LSH proposes candidates (high recall, estimated jaccard),
   * then the cheap-but-exact Levenshtein distance over a bounded text
   * prefix confirms them. The DP is O(prefixLen²) per PAIR, so it runs
   * only on the LSH-bounded candidate set, never all-pairs; texts are
   * re-joined onto the compact pair list (each prefix ships once per
   * side, bounded at `prefixLen` chars regardless of document size).
   *
   * Output: (id_a, id_b, est_jaccard, edit_dist) for candidates whose
   * prefix distance ≤ maxDist. Spark's `levenshtein` counts code
   * points; on non-ASCII corpora note byte-counting engines (e.g.
   * DuckDB) differ.
   */
  def editDistanceVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      prefixLen: Int = 120,
      maxDist: Int = 40): DataFrame = {
    // candidate generation is inlined (vs delegating to
    // [[minHashCandidatePairs]]) so each side's PREFIX rides the same
    // join that ships its signature: the pair list — the big frame in a
    // dup-heavy corpus, C(g,2) per duplicate group — is shuffled through
    // two joins instead of four. The est-jaccard filter still runs
    // before the DP: inside one codegen stage the predicate is
    // evaluated per row before the projection, so sub-threshold
    // candidates never pay the O(prefixLen²) Levenshtein.
    val sigs = df
      .filter(size(split(trim(col(textCol)), "\\s+")) >= DefaultShingleTokens)
      .select(col(idCol).as("id"),
        minhashSig(col(textCol), DefaultNumHashes).as("sig"),
        substring(col(textCol), 1, prefixLen).as("pfx"))
      .localCheckpoint(true)
    val bandRows = sigs.select(col("id"),
      posexplode(bandKeysCol(col("sig"), DefaultNumHashes, 16)).as(Seq("band", "bucket")))
    val a = bandRows.alias("a")
    val b = bandRows.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shims = org.apache.spark.sql.GraftShims
    val est = shims.column(graft.expressions.ArrayAgreement(
      shims.expression(col("sa")), shims.expression(col("sb"))))
      .cast("double") / lit(DefaultNumHashes.toDouble)
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa"), col("pfx").as("pa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb"), col("pfx").as("pb")), "id_b")
      .filter(est >= threshold)
      // thresholded variant: banded O(prefixLen·maxDist) DP with early
      // termination, returning -1 past the bound — for kept rows
      // (distance ≤ maxDist) the value is the exact distance, so the
      // output is identical to the unbounded DP + filter, and the
      // dominant per-pair cost in a dup-heavy corpus (every candidate
      // pair pays the DP) drops by ~prefixLen/maxDist. The bound needs
      // no second test: every non-negative result is within it, and the
      // filter pushes down into the join, where each conjunct evaluates
      // the DP again
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"),
        levenshtein(col("pa"), col("pb"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  // ---- cross-corpus (incremental) dedup ------------------------------------

  /**
   * Dedup an incoming batch AGAINST an existing corpus — the
   * incremental-ingest shape: nothing inside `incoming` is compared to
   * itself, and the existing corpus is never rewritten. Two stages,
   * both equi-joins:
   *
   *  1. exact: content-hash left-semi against the existing corpus
   *     (`md5` of the text; hash-only shuffle);
   *  2. near: LSH band-key semi-join — an incoming doc sharing ANY
   *     minhash band bucket with an existing doc is flagged (same
   *     candidate semantics as [[minHashClusterEdges]]; apply a verify
   *     pass downstream if the threshold matters).
   *
   * Output: every incoming id with `status` ∈ exact_dup | near_dup |
   * kept (exact wins when both hit). Only hashes and band keys
   * shuffle; document text never leaves its scan except as md5 input.
   * Docs under [[DefaultShingleTokens]] tokens have no shingles and
   * can only be exact duplicates (same guard as the in-corpus paths).
   */
  def crossCorpusDedup(
      incoming: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = 16): DataFrame = {
    def hashes(df: DataFrame) =
      df.select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"))
    def bandRows(df: DataFrame) = df
      .filter(size(split(trim(col(textCol)), "\\s+")) >= DefaultShingleTokens)
      .select(col(idCol).as("id"),
        posexplode(bandKeysCol(minhashSig(col(textCol), numHashes), numHashes, bands))
          .as(Seq("band", "bucket")))
    val exactIds = hashes(incoming)
      .join(hashes(existing).select("content_hash").distinct(), "content_hash", "left_semi")
      .select(col("id")).distinct()
      .withColumn("is_exact", lit(true))
    val nearIds = bandRows(incoming)
      .join(bandRows(existing).select("band", "bucket").distinct(),
        Seq("band", "bucket"), "left_semi")
      .select(col("id")).distinct()
      .withColumn("is_near", lit(true))
    incoming.select(col(idCol).as("id"))
      .join(exactIds, Seq("id"), "left_outer")
      .join(nearIds, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("is_near"), lit("near_dup"))
          .otherwise(lit("kept")).as("status"))
  }

  // ---- connected components (near-dup clustering) ------------------------

  /**
   * Connected components over an undirected candidate-pair edge list
   * (`id_a`, `id_b`) — the step a real dedup pipeline runs AFTER LSH:
   * near-dup pairs are transitive in practice, so documents are grouped
   * into clusters and one representative (the minimum id) is kept per
   * cluster.
   *
   * Algorithm: distributed min-label propagation with pointer doubling.
   * Every vertex starts labelled with its own id; each round every
   * vertex takes the minimum of its own and its neighbours' labels
   * (edge-list equi-join + groupBy), then shortcuts through its label's
   * label (`l(u) ← l(l(u))`) — so convergence is O(log diameter), not
   * O(diameter). Per round: two equi-joins + one groupBy, all shuffling
   * on vertex/edge ids — never the documents themselves. Labels decrease
   * monotonically, so `sum(label)` is a convergence metric: an unchanged
   * sum means a fixpoint and the loop stops.
   *
   * Returns (doc_id, cluster) for every vertex that appears in an edge;
   * `cluster` is the minimum doc id of the component.
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // the monotone-decreasing label-sum convergence check is only sound
    // over integral ids (a string id would sum to null → instant false
    // convergence with multi-label components); reject others clearly
    Seq("id_a", "id_b").foreach { c =>
      val ok = edges.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      require(ok,
        s"connectedComponents needs integral vertex ids; $c is " +
          s"${edges.schema(c).dataType.simpleString} " +
          "(hash or dense-rank non-numeric ids first)")
    }
    // the single-direction edge list, materialized once: the local fast
    // path gates and collects on THIS (unions are symmetric, so one
    // direction suffices — half the driver transfer of the symmetric
    // list); the distributed path derives its symmetric list from the
    // same checkpoint by pure projection, no second execution
    val single = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .localCheckpoint(true)
    // Small-graph fast path: dedup edge lists are tiny next to the
    // corpus that produced them (edges ≈ duplicates, not rows), and the
    // iterative label propagation below costs ~3 Spark jobs PER ROUND.
    // Under a driver-safe bound — the same size discipline as a
    // broadcast join's build side — a local union-find computes the
    // identical fixpoint (min id per component) from one collect of the
    // already-materialized edge list. Beyond the bound (set
    // spark.qbeast.dedup.localComponentsMaxEdges; 0 disables) the
    // distributed path below runs unchanged — at 100 TB edge lists can
    // be billions of rows and belong on the cluster.
    val spark0 = edges.sparkSession
    val localMax = spark0.conf
      .getOption("spark.qbeast.dedup.localComponentsMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    val idType = single.schema("u").dataType
    if (localMax > 0 && single.count() <= localMax) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      single.select(col("u").cast("long"), col("v").cast("long")).collect()
        .foreach { row =>
          val u = row.getLong(0)
          val v = row.getLong(1)
          parent.putIfAbsent(u, u)
          parent.putIfAbsent(v, v)
          val (ru, rv) = (find(u), find(v))
          // union by MIN root so the final root IS the component minimum
          if (ru < rv) parent.put(rv, ru) else if (rv < ru) parent.put(ru, rv)
        }
      graft.table.QbeastTable.releaseLocalCheckpoint(single)
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      parent.keySet().forEach(v => rows.add(org.apache.spark.sql.Row(v, find(v))))
      val longSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return spark0.createDataFrame(rows, longSchema)
        .select(col("doc_id").cast(idType).as("doc_id"),
          col("cluster").cast(idType).as("cluster"))
    }
    // symmetric list for the distributed rounds, derived from the
    // checkpoint by projection+union — reads the materialized blocks,
    // never re-executes the edges plan
    val sym0 = single.unionAll(single.select(col("v").as("u"), col("u").as("v")))
    val vertices = sym0.select(col("u")).distinct()
    // self-loops fold "keep your own label" into the neighbor join, so
    // each round is ONE join+groupBy (+ the doubling self-join) with no
    // per-round union. Checkpointed once up front.
    val sym = sym0.unionAll(vertices.select(col("u"), col("u").as("v")))
      .localCheckpoint(true)
    // each round's labels are localCheckpoint'ed: iterative plans grow a
    // join per round, and without lineage truncation the optimizer would
    // re-plan (and a failure re-run) the whole chain — on a cluster with
    // unreliable executors use Dataset.checkpoint with a checkpoint dir
    var labels = vertices.select(col("u"), col("u").as("label"))
      .localCheckpoint(true)
    // sum over an empty frame is null — treat as converged-at-zero.
    // decimal(38,0): a Long sum over ~1e11 labels of ~1e11 overflows
    // (ANSI mode would throw mid-loop); the decimal sum is exact
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // materialized: prop feeds BOTH sides of the doubling self-join
      // with different keys, so without this the neighbor join+groupBy
      // runs twice per round over the full edge list
      val prop = sym
        .join(labels.withColumnRenamed("u", "w"), col("v") === col("w"))
        .groupBy("u")
        .agg(min("label").as("label"))
        .localCheckpoint(true)
      // pointer doubling: follow the label chain one extra hop; every
      // label is itself a vertex id, so the self-join always matches
      val next = prop
        .join(prop.select(col("u").as("lu"), col("label").as("llabel")),
          col("label") === col("lu"))
        .select(col("u"), least(col("label"), col("llabel")).as("label"))
        .localCheckpoint(true)
      graft.table.QbeastTable.releaseLocalCheckpoint(prop)
      val nextSum = labelSum(next)
      graft.table.QbeastTable.releaseLocalCheckpoint(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    graft.table.QbeastTable.releaseLocalCheckpoint(sym)
    graft.table.QbeastTable.releaseLocalCheckpoint(single)
    labels.select(col("u").as("doc_id"), col("label").as("cluster"))
  }

  // ---- embedding cosine near-dup -----------------------------------------

  /** Cosine similarity of two array columns, computed in double with a
   * sequential fold (deterministic, matches the DuckDB oracle) by the
   * native codegen expression [[graft.expressions.CosineSimilarity]] —
   * one fused primitive loop inside whole-stage codegen instead of a
   * per-element lambda. */
  def cosine(a: Column, b: Column): Column = {
    val shims = org.apache.spark.sql.GraftShims
    shims.column(graft.expressions.CosineSimilarity(
      shims.expression(a), shims.expression(b)))
  }

}
