package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 pipeline operators: connected-components dedup clustering,
 * repetition signals, pattern redaction, text normalization, corpus
 * vocabulary, stratified hash sampling, int8 embedding quantization.
 * (End-to-end value parity vs DuckDB is enforced by the t13-t18/e06
 * oracles; these specs pin the operator semantics on crafted edges.) */
class PipelineOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connectedComponents labels every vertex with its component minimum") {
    // two chains and one isolated edge: {1-2-3-4}, {10-11}, {20-21-22}
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val got = ops.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents on an empty edge list returns an empty mapping") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = ops.Dedup.connectedComponents(empty)
    assert(got.columns.toSeq == Seq("doc_id", "cluster"))
    assert(got.count() == 0)
  }

  test("connectedComponents converges on a long path (diameter > 1 round)") {
    val n = 30
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val got = ops.Dedup.connectedComponents(edges).collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 1L))
  }

  test("connectedComponents matches a local union-find on random graphs") {
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // local union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = inEdges.map(v => v -> {
        // min vertex of the component, restricted to vertices seen in edges
        val root = find(v.toInt)
        inEdges.filter(u => find(u.toInt) == root).min
      }).toMap
      val got = ops.Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed")
      // the DISTRIBUTED label-propagation path must produce the same
      // fixpoint — force it by disabling the small-graph fast path
      // (which these edge lists would otherwise always take)
      spark.conf.set("spark.qbeast.dedup.localComponentsMaxEdges", "0")
      try {
        val gotDist = ops.Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotDist == expected, s"distributed path, seed=$seed")
      } finally spark.conf.unset("spark.qbeast.dedup.localComponentsMaxEdges")
    }
  }

  test("graft_cosine is registered as a SQL function and matches the Column API") {
    val one = spark.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head.getDouble(0)
    assert(one == 1.0)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    df.createOrReplaceTempView("cos_t")
    val viaSql = spark.sql("SELECT graft_cosine(a, b) FROM cos_t").head.getDouble(0)
    val viaCol = df.select(ops.Dedup.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(viaSql == viaCol)
  }

  test("graft_token_jaccard and graft_lsh_bucket are registered as SQL functions") {
    val j = spark.sql(
      "SELECT graft_token_jaccard(array('a','b','c'), array('b','c','d')) AS j")
      .head.getDouble(0)
    assert(j == 0.5)
    val df = Seq((1L, Array.tabulate(64)(i => (i % 7 - 3).toFloat)))
      .toDF("id", "emb")
    df.createOrReplaceTempView("lsh_t")
    val viaSql = spark.sql("SELECT graft_lsh_bucket(emb, 8, 64) FROM lsh_t")
      .head.getLong(0)
    val viaCol = df.select(ops.Similarity.lshBucket(col("emb"), 8, 64))
      .head.getLong(0)
    assert(viaSql == viaCol)
    // the plane-offset overload selects a different bank
    val offSql = spark.sql("SELECT graft_lsh_bucket(emb, 8, 64, 8) FROM lsh_t")
      .head.getLong(0)
    val offCol = df.select(ops.Similarity.lshBucket(col("emb"), 8, 64, 8))
      .head.getLong(0)
    assert(offSql == offCol)
    // non-literal bits is rejected with a clear message
    val err = intercept[Exception] {
      spark.sql("SELECT graft_lsh_bucket(emb, cast(id AS int), 64) FROM lsh_t")
        .head
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("graft_minhash / graft_simhash / graft_winnow are registered as SQL functions") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("sig_t")
    val viaSql = spark.sql(
      "SELECT graft_minhash(text) AS sig, graft_minhash(text, 16) AS sig16, " +
        "graft_simhash(text) AS sh, graft_winnow(text) AS fp, " +
        "graft_winnow(text, 2, 3) AS fp23 FROM sig_t").head
    val viaCol = df.select(
      ops.Dedup.minhashSig(col("text")).as("sig"),
      ops.Dedup.minhashSig(col("text"), 16).as("sig16"),
      ops.Dedup.simhash(col("text")).as("sh"),
      ops.Dedup.winnow(col("text")).as("fp"),
      ops.Dedup.winnow(col("text"), 2, 3).as("fp23")).head
    assert(viaSql.getSeq[Long](0) == viaCol.getSeq[Long](0))
    assert(viaSql.getSeq[Long](1) == viaCol.getSeq[Long](1))
    assert(viaSql.getSeq[Long](1).length == 16)
    assert(viaSql.getLong(2) == viaCol.getLong(2))
    assert(viaSql.getSeq[Long](3) == viaCol.getSeq[Long](3))
    assert(viaSql.getSeq[Long](4) == viaCol.getSeq[Long](4))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash(text, cast(doc_id AS int)) FROM sig_t").head
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("repetition signals: distinct text scores 0, repeated text scores high") {
    val df = Seq(
      (1L, "a b c d e"),          // all distinct
      (2L, "x x x x"),            // 1 distinct token of 4; 1 distinct 2-gram of 3
      (3L, "ab"),                 // single token: no 2/3-grams
      (4L, "")).toDF("doc_id", "text")
    val m = ops.TextOps.repetitionSignals(df, "text")
      .select("doc_id", "dup_token_frac", "dup_2gram_frac", "dup_3gram_frac")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L) == ((0.0, 0.0, 0.0)))
    assert(m(2L) == ((0.75, 2.0 / 3.0, 0.5)))
    assert(m(3L) == ((0.0, 0.0, 0.0)))
    assert(m(4L) == ((0.0, 0.0, 0.0))) // split("") -> [""]: 1 distinct token
  }

  test("redactPatterns counts and replaces all rule matches in order") {
    val df = Seq(
      (1L, "mail me at a.b@x.io or c@y.org, call 555-123-4567, use spark"),
      (2L, "no pii here, sparkle is not the term spark though")).toDF("doc_id", "text")
    val out = ops.TextOps.redactPatterns(df, "text")
      .select("doc_id", "n_email", "n_phone", "n_term", "scrubbed")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2 && out(1L).getLong(2) == 1 && out(1L).getLong(3) == 1)
    assert(out(1L).getString(4) ==
      "mail me at <EMAIL> or <EMAIL>, call <PHONE>, use <TERM>")
    // \bspark\b must not match inside "sparkle"
    assert(out(2L).getLong(3) == 1)
    assert(out(2L).getString(4) == "no pii here, sparkle is not the term <TERM> though")
  }

  test("normalizeText: NFC composition, whitespace collapse, lowercase") {
    // "é" as e + combining acute (NFD) must compose to the single NFC char
    val nfd = "Café   LATTE\t\nfoo"
    val df = Seq((1L, nfd)).toDF("doc_id", "text")
    val got = df.select(ops.TextOps.normalizeText(col("text"))).head.getString(0)
    assert(got == "café latte foo")
  }

  test("vocabTopK ranks by count then token") {
    val df = Seq((1L, "b a a c b a")).toDF("doc_id", "text")
    val got = ops.TextOps.vocabTopK(df, "text", 2)
      .select("token", "n", "rank").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 3L, 1L), ("b", 2L, 2L)))
  }

  test("stratified hash sample is deterministic and respects per-key fractions") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "zh")).toDF("doc_id", "lang")
    val keep = ops.TextOps.stratifiedHashSample(df, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.1))
    val counts = keep.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5-uniform: 2000*0.5 ≈ 1000, 2000*0.1 ≈ 200 (±10%)
    assert(math.abs(counts("en") - 1000L) < 100, s"en=${counts("en")}")
    assert(math.abs(counts("zh") - 200L) < 60, s"zh=${counts("zh")}")
    // deterministic: same rows on a second run
    val again = ops.TextOps.stratifiedHashSample(df, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.1)).agg(sum("doc_id")).head.getLong(0)
    assert(again == keep.agg(sum("doc_id")).head.getLong(0))
  }

  test("chunkTokens: sliding windows with overlap, short docs yield one chunk") {
    val df = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 tokens → chunks at 0, 48, 96
      (2L, "a b c")).toDF("doc_id", "text")
    val got = ops.TextOps.chunkTokens(df, "doc_id", "text", chunkSize = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    // overlap: chunk 1 of doc 1 starts at token 49 (w49) and has 52 tokens
    val c1 = ops.TextOps.chunkTokens(df, "doc_id", "text")
      .filter(col("doc_id") === 1 && col("chunk_idx") === 2)
    // last chunk: tokens 97..100
    val txt = df.filter(col("doc_id") === 1)
      .select(array_join(slice(split(col("text"), " "), 97, 64), " ")).head.getString(0)
    assert(c1.head.getLong(2) == txt.length)
  }

  test("vocabCoverage: common tokens counted, rare tokens lower the ratio") {
    val df = Seq(
      (1L, "a a a b"), // 'a' dominates the corpus
      (2L, "a zzz")).toDF("doc_id", "text")
    val got = ops.TextOps.vocabCoverage(df, "doc_id", "text", topK = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4L, 3L, 0.75)))
    assert(got(2L) == ((2L, 1L, 0.5)))
  }

  test("paragraphDedup drops repeated segments globally and is idempotent") {
    import spark.implicits._
    // doc 1 and doc 2 share an identical 10-token run; doc 3 is clean
    val seg = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, seg + " " + (11 to 20).map(i => s"a$i").mkString(" ")),
      (2L, seg + " " + (11 to 20).map(i => s"b$i").mkString(" ")),
      (3L, (21 to 40).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 1L), (3L, 2L)), "doc 2 loses the shared segment")

    // idempotence: dedup of the cleaned corpus drops nothing
    val cleaned = Seq(
      (1L, seg + " " + (11 to 20).map(i => s"a$i").mkString(" ")),
      (2L, (11 to 20).map(i => s"b$i").mkString(" ")),
      (3L, (21 to 40).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val again = graft.ops.TextOps.paragraphDedup(cleaned, "doc_id", "text")
    assert(again.agg(sum("n_kept")).head.getLong(0) === 2 + 1 + 2)
  }

  test("decontaminate flags only train docs overlapping the eval slice") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, shared + " tail0"), // eval doc (id % 2 == 0 pred below picks 0)
      (1L, shared + " tail1"), // contaminated: shares the 8-gram
      (3L, (1 to 12).map(i => s"u$i").mkString(" ")) // clean
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.decontaminate(docs, "doc_id", "text",
      col("doc_id") === 0, n = 8).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(out.head.getLong(1) === 1L)
  }

  test("knnJoin returns each query's exact top-k, excluding itself") {
    import spark.implicits._
    // 1-D-like embeddings on a line: neighbours are obvious
    val vecs = (0 to 9).map(i => (i.toLong, Array.fill(4)(i.toFloat + 1f)))
      .toDF("vec_id", "embedding")
    // all vectors are parallel → cosine 1 for every pair; rank ties
    // break by neighbour id, self excluded
    val out = graft.ops.Similarity
      .knnJoin(vecs, vecs.filter(col("vec_id") === 5), "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((5L, 0L), (5L, 1L), (5L, 2L)))
  }

  test("int8 quantization: max-abs element maps to ±127, dot is exact int math") {
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"), ops.Similarity.int8Quantize(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(q(1L) == Seq(64L, -127L, 32L)) // floor(0.5*127+0.5)=64, floor(31.75+0.5)=32
    assert(q(2L) == Seq(0L, 0L, 0L))      // zero vector: scale 0
    // driver-side quantization matches the column formula
    assert(ops.Similarity.int8QuantizeSeq(Seq(0.5, -1.0, 0.25)).toSeq == Seq(64L, -127L, 32L))
    val dot = df.filter(col("vec_id") === 1)
      .select(ops.Similarity.intDot(
        ops.Similarity.int8Quantize(col("embedding")),
        lit(Array(1L, 2L, 3L))).as("d"))
      .head.getLong(0)
    assert(dot == 64L - 254L + 96L)
  }

  test("minhash LSH: short docs are excluded (no degenerate sentinel bucket)") {
    // 200 docs with < 3 tokens would all share the all-sentinel
    // signature — one quadratic bucket. They must produce NO pairs;
    // the two genuine near-dups must still be found.
    val near = "the quick brown fox jumps over the lazy dog again and again"
    val shorts = (100L until 300L).map(i => (i, s"tok$i"))
    val docs = (Seq((1L, near), (2L, near + " tail")) ++ shorts).toDF("doc_id", "text")
    val pairs = ops.Dedup.minHashCandidatePairs(docs, "doc_id", "text", threshold = 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhash signature frame is materialized once (no UDF in the pair plan)") {
    val docs = (0L until 20L)
      .map(i => (i, s"alpha beta gamma delta epsilon tok$i zeta eta theta"))
      .toDF("doc_id", "text")
    val out = ops.Dedup.minHashCandidatePairs(docs, "doc_id", "text", threshold = 0.1)
    // the signature UDF feeds three consumers (band explode + two
    // pair-side re-joins); the eager localCheckpoint means the returned
    // plan reads materialized blocks — the O(tokens×64) UDF is gone
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("minhash_sig"), s"signature UDF re-planned:\n$plan")
  }

  test("editDistanceVerifiedPairs runs the bounded edit distance at most twice per pair") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    val docs = Seq((1L, base), (2L, base + " now"), (3L, base + " again and again"),
      (4L, "completely different words make up this other sentence here"))
      .toDF("doc_id", "text")
    val out = ops.Dedup.editDistanceVerifiedPairs(docs, "doc_id", "text",
      threshold = 0.1, maxDist = 5)
    val got = out.select("id_a", "id_b", "edit_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 4L)), got)
    // the thresholded levenshtein already returns -1 past the bound, so
    // the filter and the output each evaluate it once
    val plan = out.queryExecution.executedPlan.toString
    assert("levenshtein\\(".r.findAllMatchIn(plan).size <= 2, plan)
  }

  test("simHashPairs finds every pair within the requested radius (pigeonhole recall)") {
    import spark.implicits._
    // perturbed copies of a base document → plenty of pairs with
    // hamming distances spread well past the old fixed-4-chunk limit
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = (0 until 30).map { d =>
      val toks = (0 until 40).map(i => if ((i * 7 + d) % 9 < d % 5) s"x${i}_$d" else s"w$i")
      (d.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val maxD = 16
    val got = ops.Dedup.simHashPairs(docs, "doc_id", "text", maxDistance = maxD)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth over the same simhash values
    val sh = docs.select(col("doc_id"), ops.Dedup.simHashUdf(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, ha) <- sh; (ib, hb) <- sh
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= maxD
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "test corpus produced no close pairs — weaken perturbation")
    assert(got == want)
    // unsupported radius is rejected, not silently partial
    intercept[IllegalArgumentException] {
      ops.Dedup.simHashPairs(docs, "doc_id", "text", maxDistance = 60)
    }
  }

  test("winnowPairs df-cap drops corpus-frequent fingerprints (bounded pairs)") {
    val boiler = "this license header is identical across the whole corpus verbatim"
    val docs = (0L until 60L).map { i =>
      val unique = (0 until 12).map(j => s"u${i}_$j").mkString(" ")
      (i, s"$boiler $unique")
    } :+ (1000L, "rare shared tail fragment one two three four five six seven eight") :+
      (1001L, "rare shared tail fragment one two three four five six seven eight nine") :+
      // a non-unique id: a document never pairs with its own id
      (1001L, "rare shared tail fragment one two three four five six seven eight nine ten")
    val df = docs.toDF("doc_id", "text")
    // boilerplate fps appear in 60 docs > cap=20 → dropped; without the
    // cap the 60 boilerplate docs alone give C(60,2)=1770 pairs
    val out = ops.Dedup.winnowPairs(df, "doc_id", "text",
      minShared = 3, maxDocFreq = 20).collect()
    val ids = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1000L, 1001L)), s"got ${ids.size} pairs: ${ids.take(5)}")
  }

  test("sequence packing: budget respected, offsets contiguous, parallelism-invariant") {
    import spark.implicits._
    val docs = (0L until 400L)
      .map(i => (i, Seq.fill((i % 37 + 3).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val target = 64
    val packed = graft.ops.TextOps
      .packSequences(docs, "doc_id", "text", targetTokens = target, nBuckets = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(packed.length === 400)
    // per (bucket, seq): total tokens within budget unless a single
    // over-budget doc owns the sequence; offsets contiguous in id order
    packed.groupBy(t => (t._3, t._4)).foreach { case ((b, s), rows) =>
      val sorted = rows.sortBy(_._1)
      val total = sorted.map(_._2).sum
      assert(total <= target || sorted.length == 1,
        s"bucket $b seq $s overflows with ${sorted.length} docs, $total tokens")
      var expect = 0L
      sorted.foreach { case (id, n, _, _, off) =>
        assert(off === expect, s"doc $id at offset $off, expected $expect")
        expect += n
      }
    }
    // every doc in its id-mod bucket
    packed.foreach { case (id, _, b, _, _) => assert(b === (id % 8).toInt) }
    // determinism: a different input partitioning packs identically
    val repacked = graft.ops.TextOps
      .packSequences(docs.repartition(13), "doc_id", "text", target, 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(packed.sortBy(_._1).toSeq == repacked.sortBy(_._1).toSeq)
  }

  test("nearDupPairs: hot buckets are re-split so per-bucket size is bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val dim = 64
    // 3000 random vectors land ~12 per 8-bit bucket on average — every
    // base bucket is hot at maxBucket=8 — plus 10 planted exact-dup pairs
    val base = (1 to 3000).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val dups = base.take(10).map { case (id, v) => (id + 10000L, v.clone()) }
    val vecs = (base ++ dups).toDF("vec_id", "embedding").repartition(8)

    val refined = ops.Similarity.refinedBuckets(
      vecs, "vec_id", "embedding", bits = 8, dim = dim, maxBucket = 8, refineBits = 16)
    val sizes = refined.groupBy("bucket").count().select(max("count")).head.getLong(0)
    assert(sizes <= 8, s"largest refined bucket has $sizes members (cap 8)")

    // recall: exact duplicates agree on every sign bit, so every planted
    // pair survives the re-split and is emitted with cos = 1
    val pairs = ops.Similarity.nearDupPairs(
        vecs, "vec_id", "embedding", threshold = 0.99,
        bits = 8, dim = dim, maxBucket = 8, refineBits = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (1 to 10).map(i => (i.toLong, i + 10000L)).toSet
    assert(planted.subsetOf(pairs), s"missing planted dups: ${planted -- pairs}")

    // the candidate join is bounded: refined candidates are a small
    // fraction of the unrefined quadratic in-bucket pairing
    val unrefinedCands = ops.Similarity.nearDupPairs(
      vecs, "vec_id", "embedding", threshold = -1.0,
      bits = 8, dim = dim, maxBucket = 8, refineBits = 0).count()
    val refinedCands = ops.Similarity.nearDupPairs(
      vecs, "vec_id", "embedding", threshold = -1.0,
      bits = 8, dim = dim, maxBucket = 8, refineBits = 16).count()
    assert(refinedCands * 10 < unrefinedCands,
      s"refined=$refinedCands unrefined=$unrefinedCands")
  }

  test("nearDupPairs: refinement is a no-op when no bucket exceeds the cap") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val vecs = (1 to 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    // cap far above any bucket population → buckets identical to the
    // plain base bucketing the SQL oracle reproduces
    val refined = ops.Similarity.refinedBuckets(
      vecs, "vec_id", "embedding", bits = 8, dim = 64, maxBucket = 4096, refineBits = 16)
    assert(refined.filter(col("bucket") >= (1L << 8)).count() == 0)
    val plain = ops.Similarity.refinedBuckets(
      vecs, "vec_id", "embedding", bits = 8, dim = 64, maxBucket = 4096, refineBits = 0)
    val a = refined.select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = plain.select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("knnJoinLsh: exhaustive probe radius equals the broadcast knnJoin exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 64
    val vecs = (1 to 400).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") <= 5)
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("query_id", "nbr_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // radius >= bits probes every bucket -> identical to the exact join
    val exact = key(ops.Similarity.knnJoin(vecs, queries, "vec_id", "embedding", 10))
    val full = key(ops.Similarity.knnJoinLsh(
      vecs, queries, "vec_id", "embedding", 10, bits = 2, dim = dim, probeRadius = 2))
    assert(full === exact)
    // radius 1 over 8 bits prunes the candidate set: at most k rows per
    // query with contiguous ranks from 1 (fewer when the probed buckets
    // hold fewer than k neighbours — that is the pruning)
    val pruned = ops.Similarity.knnJoinLsh(
      vecs, queries, "vec_id", "embedding", 10, bits = 8, dim = dim, probeRadius = 1)
      .select("query_id", "rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    assert(pruned.nonEmpty && pruned.keySet.subsetOf((1L to 5L).toSet))
    pruned.values.foreach { ranks =>
      assert(ranks.size <= 10 && ranks == (1L to ranks.size).toSeq)
    }
  }

  test("autoBits sizes the bucket space to the corpus") {
    assert(ops.Similarity.autoBits(500) == 8)               // small corpus → floor
    assert(ops.Similarity.autoBits(1L << 40, 4096) == 28)   // 2^40 / 2^12
    assert(ops.Similarity.autoBits(Long.MaxValue) == 30)    // clamped
    assert(ops.Similarity.autoBits(100000, 4096) == 8)      // ceil(log2(24.4)) = 5 → floor 8
    // default target (1024) leaves 4x headroom under the maxBucket cap
    assert(ops.Similarity.autoBits(1L << 40) == 30)         // 2^40 / 2^10, clamped
    assert(ops.Similarity.autoBits(1L << 30) == 20)
  }

  test("refinedBuckets iterates until every bucket fits the cap") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    // 3000 vectors over 4 base buckets (~750 each); refineBits=3 splits
    // a bucket 8 ways per level, so one level leaves ~94-row buckets —
    // convergence below maxBucket=32 takes 2 levels plus a spare for
    // sign-skewed stragglers
    val vecs = (1 to 3000).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding").repartition(8)
    def maxSize(maxLevels: Int): Long = ops.Similarity.refinedBuckets(
        vecs, "vec_id", "embedding", bits = 2, dim = dim,
        maxBucket = 32, refineBits = 3, maxLevels = maxLevels)
      .groupBy("bucket").count().select(max("count")).head.getLong(0)
    assert(maxSize(1) > 32, "one level should NOT suffice for this shape")
    assert(maxSize(3) <= 32, "three levels should converge under the cap")
  }

  test("nearDupPairs: a second refinement bank recovers loose pairs split by the first") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 64
    // one loose cluster (pairwise cos ~0.85-0.95) big enough to trip the
    // hot cap, plus background noise: single-bank refinement splits many
    // true pairs (P[16 signs agree] is small at this angle); the 2-bank
    // union must recover strictly more of them and stay a superset
    val center = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val cluster = (1 to 60).map { i =>
      (i.toLong, center.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.25f))
    }
    val noise = (1000 to 1400).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val vecs = (cluster ++ noise).toDF("vec_id", "embedding").repartition(4)
    def pairs(banks: Int): Set[(Long, Long)] = ops.Similarity.nearDupPairs(
        vecs, "vec_id", "embedding", threshold = 0.8,
        bits = 4, dim = dim, maxBucket = 8, refineBits = 16, refineBanks = banks)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs(1)
    val two = pairs(2)
    assert(one.subsetOf(two), "bank 0 of the 2-bank run is the 1-bank run")
    assert(two.size > one.size,
      s"expected the second bank to recover extra pairs (1-bank=${one.size}, 2-bank=${two.size})")
    // every emitted pair is a true pair (cosine is exactly re-scored)
    val truth = {
      val all = (cluster ++ noise)
      (for {
        (ia, va) <- all; (ib, vb) <- all if ia < ib
        c = ops.Similarity.cosineSeq(va.map(_.toDouble).toSeq, vb.map(_.toDouble).toSeq)
        if c >= 0.8
      } yield (ia, ib)).toSet
    }
    assert(two.subsetOf(truth))
  }

  test("TokenSetJaccard matches the array_intersect formulation bit-for-bit") {
    val oldJaccard = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => {
      val inter = size(array_intersect(a, b)).cast("double")
      val union = (size(a) + size(b)).cast("double") - size(array_intersect(a, b))
      inter / union
    }
    val rnd = new scala.util.Random(99)
    val vocab = (0 until 40).map(i => s"tok$i")
    val crafted = Seq(
      Seq("a", "b", "c") -> Seq("b", "c", "d"),
      Seq("a") -> Seq("z"),                       // disjoint
      Seq("a", "b") -> Seq("a", "b"),             // identical
      Seq("") -> Seq(""),                         // split("") artifact
      Seq("x") -> Seq.empty[String])              // one empty side
    val random = Seq.fill(200) {
      val na = 1 + rnd.nextInt(12)
      val nb = 1 + rnd.nextInt(12)
      (Seq.fill(na)(vocab(rnd.nextInt(vocab.size))).distinct,
        Seq.fill(nb)(vocab(rnd.nextInt(vocab.size))).distinct)
    }
    val df = (crafted ++ random).toDF("ta", "tb")
    val got = df.select(
        ops.Dedup.jaccard(col("ta"), col("tb")).as("nw"),
        oldJaccard(col("ta"), col("tb")).as("od"))
      .collect()
    got.foreach { r =>
      val (nw, od) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.compare(nw, od) == 0, s"jaccard $nw != $od")
    }
    // empty vs empty is NaN under both formulations (0/0 double division)
    val nan = Seq((Seq.empty[String], Seq.empty[String])).toDF("ta", "tb")
      .select(ops.Dedup.jaccard(col("ta"), col("tb"))).collect()(0).getDouble(0)
    assert(nan.isNaN)
  }

  test("LshBucket expression matches the UDF formulation and the driver fold") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    // exact-length, shorter-than-dim, and longer-than-dim vectors, plus
    // an all-zero vector (every dot == 0.0 -> all sign bits set)
    val vecs: Seq[Seq[Float]] =
      Seq.fill(50)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)) ++
        Seq(Seq.fill(17)(rnd.nextFloat() * 2f - 1f),
          Seq.fill(dim + 13)(rnd.nextFloat() * 2f - 1f),
          Seq.fill(dim)(0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "emb")
    for ((bits, off) <- Seq((8, 0), (16, 8), (12, 40))) {
      val planes = ops.Similarity.hyperplanesFrom(off, bits, dim)
      val legacyUdf = udf { (emb: Seq[Float]) =>
        var bucket = 0L
        var b = 0
        while (b < bits) {
          var dot = 0.0
          val p = planes(b)
          var i = 0
          while (i < dim && i < emb.length) { dot += p(i) * emb(i); i += 1 }
          if (dot >= 0) bucket |= (1L << b)
          b += 1
        }
        bucket
      }
      val got = df.select(col("id"),
          ops.Similarity.lshBucket(col("emb"), bits, dim, off).as("nw"),
          legacyUdf(col("emb")).as("od"))
        .collect()
      got.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"bits=$bits off=$off id=${r.getLong(0)}: ${r.getLong(1)} != ${r.getLong(2)}"))
      // driver-side fold (knnLsh's probe selection) agrees for full-length vectors
      val byId = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
      vecs.zipWithIndex.filter(_._1.length == dim).foreach { case (v, i) =>
        var bucket = 0L
        var b = 0
        while (b < bits) {
          var dot = 0.0
          var j = 0
          while (j < dim) { dot += planes(b)(j) * v(j); j += 1 }
          if (dot >= 0) bucket |= (1L << b)
          b += 1
        }
        assert(byId(i.toLong) == bucket)
      }
    }
    // and the near-dup pair plan is UDF-free end to end (bucketing and
    // scoring both native codegen expressions)
    val pairPlan = ops.Similarity
      .nearDupPairs(df.filter(size(col("emb")) === dim), "id", "emb",
        threshold = 0.0, dim = dim)
      .queryExecution.executedPlan.toString
    assert(!pairPlan.contains("ScalaUDF"), s"unexpected UDF in plan:\n$pairPlan")
  }

  test("minHashClusterEdges: linear star edges, same components as pairwise on dup groups") {
    // three exact-duplicate groups (depths 8, 5, 2) plus unique docs:
    // the workload shape that makes pairwise enumeration quadratic
    val texts = Seq(
      8 -> "the quick brown fox jumps over the lazy dog again and again",
      5 -> "pack my box with five dozen liquor jugs for the long trip north",
      2 -> "sphinx of black quartz judge my vow said the old professor twice")
    val docs = (texts.flatMap { case (depth, t) => Seq.fill(depth)(t) } ++
      Seq("completely unrelated first singleton document text here",
        "another entirely different lone document with its own words"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

    val star = ops.Dedup.minHashClusterEdges(docs, "doc_id", "text")
    // exact copies agree on every band, so distinct star edges are
    // exactly (depth - 1) per group — linear, vs C(depth, 2) pairwise
    assert(star.count() == texts.map(_._1 - 1).sum)

    val starClusters = ops.Dedup.connectedComponents(star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairClusters = ops.Dedup.connectedComponents(
        ops.Dedup.minHashCandidatePairs(docs, "doc_id", "text", threshold = 0.5)
          .select("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starClusters == pairClusters)

    // and the star plan is UDF-free like the rest of the signature kit
    val p = star.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), s"unexpected UDF in plan:\n$p")
  }

  test("boundedNearDupPairs: linear exact edges, rep-level near recall, " +
    "capped buckets reported") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " tail" // near-dup of a, different content hash
    val c = "pack my box with five dozen liquor jugs for the long trip north"
    // 40-deep, 3-deep and 5-deep exact groups + two singletons — the
    // replication shape that makes pairwise emission quadratic
    val docs = (Seq.fill(40)(a) ++ Seq.fill(3)(b) ++ Seq.fill(5)(c) ++
      Seq("completely unrelated first singleton document text here",
        "another entirely different lone document with its own words"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    val out = ops.Dedup.boundedNearDupPairs(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))

    // exact edges: (depth - 1) per group, anchored at the min-id rep —
    // 45 rows where a pairwise emitter produces C(40,2)+C(3,2)+C(5,2)
    val exact = out.filter(_._4 == "exact")
    assert(exact.length == 39 + 2 + 4 && exact.forall(_._3 == 1.0))
    assert(exact.count(_._1 == 0L) == 39)
    assert(exact.count(_._1 == 40L) == 2)
    assert(exact.count(_._1 == 43L) == 4)

    // near recall survives the collapse: exactly the one rep-level
    // pair (a-rep, b-rep) — expandable to the 40×3 cross product by a
    // linear join when a consumer truly needs every pair
    val near = out.filter(_._4 == "near")
    assert(near.map(p => (p._1, p._2)).toSeq == Seq((0L, 40L)), near.toSeq.toString)

    // bucket cap: cap=1 keeps only the lowest rep per (band, bucket),
    // so the near pair disappears — and the overflow report NAMES the
    // over-cap buckets instead of staying silent
    val capped = ops.Dedup.boundedNearDupPairs(docs, "doc_id", "text",
      threshold = 0.2, bucketCap = 1)
    assert(capped.filter(col("kind") === "near").count() == 0)
    assert(capped.filter(col("kind") === "exact").count() == 45)
    val overflow = ops.Dedup.bucketOverflow(docs, "doc_id", "text", bucketCap = 1)
      .collect()
    assert(overflow.nonEmpty && overflow.forall(_.getLong(2) > 1))

    // a cap above every bucket's population is a no-op: identical rows
    val wide = ops.Dedup.boundedNearDupPairs(docs, "doc_id", "text",
        threshold = 0.2, bucketCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(wide.sortBy(x => (x._1, x._2)).toSeq == out.sortBy(x => (x._1, x._2)).toSeq)
    assert(ops.Dedup.bucketOverflow(docs, "doc_id", "text", bucketCap = 64).isEmpty)
  }

  test("text-signature expressions match their UDF formulations bit-for-bit") {
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 60).map(i => s"w$i") ++ Seq("émoji", "日本語", "a_b", "x-y")
    val crafted = Seq(
      "",                          // empty → sentinel sig / 0 simhash / no fps
      "   ",                       // whitespace-only
      "one",                       // below shingle size
      "one two",                   //
      "one two three",             // exactly one shingle
      "a a a a a a",               // repeated token (duplicate grams)
      "  leading and trailing  ",  // trim path
      "tabs\tand\nnewlines split too")
    val random = Seq.fill(150)(
      Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = (crafted ++ random).toDF("text")

    val sigUdf = ops.Dedup.minHashUdf()
    val bandUdf = ops.Dedup.bandKeysUdf()
    val winUdf = ops.Dedup.winnowUdf()
    val got = df.select(
        ops.Dedup.minhashSig(col("text")).as("sig_nw"),
        sigUdf(col("text")).as("sig_od"),
        ops.Dedup.bandKeysCol(ops.Dedup.minhashSig(col("text"))).as("bk_nw"),
        bandUdf(sigUdf(col("text"))).as("bk_od"),
        ops.Dedup.simhash(col("text")).as("sh_nw"),
        ops.Dedup.simHashUdf(col("text")).as("sh_od"),
        ops.Dedup.winnow(col("text")).as("fp_nw"),
        winUdf(col("text")).as("fp_od"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "minhash signature")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "band keys")
      assert(r.getLong(4) == r.getLong(5), "simhash")
      assert(r.getSeq[Long](6) == r.getSeq[Long](7), "winnow fingerprints")
    }
    // null text: null-out (call sites filter/explode, where null and the
    // UDFs' empty/sentinel results produce identical frames)
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(ops.Dedup.minhashSig(col("text")), ops.Dedup.simhash(col("text")),
        ops.Dedup.winnow(col("text")))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))

    // the three signature pair plans are UDF-free end to end
    val docs = random.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Seq(
      ops.Dedup.minHashCandidatePairs(docs, "doc_id", "text"),
      ops.Dedup.simHashPairs(docs, "doc_id", "text"),
      ops.Dedup.winnowPairs(docs, "doc_id", "text")).foreach { plan =>
      val p = plan.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"unexpected UDF in plan:\n$p")
    }
  }

  test("PQ: codebooks/encode/ADC are deterministic and rank the true neighbour first") {
    // two separable blobs in 8 dims (m=2 subspaces of 4): a query near
    // blob A must rank blob-A points above blob-B points by ADC distance
    val mkA = (i: Int) => Array(1.0f, 0.8f, -0.2f + i * 0.001f, 0.5f,
      0.9f, -0.4f, 0.3f, 0.7f + i * 0.001f)
    val mkB = (i: Int) => Array(-0.9f, -0.7f, 0.4f, -0.5f + i * 0.001f,
      -0.8f, 0.6f, -0.2f - i * 0.001f, -0.9f)
    val pts = ((1 to 20).map(i => (i.toLong, mkA(i))) ++
      (21 to 40).map(i => (i.toLong, mkB(i)))).toDF("vec_id", "embedding")
    val qv = mkA(10).map(_.toDouble).toSeq

    val top = ops.Similarity.pqTopK(pts, "vec_id", "embedding", qv,
      k = 40, m = 2, kCodes = 2, iters = 2)
    val rows = top.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 40)
    // every blob-A point scores strictly below (closer than) blob-B
    val aDists = rows.filter(_._1 <= 20).map(_._2)
    val bDists = rows.filter(_._1 > 20).map(_._2)
    assert(aDists.nonEmpty && bDists.nonEmpty && aDists.max < bDists.min,
      s"ADC must separate the blobs: $rows")

    // deterministic end-to-end
    val again = ops.Similarity.pqTopK(pts, "vec_id", "embedding", qv,
      k = 40, m = 2, kCodes = 2, iters = 2)
    assert(top.collect().toSeq == again.collect().toSeq)

    // encode emits m codes per vector, all < kCodes
    val books = ops.Similarity.pqTrain(pts, "vec_id", "embedding", m = 2, k = 2, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 2) &&
      books.forall(_.forall(_._2.length == 4)))
    val codes = ops.Similarity.pqEncode(pts, "vec_id", "embedding", books)
      .collect().map(_.getSeq[Int](1))
    assert(codes.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 2)))

    // scoring is lookups + sum over the codes — no UDF in the plan
    val p = top.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), s"unexpected UDF in plan:\n$p")
  }

  test("int8 k-means: separates obvious clusters, deterministic, UDF-free") {
    // two tight blobs (per-vector scaling makes CONSTANT vectors
    // degenerate — all quantize to ±127 — so vary the dimensions)
    val pts = ((0 until 20).map(i =>
      (i.toLong, Array(1.0f, 0.5f + i * 0.002f, -0.25f, 0.1f))) ++
      (20 until 40).map(i =>
        (i.toLong, Array(-1.0f, -0.3f, 0.8f, -0.6f + i * 0.002f))))
      .toDF("vec_id", "embedding")
    val assigned = ops.Similarity.kmeansInt8(pts, "vec_id", "embedding", k = 2, iters = 3)
    val byCluster = assigned.collect()
      .groupBy(_.getInt(1)).map { case (c, rs) => c -> rs.map(_.getLong(0)).toSet }
    assert(byCluster.values.toSet ==
      Set((0L until 20L).toSet, (20L until 40L).toSet))

    // deterministic: an identical second run yields identical labels
    val again = ops.Similarity.kmeansInt8(pts, "vec_id", "embedding", k = 2, iters = 3)
    assert(assigned.exceptAll(again).count() == 0 && again.exceptAll(assigned).count() == 0)

    // iters=0 assigns against the initial centroids without any update
    val zero = ops.Similarity.kmeansInt8(pts, "vec_id", "embedding", k = 2, iters = 0)
    assert(zero.count() == 40)
    assert(zero.select("cluster").distinct().collect()
      .map(_.getInt(0)).forall(c => c == 0 || c == 1))

    // empty clusters keep their centroid (3 identical points, k=2:
    // everything joins cluster 0; cluster 1 never crashes the update)
    val same = Seq((1L, Array(1.0f, 1.0f)), (2L, Array(1.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val s2 = ops.Similarity.kmeansInt8(same, "vec_id", "embedding", k = 2, iters = 2)
    assert(s2.filter(col("cluster") === 0).count() == 3)

    // assignment is a codegen projection — no UDF anywhere
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), s"unexpected UDF in plan:\n$p")

    // the native KMeansAssign expression is row-for-row identical to
    // the HOF reference formulation (array_min over transform +
    // aggregate/zip_with structs) including tie-breaks
    val shims = org.apache.spark.sql.GraftShims
    val cents = Array(Array(3L, -2L, 0L), Array(3L, -2L, 1L), Array(-5L, 7L, 2L))
    val centLit = array(cents.zipWithIndex.map { case (v, cid) =>
      struct(lit(cid).as("cid"), array(v.map(lit(_)): _*).as("vec"))
    }: _*)
    val hof = array_min(transform(centLit, c =>
      struct(
        aggregate(zip_with(col("q"), c.getField("vec"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"),
        c.getField("cid").as("cid")))).getField("cid")
    val native = shims.column(
      graft.expressions.KMeansAssign(shims.expression(col("q")), cents))
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 500).map(i =>
      (i.toLong, Array.fill(3)(rnd.nextInt(21).toLong - 10))).toDF("id", "q")
    assert(vecs.select(hof.as("a"), native.as("b"))
      .filter(col("a") =!= col("b")).count() == 0)
  }

}
