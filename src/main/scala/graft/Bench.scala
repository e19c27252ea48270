package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query seconds on
 * SPARK_GRAFT_SF_DIR. Table builds (qbeast writes) happen in a warm-up
 * phase so timings measure query execution, not one-off indexing; the
 * write cost is reported separately as `index_build_sec`.
 *
 * The timed section runs `SPARK_GRAFT_BENCH_ITERS` (default 2) full
 * iterations with ALTERNATING query order (forward, then reversed, …)
 * and reports per-query MINIMA across them (`SPARK_GRAFT_BENCH_MODE=
 * last` restores the old last-iteration numbers). Rationale: the host
 * reclaims page cache mid-session, swinging identical code ~1.65×
 * between runs — the minimum is the stable signal, and alternating the
 * order keeps a mid-run cache reclaim from systematically taxing the
 * late-alphabet queries of every iteration. The JSON carries the mode
 * tag, per-run totals, and a MemAvailable/Cached note sampled before
 * and after the timed section, so cross-round drift attribution reads
 * from the record instead of prose. Published numbers are warm (JIT +
 * codegen: iteration 1 is the warm-up). Streaming sink tables are
 * deleted before every iteration so their queries always perform the
 * ingest they claim to measure instead of reading a cached table back.
 * Query failures are never swallowed: a failing query gets an
 * `"errors"` entry and the process exits nonzero. */
object Bench {

  /** MemAvailable/Cached from /proc/meminfo in MB (zeros off-Linux) —
   * the cache-state note that turns "it was probably page-cache
   * reclaim" into a recorded fact. */
  private def memNote(): (Long, Long) =
    try {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/meminfo"))
      def mb(key: String): Long = {
        val it = lines.iterator()
        while (it.hasNext) {
          val l = it.next()
          if (l.startsWith(key)) {
            val fields = l.split("\\s+")
            if (fields.length >= 2 && fields(1).forall(_.isDigit))
              return fields(1).toLong / 1024
          }
        }
        0L
      }
      (mb("MemAvailable:"), mb("Cached:"))
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Sink tables produced inside timed streaming queries; cached copies
   * would turn those queries into no-op reads. */
  private val streamingSinks =
    Seq("events_streamed", "documents_stream_pipeline", "events_cdc",
      "events_foreachbatch", "events_stream_source", "events_stream_source_sink",
      "events_stream_ratelimit", "events_stream_ratelimit_sink",
      "orders_cdf_stream", "orders_cdf_stream_sink",
      // s20's dv twin was missing here through r13, so its minima
      // measured a cached-sink read (0.38 s at sf1) while s19 honestly
      // rebuilt (19.4 s) — expect s20 to rise to s19's class in r14
      "orders_dvcdf_stream", "orders_dvcdf_stream_sink",
      // s23's copy-on-write rewrite twin (the diff-unit replay), r15
      "orders_xcdf_stream", "orders_xcdf_stream_sink")

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sql.QbeastSparkSessionExtension")
      .config("spark.sql.catalog.qbeast_catalog", "graft.catalog.QbeastCatalog")
      .config("spark.sql.session.timeZone", "UTC")
      // state cardinality at bench SF is tiny (6 event types, 500
      // users), so per-batch state-store overhead dominates; measured
      // sweep in tools/StreamPerfProbe (16→2 partitions ≈ 2× faster,
      // flat below 2). At production cardinality set ≥ executor cores.
      .config("spark.qbeast.stream.partitions", "2")
      // throwaway streaming checkpoints on tmpfs (see Streaming scaladoc)
      .config("spark.sql.streaming.checkpointLocation", ops.Streaming.fastCheckpointDir())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: build every cached table + JIT/codegen paths so the timed
    // section measures queries, not one-off indexing. Per-builder times
    // are published (index_build_tables) so a scale regression can be
    // attributed to ONE builder instead of a single opaque total.
    val buildTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(body: => Any): Unit = {
      val s = System.nanoTime()
      body
      buildTimes(name) = (System.nanoTime() - s) / 1e9
    }
    val t0 = System.nanoTime()
    QTables.indexSpecs.keys.foreach(t =>
      timed(t)(QTables.qbeast(spark, sfDir, t).count()))
    QTables.variantSpecs.keys.foreach(v =>
      timed(v)(QTables.qbeastVariant(spark, sfDir, v).count()))
    timed("appended")(QTables.qbeastAppended(spark, sfDir).count())
    timed("converted")(QTables.qbeastConverted(spark, sfDir).count())
    timed("optimized")(QTables.qbeastOptimized(spark, sfDir).count())
    timed("quantile_part")(QTables.qbeastQuantilePart(spark, sfDir).count())
    timed("orders_stats")(QTables.qbeastOrdersWithStats(spark, sfDir).count())
    timed("catalog")(QTables.catalogTable(spark, sfDir))
    timed("ivf_embeddings")(QTables.qbeastIvfEmbeddings(spark, sfDir).count())
    timed("lsh_embeddings")(QTables.qbeastLshEmbeddings(spark, sfDir).count())
    timed("ivfpq_embeddings")(QTables.qbeastIvfPqEmbeddings(spark, sfDir)._1.count())
    timed("orders_bloom")(QTables.qbeastBloomOrders(spark, sfDir).count())
    timed("orders_autocompact")(QTables.qbeastAutoCompacted(spark, sfDir).count())
    timed("replaced")(QTables.replacedTable(spark, sfDir))
    timed("compacted")(QTables.qbeastCompacted(spark, sfDir).count())
    timed("bucketed")(QTables.bucketedTables(spark, sfDir))
    timed("deleted")(QTables.qbeastDeleted(spark, sfDir).count())
    timed("updated")(QTables.qbeastUpdated(spark, sfDir).count())
    timed("merged")(QTables.qbeastMerged(spark, sfDir).count())
    timed("restored")(QTables.qbeastRestored(spark, sfDir).count())
    timed("sql_updated")(QTables.qbeastSqlUpdated(spark, sfDir).count())
    timed("sql_merged")(QTables.qbeastSqlMerged(spark, sfDir).count())
    timed("checkpointed")(QTables.qbeastCheckpointed(spark, sfDir).count())
    timed("histogram_part")(QTables.qbeastHistogramPart(spark, sfDir).count())
    timed("sql_merged_general")(QTables.qbeastSqlMergedGeneral(spark, sfDir).count())
    timed("sql_merged_renamed")(QTables.qbeastSqlMergedRenamedKeys(spark, sfDir).count())
    timed("struct_updated")(QTables.qbeastStructUpdated(spark, sfDir).count())
    timed("evolved")(QTables.qbeastEvolved(spark, sfDir).count())
    timed("vacuumed")(QTables.qbeastVacuumed(spark, sfDir).count())
    timed("historied")(QTables.qbeastHistoried(spark, sfDir))
    timed("sql_maint")(QTables.qbeastSqlMaintained(spark, sfDir).count())
    val indexBuild = (System.nanoTime() - t0) / 1e9

    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "minima")
    val memStart = memNote()
    // per-query values across iterations: minima (default) or the
    // last iteration's value (legacy mode)
    val agg = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val runTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (0 until iters).foreach { it =>
      // force streaming-ingest queries to redo their work every iteration
      streamingSinks.foreach(t =>
        deleteDir(spark, QTables.cachePathFor(sfDir, t)))
      // optional comma-separated name-prefix filter for focused local
      // iteration (the driver's full runs leave this unset)
      val prefixes = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) =>
          prefixes.isEmpty || prefixes.exists(name.startsWith) }
      // alternate the order per iteration: a page-cache reclaim
      // mid-session then taxes different queries in different runs
      // instead of always the same tail
      val run = if (it % 2 == 1) ordered.reverse else ordered
      var runTotal = 0.0
      run.foreach { case (name, fn) =>
        // a failing query lands in `errors` ONLY — its elapsed time must
        // never pollute the published per-query map or the total
        val s0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - s0) / 1e9
          runTotal += sec
          val keep = mode match {
            case "last" => true
            case _ => agg.get(name).forall(sec < _)
          }
          if (keep) agg(name) = sec
        } catch {
          case e: Throwable =>
            errors(name) =
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        }
      }
      runTotals += runTotal
    }
    val results = agg.toSeq.sortBy(_._1).filterNot { case (k, _) => errors.contains(k) }
    // locale-independent 3-decimal rounding (the f interpolator would
    // emit a decimal comma under comma-decimal locales and corrupt the
    // JSON); Double.toString of a rounded value is minimal ("0.15")
    def r3(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val buildJson = buildTimes
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val memEnd = memNote()
    val runTotalsJson = runTotals.map(v => (math.rint(v * 100) / 100).toString)
      .mkString("[", ",", "]")
    val cacheJson = s"""{"mem_available_mb":[${memStart._1},${memEnd._1}],""" +
      s""""page_cached_mb":[${memStart._2},${memEnd._2}]}"""
    // Per-builder warm-up detail, full-precision per-query values and
    // drift-attribution notes go to a SIDE FILE: the driver that consumes
    // stdout keeps only a ~2000-char tail of it, so every byte on the
    // contract line is budget. The full 190-name `queries` map alone is
    // ~4.9 KB (the contract forbids renaming or dropping entries), so the
    // line can never fit the tail whole — the scalars are therefore
    // printed AFTER the map (JSON key order is free) so that the
    // driver-visible tail always carries total/value/unit/index_build_sec
    // plus the last ~70 per-query entries, instead of losing the total.
    val detail = s"""{"index_build_tables":$buildJson,"run_totals":$runTotalsJson,""" +
      s""""cache_state":$cacheJson,"iterations":$iters,"mode":"$mode","sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_detail_last.json")),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => }
    println(s"""{"queries":$qs,"errors":$errJson,"metric":"total","value":${r3(total)},"unit":"sec","index_build_sec":${r3(indexBuild)},"iterations":$iters,"mode":"$mode","run_totals":$runTotalsJson,"cache_state":$cacheJson,"sf":"$sfDir"}""")
    // scalars-only summary AFTER the contract line: a consumer that keeps
    // only a ~2000-char stdout tail parses the totals from this one line
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""index_build_sec":${r3(indexBuild)},"iterations":$iters,"errors":${errors.size}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
