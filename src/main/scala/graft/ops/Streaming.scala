package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming operators over the events table: windowed
 * aggregation and stateful sessionization
 * (`flatMapGroupsWithState`). Batch parquet drives the streams
 * synchronously via `processAllAvailable` + memory sink — the same
 * plan shapes run unchanged against a live source at scale.
 */
object Streaming {

  final case class Ev(user_id: Long, ts: Long)
  final case class SessionCount(user_id: Long, sessions: Long, n: Long)

  private val counter = new java.util.concurrent.atomic.AtomicInteger()

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Throwaway checkpoint base for bench/verify streaming queries:
   * tmpfs when available (state-store + offset-log commits fsync every
   * micro-batch; measured ~0.5 s/query faster than /tmp on disk). A
   * production deployment points `checkpointLocation` at durable
   * storage instead. */
  def fastCheckpointDir(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    trackTemp(java.nio.file.Files.createTempDirectory(base, "graft-ckpt")).toString
  }

  /** Throwaway dirs created by the op helpers, reclaimed at JVM exit —
   * without this, repeated bench/verify runs accumulate checkpoint
   * state in /dev/shm (RAM-backed, survives until reboot) until the
   * tmpfs fills and every checkpointed query starts failing. */
  private val tempDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => }
      }))
  }
  private def trackTemp(p: java.nio.file.Path): java.nio.file.Path = {
    tempDirs.add(p); p
  }

  /** The streaming file source wants a directory; stage the single
   * fixture file into a temp dir once per path. A fixture that is
   * already a directory of part files (e.g. a spark-written scale
   * factor) is used in place. */
  private def stageDir(path: String): String =
    stagedDirs.computeIfAbsent(path, { p =>
      val src = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(src)) p
      else {
        val dir = trackTemp(java.nio.file.Files.createTempDirectory("graft-stream"))
        java.nio.file.Files.copy(src, dir.resolve(src.getFileName))
        dir.toString
      }
    })

  /** Streaming read of the events fixture. The `ts` encoding has varied
   * across fixture generations (TIMESTAMP(NANOS)-as-long vs
   * timestamp[us]/NTZ) — the legacy flag makes nanos readable and is a
   * no-op otherwise; consumers access `ts` only through
   * [[graft.EventTime]], which adapts to whichever type arrives. */
  private[graft] def eventsStream(spark: SparkSession, eventsPath: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = stageDir(eventsPath)
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Run `body` with a state-store-friendly shuffle partition count:
   * micro-batch state ops pay per-partition overhead every batch, and
   * the event cardinality here is tiny compared to batch shuffles. */
  private def withStreamingPartitions[T](spark: SparkSession)(body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val p = spark.conf.getOption("spark.qbeast.stream.partitions").getOrElse("8")
    spark.conf.set("spark.sql.shuffle.partitions", p)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Tumbling 1-hour windowed counts/sums over a parquet-backed stream;
   * returns the complete result as a DataFrame. */
  def windowedAgg(spark: SparkSession, eventsPath: String): DataFrame = {
    val raw = eventsStream(spark, eventsPath)
    val stream = raw.withColumn("ts", graft.EventTime.timestamp(raw))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("n"), col("sv"))
    val name = s"graft_stream_window_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Watermarked, append-mode windowed aggregation: only windows sealed
   * by the watermark emit (the late-data pattern). On a finite batch the
   * trailing windows stay open, so results cover the watermarked prefix. */
  def windowedAggWatermarked(spark: SparkSession, eventsPath: String): DataFrame = {
    val raw = eventsStream(spark, eventsPath)
    val stream = raw.withColumn("ts", graft.EventTime.timestamp(raw))
      .withWatermark("ts", "10 minutes")
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("n"), col("sv"))
    val name = s"graft_stream_wm_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Streaming KMV distinct-count: estimated distinct users per event
   * type, maintained as SKETCH STATE across micro-batches (complete
   * mode; the TypedImperativeAggregate's serialized buffer lives in the
   * state store, ≤ k longs per group instead of per-user state). The
   * sketch merge is order- and batching-independent, so the streamed
   * estimate is bit-identical to the batch estimate over the same rows
   * — the oracle replays it exactly. At 100 TB/day event volumes this
   * is the shape that answers "how many distinct users today" without
   * keeping a distinct-user state set. */
  def streamingKmvDistinct(
      spark: SparkSession,
      eventsPath: String,
      k: Int = 64): DataFrame = {
    val raw = eventsStream(spark, eventsPath)
    val shims = org.apache.spark.sql.GraftShims
    val hv = Sketch.portableHash32(col("user_id").cast("string"))
    val sk = shims.column(graft.expressions.KmvDistinctAgg(
      shims.expression(hv), k).toAggregateExpression())
    val agg = raw.groupBy("event_type").agg(sk.as("sk"))
      .select(col("event_type"), col("sk.est").as("est"), col("sk.kth").as("kth"))
    val name = s"graft_stream_kmv_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Streaming distinct-count per event-time window via the mergeable
   * 256-register HyperLogLog ([[graft.expressions.HllDistinctAgg]]):
   * "distinct users per 6-hour window per event type" with a FIXED
   * 256 bytes of state per open group, not a distinct-user set. The
   * register merge is associative, commutative and idempotent, so the
   * streamed estimate is bit-identical to the batch sketch over the
   * same rows regardless of micro-batch boundaries — the oracle
   * replays it exactly. The windowed variant of [[streamingKmvDistinct]]
   * and the streaming face of the t36/t37 sketch kit: at 100 TB/day the
   * state store holds #windows × #types × 256 bytes, while the
   * exact-count formulation would hold every distinct user id. */
  def streamingWindowedHll(spark: SparkSession, eventsPath: String): DataFrame = {
    val raw = eventsStream(spark, eventsPath)
    val stream = raw.withColumn("ts", graft.EventTime.timestamp(raw))
    val shims = org.apache.spark.sql.GraftShims
    val hv = Sketch.portableHash32(col("user_id").cast("string"))
    val sk = shims.column(graft.expressions.HllDistinctAgg(
      shims.expression(hv)).toAggregateExpression())
    val agg = stream
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(sk.as("sk"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("sk.est").as("est"), col("sk.scaled").as("scaled"),
        col("sk.zeros").as("zeros"))
    val name = s"graft_stream_whll_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Streaming percentiles per event-time window via the mergeable KLL
   * sketch ([[graft.expressions.KllQuantilesAgg]]): p50/p90/p99 of
   * `value` per 6-hour window per event type with O(k) doubles of
   * state per open group. The compaction trajectory is deterministic
   * and within capacity nothing ever compacts, so on bounded test data
   * the streamed answer is the exact sorted-rank quantile — DuckDB
   * `quantile_disc` bit-for-bit (the s22 oracle) — regardless of
   * micro-batch boundaries. The percentile twin of
   * [[streamingWindowedHll]]: at 100 TB/day this is the live p99
   * dashboard without keeping per-row state. */
  def streamingWindowedQuantiles(spark: SparkSession, eventsPath: String): DataFrame = {
    val raw = eventsStream(spark, eventsPath)
    val stream = raw.withColumn("ts", graft.EventTime.timestamp(raw))
    val shims = org.apache.spark.sql.GraftShims
    val sk = shims.column(graft.expressions.KllQuantilesAgg(
      shims.expression(col("value").cast("double")),
      Seq(0.5, 0.9, 0.99)).toAggregateExpression())
    val agg = stream
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(sk.as("qv"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("qv")(0).as("p50"), col("qv")(1).as("p90"), col("qv")(2).as("p99"))
    val name = s"graft_stream_wkll_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** End-to-end streaming corpus ingestion — the composed training-data
   * pipeline as ONE continuous query: quality-gate each document
   * (TextOps.qualityFilter), exact-dedup by content hash in streaming
   * state (`dropDuplicates` on md5(text) — at scale bound it with a
   * watermark), and append survivors to a qbeast-indexed table through
   * the streaming sink (exactly-once per micro-batch via txn markers).
   * Returns the indexed table read back. */
  def corpusIngestPipeline(
      spark: SparkSession,
      docsPath: String,
      tableDir: String): DataFrame = {
    if (!graft.log.QbeastLog.exists(tableDir, spark.sparkContext.hadoopConfiguration)) {
      val dir = stageDir(docsPath)
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema).parquet(dir)
      val gated = graft.ops.TextOps.qualityFilter(stream, "text")
        .filter(col("keep"))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("__h", md5(col("text")))
        .dropDuplicates("__h")
        .drop("__h")
      withStreamingPartitions(spark) {
        val q = gated.writeStream.format("qbeast")
          .option("checkpointLocation", fastCheckpointDir())
          .option("columnsToIndex", "doc_id,n_chars")
          .option("cubeSize", "5000")
          .option("path", tableDir)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
    }
    spark.read.format("qbeast").load(tableDir)
  }

  /** Stream the events table into a qbeast-indexed table via the
   * `writeStream.format("qbeast")` sink; returns the indexed table. */
  def ingestToQbeast(spark: SparkSession, eventsPath: String, tableDir: String): DataFrame = {
    if (!graft.log.QbeastLog.exists(tableDir, spark.sparkContext.hadoopConfiguration)) {
      val ckpt = fastCheckpointDir()
      val q = eventsStream(spark, eventsPath).writeStream.format("qbeast")
        .option("checkpointLocation", ckpt)
        .option("columnsToIndex", "user_id,event_id")
        .option("cubeSize", "5000")
        .option("path", tableDir)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.read.format("qbeast").load(tableDir)
  }

  /** Streaming exact dedup during ingest (the at-least-once-delivery
   * pattern): the source is unioned with itself to simulate redelivered
   * events, then `dropDuplicates` keeps one copy per event_id in state.
   * At scale the state shuffles once on the id and is bounded by a
   * watermark (`withWatermark + dropDuplicatesWithinWatermark`); the
   * finite fixture keeps full state. */
  def streamingDedup(spark: SparkSession, eventsPath: String): DataFrame = {
    val once = eventsStream(spark, eventsPath)
    val redelivered = eventsStream(spark, eventsPath)
    val deduped = once.unionAll(redelivered)
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
    val name = s"graft_stream_dedup_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = deduped.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
   * keeps an event-id only until the watermark passes its event time —
   * at scale, state is O(events in the watermark window), not O(all
   * history) like plain dropDuplicates. Deduped rows land in a
   * DISTRIBUTED parquet file sink (append mode) — a memory sink here
   * would funnel every surviving row through the driver, the one thing
   * a 100 TB stream must never do — and the aggregation over the sink
   * is a batch query. */
  def streamingDedupBounded(spark: SparkSession, eventsPath: String): DataFrame = {
    val once0 = eventsStream(spark, eventsPath)
    val once = once0
      .withColumn("tsm", graft.EventTime.timestamp(once0))
      .withWatermark("tsm", "1 hour")
    val redelivered0 = eventsStream(spark, eventsPath)
    val redelivered = redelivered0
      .withColumn("tsm", graft.EventTime.timestamp(redelivered0))
      .withWatermark("tsm", "1 hour")
    val deduped = once.unionAll(redelivered)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_type"), col("value"))
    // DATA goes to disk-backed tmp, never /dev/shm: the deduped row
    // set is table-sized, and filling the RAM-backed tmpfs would fail
    // every query whose CHECKPOINT (tiny state) legitimately lives there
    val sink = trackTemp(java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
      "graft-dedup-sink")).toString
    withStreamingPartitions(spark) {
      val q = deduped.writeStream.format("parquet")
        .option("checkpointLocation", fastCheckpointDir())
        .option("path", sink)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.read.parquet(sink)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
  }

  /** foreachBatch → idempotent qbeast append: the production
   * exactly-once pattern. Each micro-batch writes with
   * (txnAppId, txnVersion=batchId); the write is deliberately run TWICE
   * per batch to simulate a foreachBatch retry — the second commit is
   * skipped by the transaction key, so the table still holds exactly one
   * copy of every event. */
  def foreachBatchIngest(spark: SparkSession, eventsPath: String, tableDir: String): DataFrame = {
    if (!graft.log.QbeastLog.exists(tableDir, spark.sparkContext.hadoopConfiguration)) {
      val ckpt = fastCheckpointDir()
      val q = eventsStream(spark, eventsPath).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          (1 to 2).foreach { _ =>
            batch.write.format("qbeast")
              .option("columnsToIndex", "user_id,event_id")
              .option("cubeSize", "5000")
              .option("txnAppId", "s11_ingest")
              .option("txnVersion", batchId.toString)
              .mode("append")
              .save(tableDir)
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.read.format("qbeast").load(tableDir)
  }

  /**
   * Streaming CDC apply (streaming MERGE): each change wave streams in
   * via foreachBatch; the batch reduces to the LATEST change per key
   * (max ts, tie-break event_id) and merges into the indexed serving
   * table with `QbeastTable.upsert` — the standard "apply a change
   * stream to a serving table" shape. Wave 0 seeds the table; wave 1
   * applies an update slice (clicks, value bumped) through the same
   * apply function. At scale each wave's upsert rewrites only the files
   * its keys land in (index-pruned discovery), so steady-state CDC cost
   * tracks the change volume, not the table size.
   *
   * Ordering contract: "latest per key" is resolved WITHIN each
   * micro-batch and the upsert replaces unconditionally — correct when
   * the source delivers a key's changes in commit order across batches
   * (the CDC-log shape, and this fixture's waves). A source that can
   * deliver older changes in LATER batches needs a ts-guarded merge
   * (`WHEN MATCHED AND s.ts >= t.ts THEN UPDATE`) instead.
   */
  def cdcApply(spark: SparkSession, eventsPath: String, tableDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!graft.log.QbeastLog.exists(tableDir, conf)) {
      val cols = Seq("user_id", "event_id", "event_type", "value", "ts")

      def applyWave(stream: DataFrame): Unit = {
        val ckpt = fastCheckpointDir()
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            import org.apache.spark.sql.expressions.Window
            val latestPerKey = Window.partitionBy("user_id")
              .orderBy(col("ts").desc, col("event_id").desc)
            val latest = batch
              .withColumn("rn", row_number().over(latestPerKey))
              .filter(col("rn") === 1).drop("rn")
            if (!graft.log.QbeastLog.exists(tableDir, conf)) {
              latest.write.format("qbeast")
                .option("columnsToIndex", "user_id,event_id")
                .option("cubeSize", "1000")
                .save(tableDir)
            } else {
              graft.table.QbeastTable.forPath(spark, tableDir)
                .upsert(latest, Seq("user_id"))
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }

      // wave 0: the full event stream seeds latest-per-user
      applyWave(eventsStream(spark, eventsPath).select(cols.map(col): _*))

      // wave 1: the click slice with bumped values, staged as its own
      // change stream
      val staged = stageDir(eventsPath)
      val waveDir = trackTemp(
        java.nio.file.Files.createTempDirectory("graft-cdc-wave")).toString
      val clicks = spark.read.parquet(staged)
        .filter(col("event_type") === "click")
        .withColumn("value", col("value") + 1000)
        .select(cols.map(col): _*)
      clicks.coalesce(1).write.mode("overwrite").parquet(waveDir)
      val schema = spark.read.parquet(waveDir).schema
      applyWave(spark.readStream.schema(schema).parquet(waveDir))
    }
    spark.read.format("qbeast").load(tableDir)
  }

  /** Stream-static enrichment join: each micro-batch broadcast-joins a
   * static dimension table (no state, no watermark — the static side is
   * re-planned per batch). The canonical "enrich events with reference
   * data" pattern; at scale the dimension broadcast is shared across the
   * batch's tasks. */
  def streamStaticJoin(
      spark: SparkSession,
      eventsPath: String,
      dim: DataFrame,
      dimKey: String): DataFrame = {
    val stream = eventsStream(spark, eventsPath)
    val joined = stream.join(broadcast(dim), stream("user_id") === dim(dimKey))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
    val name = s"graft_stream_static_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Stream-stream interval join: every 'error' event paired with the
   * same user's 'click' events in the preceding 30 minutes. Watermarks
   * on both sides bound the join state; the range condition lets Spark
   * expire rows once the other side's watermark passes. */
  def streamStreamJoin(spark: SparkSession, eventsPath: String): DataFrame = {
    val errors0 = eventsStream(spark, eventsPath)
    val errors = errors0
      .withColumn("err_ts", graft.EventTime.timestamp(errors0))
      .filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val clicks0 = eventsStream(spark, eventsPath)
    val clicks = clicks0
      .withColumn("click_ts", graft.EventTime.timestamp(clicks0))
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val joined = errors.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("err_ts") - expr("INTERVAL 30 minutes") &&
        col("click_ts") <= col("err_ts"))
      .select(col("err_id"), col("click_id"), col("user_id"))
    val name = s"graft_stream_ssjoin_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /**
   * LEFT OUTER stream-stream join: errors joined to clicks in the 30
   * minutes before each error; an error with NO qualifying click emits
   * a null-extended row once the global watermark proves no matching
   * click can still arrive (err_ts < min(max err_ts, max click_ts) −
   * 1 h on this finite input — each side's watermark tracks its own
   * filtered stream). Matched rows emit immediately; the outer row is the
   * state-expiry semantic the inner join (s09) cannot show. Trailing
   * errors inside the final watermark hold-back stay pending, exactly
   * as they would on an unbounded stream.
   */
  def streamStreamLeftJoin(spark: SparkSession, eventsPath: String): DataFrame = {
    val errors0 = eventsStream(spark, eventsPath)
    val errors = errors0
      .withColumn("err_ts", graft.EventTime.timestamp(errors0))
      .filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val clicks0 = eventsStream(spark, eventsPath)
    val clicks = clicks0
      .withColumn("click_ts", graft.EventTime.timestamp(clicks0))
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val joined = errors.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("err_ts") - expr("INTERVAL 30 minutes") &&
        col("click_ts") <= col("err_ts"),
      "leftOuter")
      .select(col("err_id"), col("click_id"), col("user_id"))
    val name = s"graft_stream_ssljoin_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Per-user session counts (sessions split at gaps > 30 min), computed
   * with `flatMapGroupsWithState` over a streaming read — the canonical
   * custom-state pattern; state persists across micro-batches. */
  def sessionize(spark: SparkSession, eventsPath: String): DataFrame = {
    import spark.implicits._
    val raw = eventsStream(spark, eventsPath)
    val stream = raw
      .select(col("user_id"), graft.EventTime.micros(raw).as("ts")).as[Ev]

    val fn: (Long, Iterator[Ev], GroupState[(Long, Long, Long)]) => Iterator[SessionCount] =
      (userId, events, state) => {
        // state: (sessions, lastTsMicros, totalEvents)
        val sorted = events.toArray.sortBy(_.ts)
        if (sorted.isEmpty) Iterator.empty
        else {
          var (sessions, lastTs, total) = state.getOption.getOrElse((0L, Long.MinValue, 0L))
          sorted.foreach { e =>
            val t = e.ts
            if (lastTs == Long.MinValue || t - lastTs > 1800000000L) sessions += 1
            // never rewind across micro-batches: a late event folds into
            // the current session (negative gap), but moving the frontier
            // BACKWARD would make the next in-order event spuriously open
            // a new session
            lastTs = math.max(lastTs, t)
            total += 1
          }
          state.update((sessions, lastTs, total))
          Iterator.single(SessionCount(userId, sessions, total))
        }
      }

    val sessions = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
    val name = s"graft_stream_sessions_${counter.incrementAndGet()}"
    withStreamingPartitions(spark) {
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // in update mode the memory sink appends each batch's updates; keep
    // the final state per user
    val t = spark.table(name)
    t.groupBy("user_id").agg(max("sessions").as("sessions"), max("n").as("n"))
  }

  /**
   * A qbeast table consumed AS a stream — the read direction of the
   * streaming story (`readStream.format("qbeast")`, see
   * [[graft.sources.QbeastStreamSource]]): half the events are written
   * to a qbeast table and drained as the initial snapshot, the other
   * half is APPENDED and drained incrementally (the second drain parses
   * only the new commit from the log — never a snapshot replay), both
   * through one checkpoint. Returns the drained sink, which equals the
   * full events table iff the source delivered every row exactly once
   * across snapshot + incremental batches and a restart.
   */
  def streamFromQbeast(
      spark: SparkSession,
      eventsPath: String,
      tableDir: String,
      sinkDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(conf)
    // completion marker, not dir-existence: the parquet sink creates
    // the dir at query start, so a killed run would otherwise be
    // mistaken for a finished build and served half-empty forever
    val marker = new org.apache.hadoop.fs.Path(sinkDir, "_graft_complete")
    if (!fs.exists(marker)) {
      fs.delete(sinkPath, true)
      fs.delete(new org.apache.hadoop.fs.Path(tableDir), true)
      val ev = spark.read.parquet(eventsPath)
      val ckpt = fastCheckpointDir()
      def drain(): Unit = {
        val q = spark.readStream.format("qbeast").load(tableDir)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", sinkDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination()
        finally q.stop()
      }
      def write(slice: DataFrame, mode: String): Unit = slice.write.format("qbeast")
        .option("columnsToIndex", "user_id,event_id").option("cubeSize", "5000")
        .mode(mode).save(tableDir)
      write(ev.filter(col("event_id") % 2 === 0), "overwrite")
      drain() // initial snapshot batch
      write(ev.filter(col("event_id") % 2 =!= 0), "append")
      drain() // incremental batch: only the appended commit's files
      fs.create(marker, true).close() // publish: build is complete
    }
    spark.read.parquet(sinkDir)
  }

  /**
   * Rate-limited consumption of a qbeast table stream: the snapshot and
   * two appended commits are drained under `maxFilesPerTrigger`, so one
   * `Trigger.AvailableNow` run splits the backlog into many bounded
   * micro-batches (admission control via
   * `SupportsAdmissionControl.latestOffset` +
   * `SupportsTriggerAvailableNow`, the FileStreamSource/Delta
   * contract) instead of one giant batch. At 100 TB this is the knob
   * that keeps a catching-up stream from planning a single
   * cluster-wide mega-batch. Returns the drained sink (= the full
   * events table iff exactly-once held across every bounded batch);
   * the observed batch count is asserted in StreamSourceSpec.
   */
  def streamFromQbeastRateLimited(
      spark: SparkSession,
      eventsPath: String,
      tableDir: String,
      sinkDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(conf)
    // completion marker, not dir-existence: the parquet sink creates
    // the dir at query start, so a killed run would otherwise be
    // mistaken for a finished build and served half-empty forever
    val marker = new org.apache.hadoop.fs.Path(sinkDir, "_graft_complete")
    if (!fs.exists(marker)) {
      fs.delete(sinkPath, true)
      fs.delete(new org.apache.hadoop.fs.Path(tableDir), true)
      val ev = spark.read.parquet(eventsPath)
      def write(slice: DataFrame, mode: String): Unit = slice.write.format("qbeast")
        .option("columnsToIndex", "user_id,event_id").option("cubeSize", "5000")
        .mode(mode).save(tableDir)
      write(ev.filter(col("event_id") % 3 === 0), "overwrite")
      write(ev.filter(col("event_id") % 3 === 1), "append")
      write(ev.filter(col("event_id") % 3 === 2), "append")
      // low enough to force several bounded batches at every SF, high
      // enough that per-micro-batch overhead doesn't dominate the bench
      val q = spark.readStream.format("qbeast")
        .option("maxFilesPerTrigger", "8")
        .load(tableDir)
        .writeStream.format("parquet")
        .option("checkpointLocation", fastCheckpointDir()).option("path", sinkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally q.stop()
      fs.create(marker, true).close() // publish: build is complete
    }
    spark.read.parquet(sinkDir)
  }

  /**
   * Streaming consumption of a table's CHANGE FEED
   * (`readChangeFeed=true` + `startingVersion=0` on the qbeast stream
   * source): an orders table goes through write → append → DELETE →
   * UPDATE, and the stream delivers every commit's row-level changes
   * exactly once across a restart (the first drain consumes v0, the
   * second resumes from the checkpoint for v1..v3). `strategy` picks how
   * the DML commits land, and so which [[graft.cdf.FeedUnit]] replays
   * them; the change multiset is the same under all three:
   *  - "cdf": copy-on-write with `enableChangeDataFeed`, read from the
   *    change files persisted at commit time (the Delta AddCDCFile
   *    shape);
   *  - "dv": deletion vectors and no change files, replayed as vector
   *    deltas;
   *  - "rewrite": copy-on-write with neither, each DML commit replayed
   *    as one atomic removes-plus-adds diff.
   * For "dv" and "rewrite" the builder asserts the DML commits decode to
   * those units, so the oracle-matched result proves that replay.
   * Returns the drained sink: rows of (orders schema + `_change_type`
   * + `_commit_version`).
   */
  def streamChangeFeed(
      spark: SparkSession,
      ordersPath: String,
      tableDir: String,
      sinkDir: String,
      strategy: String = "cdf"): DataFrame = {
    import graft.cdf.FeedUnit.{Diff, VectorDelta}
    val conf = spark.sparkContext.hadoopConfiguration
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(conf)
    // completion marker, not dir-existence: the parquet sink creates
    // the dir at query start, so a killed run would otherwise be
    // mistaken for a finished build and served half-empty forever
    val marker = new org.apache.hadoop.fs.Path(sinkDir, "_graft_complete")
    if (!fs.exists(marker)) {
      fs.delete(sinkPath, true)
      fs.delete(new org.apache.hadoop.fs.Path(tableDir), true)
      val o = spark.read.parquet(ordersPath)
      val ckpt = fastCheckpointDir()
      def drain(): Unit = {
        val q = spark.readStream.format("qbeast")
          .option("readChangeFeed", "true").option("startingVersion", "0")
          .load(tableDir)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", sinkDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination()
        finally q.stop()
      }
      val options = strategy match {
        case "cdf" => Map("enableChangeDataFeed" -> "true")
        case "dv" => Map("deletionVectors" -> "true")
        case "rewrite" => Map.empty[String, String]
      }
      def write(slice: DataFrame, mode: String): Unit = slice.write.format("qbeast")
        .option("columnsToIndex", "o_orderkey,o_totalprice")
        .option("cubeSize", "5000").options(options)
        .mode(mode).save(tableDir)
      write(o.filter("o_orderkey % 10 < 5"), "overwrite") // v0
      drain() // v0 inserts
      write(o.filter("o_orderkey % 10 IN (5, 6)"), "append") // v1
      val t = graft.table.QbeastTable.forPath(spark, tableDir)
      t.delete("o_orderstatus = 'F' AND o_orderkey % 100 < 50") // v2
      t.update("o_orderkey % 7 = 0", Map("o_totalprice" -> "o_totalprice + 1")) // v3
      val snap = t.snapshot
      (2L to snap.version).foreach { v =>
        val units = graft.cdf.ChangeFeed.decode(v, graft.log.QbeastLog.commitActions(
          tableDir, conf, v, snap.revisions), _ => None).units
        require(strategy match {
          case "dv" => units.exists(_.isInstanceOf[VectorDelta])
          case "rewrite" => units match {
            case Seq(Diff(_, parts)) => !parts.exists(_.isInstanceOf[VectorDelta])
            case _ => false
          }
          case _ => true
        }, s"$strategy CDF fixture: commit $v decodes to $units, so its replay would go untested")
      }
      drain() // restart: v1..v3 exactly once
      fs.create(marker, true).close() // publish: build is complete
    }
    spark.read.parquet(sinkDir)
  }

}
