package lifebench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    smoke: Boolean,
    fault: Boolean,
    work: String,
    traceOut: String)

/** One timed engine call of the benchmark loop. `cat` is op, aux,
 * maint (scheduled maintenance) or probe (traced side measurements). */
final case class Rec(id: Int, cat: String, kind: String, t0Ns: Long, t1Ns: Long,
    t0Ms: Long, t1Ms: Long, cpuNs: Long, gcMs: Long, timed: Boolean) {
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** A workload: tables built by `setup`, then whole rounds of a fixed
 * operation sequence. */
trait Workload {
  /** Builds the workload's tables from scratch under `dir`, timing only
   * the engine calls (through [[Ctx.build]]). */
  def setup(dir: String): Unit
  def round(r: Int): Unit
  /** (data + log bytes on disk, live rows) of the workload's tables now. */
  def footprint(): (Long, Long)
  /** Traced runs: table-level layer figures taken once at the end. */
  def traceEnd(): Unit
}

final class Ctx(val spark: SparkSession, val args: Args) {
  val rng = new java.util.Random(args.seed)
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer) else None
  val recs = mutable.ArrayBuffer.empty[Rec]
  var timed = false
  var probe = false
  var attempted = 0L
  var failed = 0L
  var correct = true
  var setupNs = 0L
  private var nextId = 0
  private var current = -1
  private var lastFailed = -1
  private var lastKind = ""

  def conf = spark.sparkContext.hadoopConfiguration

  /** Times an engine call that builds a table during set-up. */
  def build[T](body: => T): T = {
    val t0 = System.nanoTime()
    try span("setup", body) finally setupNs += System.nanoTime() - t0
  }

  def op[T](kind: String)(body: => T): Option[T] = call("op", kind, body)
  def aux[T](kind: String)(body: => T): Option[T] = call("aux", kind, body)
  def maint[T](kind: String)(body: => T): Option[T] = call("maint", kind, body)

  private def call[T](cat0: String, kind: String, body: => T): Option[T] = {
    val cat = if (probe) "probe" else cat0
    val id = nextId
    nextId += 1
    current = id
    lastKind = kind
    val cpu0 = cpuNs()
    val gc0 = if (args.trace) gcMs() else 0L
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Some(span(s"$cat:$kind", body))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[lifebench] $cat $kind failed: $e")
          e.printStackTrace()
          None
      }
    val t1 = System.nanoTime()
    recs += Rec(id, cat, kind, t0, t1, m0, System.currentTimeMillis(),
      cpuNs() - cpu0, if (args.trace) gcMs() - gc0 else 0L, timed)
    if (cat != "probe") {
      attempted += 1
      if (res.isEmpty) { failed += 1; lastFailed = id }
    } else if (res.isEmpty) correct = false
    res
  }

  /** A correctness check on the answer of the last operation. A wrong
   * answer counts that operation as failed and the run as incorrect. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    correct = false
    System.err.println(s"[lifebench] check failed after $lastKind: $what")
    if (lastFailed != current && !probe) { failed += 1; lastFailed = current }
  }

  def span[T](name: String, body: => T): T = tracer match {
    case Some(t) => t.span(name, current)(body)
    case None => body
  }
  /** Records a per-layer figure (traced runs). The DML probe of
   * [[MutateWorkload.probe]] only contributes the verb figures. */
  def sample(name: String, v: => Double): Unit =
    if (!probe || name.startsWith("table.") || name.startsWith("dml."))
      tracer.foreach(_.sample(name, v))

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def table(path: String): DataFrame = spark.read.format("qbeast").load(path)
}

/** Engine-facing helpers shared by the workloads. */
object Engine {
  def snapshot(ctx: Ctx, path: String): graft.log.QbeastSnapshot =
    graft.log.QbeastLog.snapshot(path, ctx.conf)

  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Files the executed query read (the scans' `numFiles` metric). */
  def filesRead(ds: Dataset[_]): Long =
    scans(ds.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum

  /** Traced runs: times `QbeastFileIndex.selectFiles` with the filters
   * the planner hands the scan of `df`, on the scan's own snapshot. */
  def traceSelectFiles(ctx: Ctx, df: DataFrame): Unit = if (ctx.args.trace) {
    scans(df.queryExecution.sparkPlan).foreach { scan =>
      scan.relation.location match {
        case fi: graft.read.QbeastIndex =>
          val snap = fi.currentSnapshot
          val filters = scan.partitionFilters ++ scan.dataFilters
          val t0 = System.nanoTime()
          val kept = ctx.span("read.select_files",
            graft.read.QbeastFileIndex.selectFiles(snap, filters))
          ctx.sample("read.select_files_ms", (System.nanoTime() - t0) / 1e6)
          if (snap.files.nonEmpty)
            ctx.sample("read.files_kept_ratio", kept.size.toDouble / snap.files.size)
        case _ =>
      }
    }
  }

  /** Traced runs: a cold log replay (cache dropped) then a cached one,
   * as the next reader of `path` would see them. */
  def traceSnapshot(ctx: Ctx, path: String): Unit = if (ctx.args.trace) {
    graft.log.QbeastLog.invalidateCache()
    var t0 = System.nanoTime()
    ctx.span("log.snapshot", snapshot(ctx, path))
    ctx.sample("log.snapshot_ms", (System.nanoTime() - t0) / 1e6)
    t0 = System.nanoTime()
    ctx.span("log.snapshot_hit", snapshot(ctx, path))
    ctx.sample("log.snapshot_hit_ms", (System.nanoTime() - t0) / 1e6)
  }

  /** Traced runs: files and bytes a commit added and removed, and the
   * deletion vectors it attached. */
  def traceCommit(ctx: Ctx, prefix: String, before: graft.log.QbeastSnapshot,
      after: graft.log.QbeastSnapshot): Unit = if (ctx.args.trace) {
    val b = before.files.map(_.path).toSet
    val a = after.files.map(_.path).toSet
    val added = after.files.filterNot(f => b.contains(f.path))
    val removed = before.files.filterNot(f => a.contains(f.path))
    ctx.sample(s"$prefix.files_added", added.size)
    ctx.sample(s"$prefix.bytes_added", added.map(_.size).sum.toDouble)
    ctx.sample(s"$prefix.files_removed", removed.size)
    ctx.sample(s"$prefix.bytes_removed", removed.map(_.size).sum.toDouble)
    ctx.sample(s"$prefix.dv_files",
      after.dvs.count { case (p, d) => !before.dvs.get(p).contains(d) }.toDouble)
  }

  /** Bytes under `dir` on disk. */
  def du(dir: String): Long = {
    val f = new java.io.File(dir)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => du(c.getPath)).sum
  }

  def rmrf(dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => rmrf(c.getPath))
    f.delete()
  }

  /** Log commit files and checkpoints of a table: (commits, commit bytes, checkpoints). */
  def logStats(path: String): (Int, Long, Int) = {
    val files = Option(new java.io.File(new Path(path, graft.log.QbeastLog.LogDirName).toString)
      .listFiles()).toSeq.flatten
    val commits = files.filter(f => f.getName.endsWith(".json") && !f.getName.contains("checkpoint"))
    (commits.size, commits.map(_.length()).sum, files.count(_.getName.contains(".checkpoint.")))
  }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("lifebench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.QbeastSparkSessionExtension")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${args.work}/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // several comma-separated workloads run one after another in this
    // JVM (the build uses this to record its class-data archive)
    val code =
      try {
        args.workload.split(",").foreach { w =>
          println(run(spark, args.copy(workload = w, work = s"${args.work}/$w")))
        }
        0
      } catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      smoke = m.getOrElse("size", "full") == "smoke",
      fault = m.getOrElse("fault", "0") == "1",
      work = m("work"),
      traceOut = m.getOrElse("trace-out", ""))
  }

  private def run(spark: SparkSession, args: Args): String = {
    val ctx = new Ctx(spark, args)
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    val plans = new PlanListener
    if (args.trace) spark.listenerManager.register(plans)

    val w: Workload = args.workload match {
      case "query" => new QueryWorkload(ctx)
      case "ingest" => new IngestWorkload(ctx)
      case "mutate" => new MutateWorkload(ctx, s"${args.work}/m")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated and its median reported, so one slow build
    // does not decide the figure; the last build's tables are used
    val reps = if (args.smoke) 1 else 3
    val setupS = (1 to reps).map { i =>
      val dir = s"${args.work}/setup$i"
      if (i > 1) Engine.rmrf(s"${args.work}/setup${i - 1}")
      ctx.setupNs = 0L
      w.setup(dir)
      ctx.setupNs / 1e9
    }

    // warm-up round: run and checked, not timed
    val w0 = System.nanoTime()
    w.round(0)
    System.err.println(f"[lifebench] set-up ${setupS.map(x => f"$x%.2f").mkString(" ")} s; " +
      f"warm-up round ${(System.nanoTime() - w0) / 1e9}%.1f s")
    ctx.timed = true
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var r = 1
    while (System.nanoTime() < deadline) { w.round(r); r += 1 }
    ctx.timed = false
    val (bytes, rows) = w.footprint()
    val rssMb = peakRssMb()

    if (args.trace) w.traceEnd()
    org.apache.spark.LifebenchBus.drain(spark.sparkContext)

    val timed = ctx.recs.filter(rc => rc.timed && rc.cat != "probe")
    val ops = timed.filter(_.cat == "op")
    val nOps = math.max(ops.size, 1).toDouble
    val timedS = timed.map(_.ms).sum / 1e3
    def inRecs[T](rs: Seq[Rec], evTime: T => Long, evs: Seq[T]): Seq[T] = {
      val iv = rs.map(rc => (rc.t0Ms, rc.t1Ms)).sortBy(_._1).toArray
      val starts = iv.map(_._1)
      evs.filter { e =>
        val t = evTime(e)
        var i = java.util.Arrays.binarySearch(starts, t)
        if (i < 0) i = -i - 2
        i >= 0 && t <= iv(i)._2
      }
    }
    val tasks = work.tasks.synchronized(work.tasks.toVector)
    val timedTasks = inRecs[TaskEv](timed.toSeq, _.endMs, tasks)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupS), "s"),
      "op_ms_p50" -> (Stats.median(ops.map(_.ms).toSeq), "ms"),
      "op_ms_tail" -> (Stats.tail(ops.map(_.ms).toSeq), "ms"),
      "aux_ms_p50" -> (Stats.median(timed.filter(_.cat == "aux").map(_.ms).toSeq), "ms"),
      "ops_per_s" -> (ops.size / timedS, "1/s"),
      "cpu_ms_per_op" -> (timed.map(_.cpuNs).sum / 1e6 / nOps, "ms"),
      "read_bytes_per_op" -> (timedTasks.map(_.inputBytes).sum / nOps, "B"),
      "table_bytes_per_row" -> (bytes.toDouble / math.max(rows, 1L), "B"),
      "peak_rss_mb" -> (rssMb, "MB"))

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (args.trace) {
      val t = ctx.tracer.get
      def s(name: String): Seq[Double] = t.samples.get(name).map(_.toSeq).getOrElse(Nil)
      val opTasks = inRecs[TaskEv](ops.toSeq, _.endMs, tasks)
      val jobs = work.jobs.synchronized(work.jobs.values.toVector)
      val opJobs = inRecs[(Long, Long)](ops.toSeq, _._1, jobs)
      val opPlans = inRecs[(Long, Double)](ops.toSeq, _._1, plans.plans.synchronized(plans.plans.toVector))
      val driverMs = ops.map { o =>
        val busy = Stats.union(jobs.filter(j => j._1 <= o.t1Ms && j._2 >= o.t0Ms)
          .map(j => (math.max(j._1, o.t0Ms), math.min(j._2, o.t1Ms))))
        (o.t1Ms - o.t0Ms - busy).toDouble
      }
      // verb latencies come from the workload's own ops, or from the
      // DML probe when its loop has none
      def verb(kind: String): Double = {
        val own = ops.filter(_.kind.startsWith(kind + "/"))
        val rs = if (own.nonEmpty) own
          else ctx.recs.filter(rc => rc.cat == "probe" && rc.kind.startsWith(kind + "/"))
        Stats.median(rs.map(_.ms).toSeq)
      }
      layers ++= Seq(
        "sql.plan_ms" -> (opPlans.map(_._2).sum / nOps, "ms"),
        "read.select_files_ms" -> (Stats.mean(s("read.select_files_ms")), "ms"),
        "read.files_kept_ratio" -> (Stats.mean(s("read.files_kept_ratio")), "ratio"),
        "rules.sample_files_ratio" -> (Stats.mean(s("rules.sample_files_ratio")), "ratio"),
        "log.snapshot_ms" -> (Stats.mean(s("log.snapshot_ms")), "ms"),
        "log.snapshot_hit_ms" -> (Stats.mean(s("log.snapshot_hit_ms")), "ms"),
        "log.bytes_per_commit" -> (Stats.mean(s("log.bytes_per_commit")), "B"),
        "log.checkpoints" -> (s("log.checkpoints").sum, "count"),
        "index.files" -> (Stats.mean(s("index.files")), "count"),
        "index.cubes" -> (Stats.mean(s("index.cubes")), "count"),
        "index.height" -> (Stats.mean(s("index.height")), "count"),
        "write.files_per_commit" -> (Stats.mean(s("write.files_added")), "count"),
        "write.bytes_per_commit" -> (Stats.mean(s("write.bytes_added")), "B"),
        "table.optimize_ms" -> (Stats.mean(s("table.optimize_ms")), "ms"),
        "table.optimize_bytes_rewritten" -> (Stats.mean(s("optimize.bytes_removed")), "B"),
        "table.delete_ms_p50" -> (verb("delete"), "ms"),
        "table.update_ms_p50" -> (verb("update"), "ms"),
        "table.upsert_ms_p50" -> (verb("upsert"), "ms"),
        "table.merge_ms_p50" -> (verb("merge"), "ms"),
        "table.delete_matched_ms_p50" -> (verb("delete_matched"), "ms"),
        "table.metadata_delete_ms_p50" -> (verb("metadata_delete"), "ms"),
        "table.files_rewritten_per_op" -> (Stats.mean(s("dml.files_removed")), "count"),
        "table.dv_files_per_op" -> (Stats.mean(s("dml.dv_files")), "count"),
        "table.cdf_rows_per_op" -> (Stats.mean(s("table.cdf_rows")), "count"),
        "spark.jobs_per_op" -> (opJobs.size / nOps, "count"),
        "spark.tasks_per_op" -> (opTasks.size / nOps, "count"),
        "spark.driver_ms_per_op" -> (driverMs.sum / nOps, "ms"),
        "spark.executor_cpu_ms_per_op" -> (opTasks.map(_.cpuNs).sum / 1e6 / nOps, "ms"),
        "spark.shuffle_bytes_per_op" -> (opTasks.map(_.shuffleBytes).sum / nOps, "B"),
        "spark.output_bytes_per_op" -> (opTasks.map(_.outputBytes).sum / nOps, "B"),
        "spark.spill_bytes_per_op" -> (opTasks.map(_.spillBytes).sum / nOps, "B"),
        "jvm.gc_ms_per_op" -> (ops.map(_.gcMs).sum / nOps, "ms"))
      writeTrace(ctx, args, e2e, layers, ops.size)
    }
    System.err.println(f"[lifebench] ${args.workload}: ${ops.size} ops, " +
      f"${timed.count(_.cat == "aux")} aux, ${timed.count(_.cat == "maint")} maint in $timedS%.2f s " +
      f"(${r - 1} rounds)")
    e2e.foreach { case (k, (v, u)) => System.err.println(f"[lifebench]   $k%-22s $v%.4f $u") }
    spark.sparkContext.removeSparkListener(work)
    if (args.trace) spark.listenerManager.unregister(plans)
    val metrics = if (args.trace) layers else e2e
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${ctx.correct}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Spans, self times and both metric sets of a traced run, as JSON. */
  private def writeTrace(ctx: Ctx, args: Args, e2e: collection.Map[String, (Double, String)],
      layers: collection.Map[String, (Double, String)], ops: Int): Unit = {
    if (args.traceOut.isEmpty) return
    val t = ctx.tracer.get
    def obj(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k": [${num(v)}, "$u"]""" }.mkString("{", ", ", "}")
    val spans = t.spans.map(s =>
      s"""[${s.id}, "${s.name}", ${s.t0Ns}, ${s.t1Ns}, ${s.parent}, ${s.op}]""").mkString(",\n  ")
    val self = t.selfTimes.map { case (n, c, tot, self) =>
      s""""$n": {"calls": $c, "total_ms": ${num(tot)}, "self_ms": ${num(self)}}""" }.mkString(",\n  ")
    val out = new java.io.PrintWriter(args.traceOut)
    try out.write(
      s"""{"workload": "${args.workload}", "seed": ${args.seed}, "ops": $ops,
         |"end_to_end": ${obj(e2e)},
         |"per_layer": ${obj(layers)},
         |"self_time": {
         |  $self},
         |"span_fields": ["id", "name", "start_ns", "end_ns", "parent", "op"],
         |"spans": [
         |  $spans]}
         |""".stripMargin)
    finally out.close()
  }
}
