package lifebench

/**
 * Seeded append batches into an existing indexed table. Each round is
 * five appends, the first of which extends the indexed range of `x`
 * (a new revision), then an `optimize` of the latest revision. `op` is
 * one append commit; `aux` counts the newest batch back by its id range,
 * on a snapshot the append just invalidated.
 */
final class IngestWorkload(ctx: Ctx) extends Workload {
  private val smoke = ctx.args.smoke
  private val batchRows = if (smoke) 500 else 1000
  private val initialBatches = if (smoke) 2 else 3
  private val cubeSize = if (smoke) 200 else 250
  private val perRound = 5
  // batch 0 spans the first revision's space; the other batches fall
  // inside it (x < 0.95·xMax), so only the planned batches add revisions
  private val initial: Vector[Vector[R]] = Vector.tabulate(initialBatches) { b =>
    Data.rows(ctx.rng, b.toLong * batchRows, batchRows, b, 0.0,
      if (b == 0) 100.0 else 95.0, edges = b == 0)
  }
  private var path = ""
  private var model = Data.emptySum
  private var nextBatch = 0
  private var xMax = 100.0
  private var checkpoints0 = 0

  def setup(dir: String): Unit = {
    path = s"$dir/table"
    initial.zipWithIndex.foreach { case (batch, b) =>
      val df = Data.frame(ctx.spark, batch)
      ctx.build {
        df.write.format("qbeast").mode(if (b == 0) "overwrite" else "append")
          .option("columnsToIndex", "x,y").option("cubeSize", cubeSize.toString)
          .option("bloomFilterColumns", "tag").save(path)
      }
    }
    model = Data.sumOf(initial.flatten)
    nextBatch = initialBatches
    xMax = 100.0
    checkpoints0 = Engine.logStats(path)._3
  }

  def round(r: Int): Unit = {
    (0 until perRound).foreach { i =>
      if (i == 0) xMax *= 1.25
      val b = nextBatch
      nextBatch += 1
      val batch =
        if (i == 0) Data.rows(ctx.rng, b.toLong * batchRows, batchRows, b, xMax * 0.8, xMax, edges = true)
        else Data.rows(ctx.rng, b.toLong * batchRows, batchRows, b, 0.0, xMax * 0.95)
      val df = Data.frame(ctx.spark, batch)
      val before = if (ctx.args.trace) Engine.snapshot(ctx, path) else null
      val ok = ctx.op("append") {
        df.write.format("qbeast").mode("append").save(path)
      }.isDefined
      if (ok) {
        model = model ++ batch
        val lo = batch.head.id
        val hi = batch.last.id
        val newest = ctx.table(path).filter(Pred.LongBetween("id", lo, hi).column)
        ctx.aux("count_newest")(newest.count()).foreach { n =>
          // self-check: a model that lost one row of the batch
          val expected = if (ctx.args.fault && r == 0 && i == 0) batchRows - 1 else batchRows
          ctx.check(n == expected, s"batch $b: counted $n rows, expected $expected")
        }
        val got = Data.tableSum(ctx.table(path))
        ctx.check(got == model, s"after batch $b: table $got, model $model")
        // traced figures are taken after the checks so they do not warm
        // the snapshot cache for the measured read
        if (ctx.args.trace) {
          Engine.traceSelectFiles(ctx, newest)
          Engine.traceSnapshot(ctx, path)
          Engine.traceCommit(ctx, "write", before, Engine.snapshot(ctx, path))
        }
      }
    }
    val before = if (ctx.args.trace) Engine.snapshot(ctx, path) else null
    val t0 = System.nanoTime()
    ctx.maint("optimize") {
      ctx.span("table.optimize", graft.table.QbeastTable.forPath(ctx.spark, path).optimize())
    }.foreach { _ =>
      ctx.sample("table.optimize_ms", (System.nanoTime() - t0) / 1e6)
      if (ctx.args.trace) Engine.traceCommit(ctx, "optimize", before, Engine.snapshot(ctx, path))
      val got = Data.tableSum(ctx.table(path))
      ctx.check(got == model, s"after optimize: table $got, model $model")
    }
  }

  def footprint(): (Long, Long) = (Engine.du(path), model.count)

  def traceEnd(): Unit = {
    val m = graft.table.QbeastTable.forPath(ctx.spark, path).indexMetrics()
    ctx.sample("index.files", m.fileCount)
    ctx.sample("index.cubes", m.cubeCount)
    ctx.sample("index.height", m.height)
    val (commits, bytes, checkpoints) = Engine.logStats(path)
    ctx.sample("log.bytes_per_commit", bytes.toDouble / math.max(commits, 1))
    ctx.sample("log.checkpoints", checkpoints - checkpoints0)
    MutateWorkload.probe(ctx, path, initial.head)
  }
}
