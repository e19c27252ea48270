package lifebench

import org.apache.spark.sql.functions._

/**
 * Read-only loop over a pre-built, compacted indexed table with two
 * revisions, hundreds of files and a bloom-filtered column. `op` is a
 * filtered aggregate; `aux` a sampled query. Set-up does the writing, so
 * the loop exercises planning, file selection and the scan with a warm
 * snapshot cache.
 */
final class QueryWorkload(ctx: Ctx) extends Workload {
  private val smoke = ctx.args.smoke
  private val batchRows = if (smoke) 1500 else 6000
  private val cubeSize = if (smoke) 100 else 60
  // the first batch covers x in [0, 60); the second reaches 100, which
  // the first revision's space does not hold: a second revision
  private val rows: Vector[R] = Seq(60.0, 100.0).zipWithIndex.flatMap { case (xMax, b) =>
    Data.rows(ctx.rng, b.toLong * batchRows, batchRows, b, 0.0, xMax)
  }.toVector
  private val at = new Spread(ctx.rng)
  private val xs = rows.map(_.x).sorted.toArray
  private val ts = rows.map(_.t).sorted.toArray
  private var path = ""

  def setup(dir: String): Unit = {
    path = s"$dir/table"
    rows.grouped(batchRows).zipWithIndex.foreach { case (batch, b) =>
      val df = Data.frame(ctx.spark, batch)
      ctx.build {
        df.write.format("qbeast").mode(if (b == 0) "overwrite" else "append")
          .option("columnsToIndex", "x,y").option("cubeSize", cubeSize.toString)
          .option("bloomFilterColumns", "tag").save(path)
      }
    }
    val t = graft.table.QbeastTable.forPath(ctx.spark, path)
    t.revisionIDs.filter(_ > 0).foreach { rid =>
      val before = Engine.snapshot(ctx, path)
      val t0 = System.nanoTime()
      ctx.build(ctx.span("table.optimize", t.optimize(rid)))
      ctx.sample("table.optimize_ms", (System.nanoTime() - t0) / 1e6)
      Engine.traceCommit(ctx, "optimize", before, Engine.snapshot(ctx, path))
    }
  }

  /** Ranges that hold a fixed share of the rows at a spread position,
   * so the skew of `x` does not make one seed's queries cheaper. */
  private def start(share: Double): (Int, Int) = {
    val n = (share * rows.size).toInt
    (1 + (at.next() * (rows.size - n - 2)).toInt, n)
  }
  private def xRange(share: Double): Pred.Between = {
    val (i, n) = start(share)
    Pred.Between("x", (xs(i - 1) + xs(i)) / 2, (xs(i + n - 1) + xs(i + n)) / 2)
  }
  private def tRange(share: Double): Pred.LongBetween = {
    val (i, n) = start(share)
    Pred.LongBetween("t", ts(i), ts(i + n))
  }

  /** The op mix, one of each per round: a range on an indexed column,
   * an equality plus a range on indexed columns, a range on the
   * non-indexed `t` (min/max pruning), and a bloom-probe equality. */
  private def predicates(): Seq[(String, Pred)] = Seq(
    "range" -> xRange(0.02),
    "eq_range" -> Pred.And(Pred.IntEq("y", ctx.rng.nextInt(3)), xRange(0.3)),
    "minmax" -> tRange(0.02),
    "bloom" -> Pred.TagEq(rows(ctx.rng.nextInt(rows.size)).tag))

  def round(r: Int): Unit = {
    predicates().zipWithIndex.foreach { case ((kind, p), i) =>
      val df = ctx.table(path).filter(p.column)
        .agg(count(lit(1)), coalesce(sum("v"), lit(0L)), min("id"), max("id"))
      ctx.op(kind)(df.head()).foreach { got =>
        var expected = rows.filter(p.test)
        // self-check: expect one matching row too few
        if (ctx.args.fault && i == 0 && r == 0) expected = expected.drop(1)
        val ids = expected.map(_.id)
        ctx.check(got.getLong(0) == expected.size && got.getLong(1) == expected.map(_.v).sum &&
          (expected.isEmpty || (got.getLong(2) == ids.min && got.getLong(3) == ids.max)),
          s"$kind ${p.sql}: got $got, expected ${expected.size} rows")
      }
      Engine.traceSelectFiles(ctx, df)
      Engine.traceSnapshot(ctx, path)
    }
    sampled(r)
  }

  /** Sampled queries over one filter at growing fractions, then the
   * whole table, then the first fraction again. Checks: size within a
   * binomial bound of f·N, subset of the full answer, nested across
   * fractions, identical when repeated, fewer files than unsampled. */
  private def sampled(r: Int): Unit = {
    val filter = xRange(0.3)
    val full = rows.filter(filter.test).map(_.id).toSet
    val unsampled = ctx.table(path).filter(filter.column).select("id")
    unsampled.collect()
    val unsampledFiles = Engine.filesRead(unsampled)
    val allRows = ctx.table(path).select("id")
    allRows.collect()
    val allFiles = Engine.filesRead(allRows)
    var prev = Set.empty[Long]
    var first = Set.empty[Long]
    Seq((0.02, true), (0.1, true), (0.3, true), (0.1, false), (0.02, true)).zipWithIndex.foreach {
      case ((f, filtered), i) =>
        val base = if (filtered) ctx.table(path).filter(filter.column) else ctx.table(path)
        val ds = base.sample(f).select("id")
        ctx.aux(s"sample_$f")(ds.collect().map(_.getLong(0)).toSet).foreach { got =>
          val n = if (filtered) full.size else rows.size
          // self-check: expect twice the largest fraction
          val fe = if (ctx.args.fault && i == 2 && r == 0) 2 * f else f
          val bound = 5 * math.sqrt(n * fe * (1 - fe)) + 5
          ctx.check(math.abs(got.size - fe * n) <= bound,
            s"sample($f) of $n rows returned ${got.size}, outside ${fe * n} ± $bound")
          val files = Engine.filesRead(ds)
          val baseFiles = if (filtered) unsampledFiles else allFiles
          ctx.check(files < baseFiles, s"sample($f) read $files files, unsampled $baseFiles")
          ctx.sample("rules.sample_files_ratio", files.toDouble / baseFiles)
          if (filtered) {
            ctx.check(got.subsetOf(full), s"sample($f) returned rows outside the filter")
            if (i == 0) first = got
            else if (i == 4) ctx.check(got == first, s"sample($f) differs when repeated")
            else ctx.check(prev.subsetOf(got), s"sample($f) does not contain the smaller sample")
            prev = got
          }
        }
    }
  }

  def footprint(): (Long, Long) = (Engine.du(path), rows.size.toLong)

  def traceEnd(): Unit = {
    val m = graft.table.QbeastTable.forPath(ctx.spark, path).indexMetrics()
    ctx.sample("index.files", m.fileCount)
    ctx.sample("index.cubes", m.cubeCount)
    ctx.sample("index.height", m.height)
    val (commits, bytes, checkpoints) = Engine.logStats(path)
    ctx.sample("log.bytes_per_commit", bytes.toDouble / math.max(commits, 1))
    ctx.sample("log.checkpoints", checkpoints)
    MutateWorkload.probe(ctx, path, rows.takeRight(batchRows))
  }
}
