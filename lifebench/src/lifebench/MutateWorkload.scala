package lifebench

import graft.table.{MergeClause, QbeastTable}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.collection.mutable

/**
 * A fixed rotation of row-level DML verbs on change-feed-enabled
 * indexed tables, one under copy-on-write and one under deletion
 * vectors. Each round starts both modes from a fresh `cloneTo` of their
 * base table, so the log and the vector count never grow from round to
 * round. `op` is one verb; `aux` reads that commit's change feed through
 * the streaming source, resumed from its checkpoint.
 */
final class MutateWorkload(ctx: Ctx, root: String) extends Workload {
  private val smoke = ctx.args.smoke
  private val batches = 2
  private val batchRows = if (smoke) 500 else 1000
  private val cubeSize = if (smoke) 100 else 200
  private val keyed = if (smoke) 5 else 10
  private val at = new Spread(ctx.rng)
  private val modes = Seq("cow", "dv")
  // batch 0 spans the indexed space and every later row falls inside
  // it, so the tables keep one revision whatever the seed
  private val base: Vector[R] = (0 until batches).flatMap { b =>
    Data.rows(ctx.rng, b.toLong * batchRows, batchRows, b, 0.0, if (b == 0) 100.0 else 95.0,
      edges = b == 0)
  }.toVector
  private var baseDir = ""
  private var nextId = base.size.toLong
  private var clones = Map.empty[String, String]
  private var live = Map.empty[String, Map[Long, R]]

  private def basePath(mode: String) = s"$baseDir/$mode"

  def setup(dir: String): Unit = {
    baseDir = dir
    // one append per batch: every file holds a single `b`, so a DELETE
    // on `b` is decided by file stats alone (metadata-only)
    modes.foreach { mode =>
      base.grouped(batchRows).zipWithIndex.foreach { case (batch, b) =>
        val df = Data.frame(ctx.spark, batch)
        ctx.build {
          df.write.format("qbeast").mode(if (b == 0) "overwrite" else "append")
            .option("columnsToIndex", "x,y").option("cubeSize", cubeSize.toString)
            .option("enableChangeDataFeed", "true")
            .option("deletionVectors", (mode == "dv").toString).save(basePath(mode))
        }
      }
    }
  }

  private def liveIds(mode: String, n: Int): Seq[Long] = {
    val ids = live(mode).keysIterator.toVector.sorted
    Seq.fill(n)(ids(ctx.rng.nextInt(ids.size))).distinct
  }

  /** An `x` range holding exactly `n` live rows, at a spread position:
   * every run's DELETE and UPDATE touch the same number of rows, so the
   * skew of `x` does not make one seed's verbs cheaper than another's.
   * The bounds fall halfway between neighbouring rows. */
  private def xSpan(mode: String, n: Int): Pred.Between = {
    val xs = live(mode).valuesIterator.map(_.x).toVector.sorted
    val i = 1 + (at.next() * (xs.size - n - 2)).toInt
    Pred.Between("x", (xs(i - 1) + xs(i)) / 2, (xs(i + n - 1) + xs(i + n)) / 2)
  }

  private def fresh(n: Int): Vector[R] = {
    val rs = Data.rows(ctx.rng, nextId, n, 1000, 0.0, 95.0)
    nextId += n
    rs
  }

  def round(r: Int): Unit = modes.foreach { mode =>
    val prev = clones.get(mode)
    val path = s"$root/r$r-$mode"
    Engine.rmrf(path)
    ctx.maint("clone")(QbeastTable.forPath(ctx.spark, basePath(mode)).cloneTo(path))
    prev.foreach(Engine.rmrf)
    prev.foreach(p => Engine.rmrf(p + ".ckpt"))
    clones += mode -> path
    live += mode -> base.map(x => x.id -> x).toMap
    val t = QbeastTable.forPath(ctx.spark, path)

    if (mode == "cow") {
      val kb = ctx.rng.nextInt(batches)
      dml(mode, "metadata_delete", s"b = $kb", Some(s"b = $kb"), _.filterNot(_._2.b == kb))(
        t.delete(s"b = $kb"))
    }

    val del = xSpan(mode, keyed)
    dml(mode, "delete", del.sql, Some(del.sql), _.filterNot(kv => del.test(kv._2)))(
      t.delete(del.sql))

    val upd = Pred.And(xSpan(mode, 4 * keyed), Pred.LongBetween("v", 0, 499999))
    dml(mode, "update", upd.sql, Some(upd.sql), _.map { case (k, x) =>
      k -> (if (upd.test(x)) x.copy(v = x.v + 1) else x)
    })(t.update(upd.sql, Map("v" -> "v + 1")))

    // upsert: existing keys with a new `v`, plus new keys
    val cur = live(mode)
    val ups = liveIds(mode, keyed).map(id => cur(id).copy(v = cur(id).v + 7)) ++ fresh(keyed)
    dml(mode, "upsert", s"${ups.size} rows", None, _ ++ ups.map(x => x.id -> x))(
      t.upsert(Data.frame(ctx.spark, ups), Seq("id")))

    // merge: matched rows take the source `v` when it is larger; unmatched insert
    val cur2 = live(mode)
    val mrg = liveIds(mode, keyed).map(id => cur2(id).copy(v = ctx.rng.nextInt(1000000).toLong)) ++
      fresh(keyed)
    dml(mode, "merge", s"${mrg.size} rows", None, mm => mm ++ mrg.flatMap { s =>
      mm.get(s.id) match {
        case Some(tg) => if (s.v > tg.v) Some(s.id -> tg.copy(v = s.v)) else None
        case None => Some(s.id -> s)
      }
    })(t.mergeOn(Data.frame(ctx.spark, mrg), Seq("id" -> "id"),
      matched = Seq(MergeClause(Some(col("__src_v") > col("v")), Some(Map("v" -> col("__src_v"))))),
      notMatched = Seq(MergeClause(None, Some(Data.columns.map(c => c -> col(c)).toMap))), notMatchedBySource = Nil))

    val gone = liveIds(mode, keyed)
    val goneRows = Data.frame(ctx.spark, gone.map(live(mode))).select("id")
    dml(mode, "delete_matched", s"${gone.size} keys", None, _ -- gone)(
      t.deleteMatched(goneRows, Seq("id")))

    // the table itself against the model, once per mode's rotation (each
    // verb's feed was already replayed against the model above)
    val got = Data.tableSum(ctx.table(path))
    val want = Data.sumOf(live(mode).values)
    ctx.check(got == want, s"$mode rotation: table $got, model $want")
  }

  /** Runs one verb, then reads its change feed and checks that the feed
   * turns the model's before-state into its after-state. */
  private def dml(mode: String, verb: String, what: String, filter: Option[String],
      expect: Map[Long, R] => Map[Long, R])(body: => Any): Unit = {
    val path = clones(mode)
    val before = live(mode)
    val after = expect(before)
    val snapBefore = if (ctx.args.trace) Engine.snapshot(ctx, path) else null
    filter.foreach(f => Engine.traceSelectFiles(ctx, ctx.table(path).filter(expr(f))))
    if (ctx.op(s"$verb/$mode")(body).isEmpty) return
    live += mode -> after
    val version = Engine.snapshot(ctx, path).version
    ctx.aux(s"cdf/$mode")(readFeed(path)).foreach { rows =>
      ctx.check(rows.forall(_.getAs[Long]("_commit_version") == version),
        s"$verb ($what): feed rows from versions other than $version")
      // self-check: a feed that lost one image
      val feed = if (ctx.args.fault && rows.nonEmpty) rows.drop(1) else rows
      val replay = Data.Bag.of(before.values)
      var ok = true
      feed.foreach { row =>
        val x = Data.fromRow(row)
        row.getAs[String]("_change_type") match {
          case "delete" => ok &&= replay.remove(x)
          case "insert" => replay.add(x)
          case other => ok = false
        }
      }
      ctx.check(ok && replay.sameAs(Data.Bag.of(after.values)),
        s"$verb ($what): before-state plus the ${feed.size}-row feed is not the after-state")
      ctx.sample("table.cdf_rows", rows.size)
    }
    if (ctx.args.trace) {
      Engine.traceSnapshot(ctx, path)
      Engine.traceCommit(ctx, "dml", snapBefore, Engine.snapshot(ctx, path))
    }
  }

  /** The change rows committed since the last read, through the
   * streaming source with `readChangeFeed`, resumed from the clone's
   * checkpoint (the clone's own version 0 is skipped). */
  private def readFeed(path: String): Seq[Row] = {
    val out = mutable.ArrayBuffer.empty[Row]
    val sink: (DataFrame, Long) => Unit = (df, _) => out ++= df.collect()
    val q = ctx.spark.readStream.format("qbeast")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(path)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", path + ".ckpt")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    out.toSeq
  }

  def footprint(): (Long, Long) = {
    val bytes = modes.map(m => Engine.du(basePath(m)) + Engine.du(clones(m))).sum
    (bytes, modes.map(live(_).size.toLong).sum)
  }

  def traceEnd(): Unit = {
    val path = clones("cow")
    val m = QbeastTable.forPath(ctx.spark, path).indexMetrics()
    ctx.sample("index.files", m.fileCount)
    ctx.sample("index.cubes", m.cubeCount)
    ctx.sample("index.height", m.height)
    val (commits, bytes, checkpoints) = Engine.logStats(path)
    ctx.sample("log.bytes_per_commit", bytes.toDouble / math.max(commits, 1))
    ctx.sample("log.checkpoints", checkpoints)
    // the loop itself never optimizes; time one on the final clone
    val before = Engine.snapshot(ctx, path)
    val t0 = System.nanoTime()
    ctx.span("table.optimize", QbeastTable.forPath(ctx.spark, path).optimize())
    ctx.sample("table.optimize_ms", (System.nanoTime() - t0) / 1e6)
    Engine.traceCommit(ctx, "optimize", before, Engine.snapshot(ctx, path))
  }
}

object MutateWorkload {

  /** Traced runs of the workloads whose loop runs no DML: each verb once
   * on the workload's own table after its timed phase, so every
   * per-layer verb latency is measured on every workload. `rows` are
   * live rows of the table; the `b = ` delete drops the batch of the
   * first one. */
  def probe(ctx: Ctx, path: String, rows: Seq[R]): Unit = {
    ctx.probe = true
    try {
      val t = QbeastTable.forPath(ctx.spark, path)
      val some = rows.take(10)
      ctx.op("delete/probe")(t.delete("x BETWEEN 10.0 AND 10.5"))
      ctx.op("update/probe")(t.update("y = 5 AND x BETWEEN 20.0 AND 30.0", Map("v" -> "v + 1")))
      ctx.op("upsert/probe")(
        t.upsert(Data.frame(ctx.spark, some.map(r => r.copy(v = r.v + 1))), Seq("id")))
      ctx.op("merge/probe")(t.mergeOn(Data.frame(ctx.spark, some.map(r => r.copy(v = r.v + 2))),
        Seq("id" -> "id"), matched = Seq(MergeClause(None, Some(Map("v" -> col("__src_v"))))),
        notMatched = Nil, notMatchedBySource = Nil))
      ctx.op("delete_matched/probe")(
        t.deleteMatched(Data.frame(ctx.spark, some).select("id"), Seq("id")))
      ctx.op("metadata_delete/probe")(t.delete(s"b = ${rows.head.b}"))
    } finally ctx.probe = false
  }
}
