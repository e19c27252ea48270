package graft.cdf

import graft.core.model.{ColumnMapping, TypeWidening}
import graft.log.{AddFileAction, CdcFileAction, DvFileAction, LogAction, MetaDataAction, RemoveFileAction}
import graft.write.DeletionVectors

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One admissible piece of a commit's change feed. `bytes` budgets
 * streaming admission: the file size the log recorded (0 for a vector
 * delta, whose action records none, and for pre-size log lines). */
sealed trait FeedUnit extends Product with Serializable {
  def version: Long
  def bytes: Long
}

object FeedUnit {

  /** A persisted `_change_data` directory: its rows are the feed. */
  final case class ChangeFile(version: Long, path: String, bytes: Long) extends FeedUnit

  /** An added data file: its rows outside its own `mask` (a RESTORE
   * re-attaching a vector) are inserts. A file re-added while live
   * under the vector `liveBefore` (a RESTORE clearing it) inserts only
   * the rows that vector masked; its other rows never left. */
  final case class Inserted(
      version: Long,
      path: String,
      bytes: Long,
      mask: Option[String],
      liveBefore: Option[String]) extends FeedUnit

  /** A removed data file: its rows live before the commit (outside
   * `mask`) are deletes. */
  final case class Removed(version: Long, path: String, bytes: Long, mask: Option[String])
      extends FeedUnit

  /** A kept file's vector moving from `before` to `after`: newly masked
   * rows are deletes, rows a RESTORE unmasked are inserts. */
  final case class VectorDelta(version: Long, path: String, before: Option[String], after: String)
      extends FeedUnit {
    def bytes: Long = 0L
  }

  /** A commit that removes and adds data files without a change file
   * (copy-on-write DML, RESTORE): the signed net of its removed and
   * inserted rows, which cancels the rows a rewrite copied unchanged,
   * plus its vector deltas. Both sides are read together, so the unit
   * is admitted whole. */
  final case class Diff(version: Long, parts: Seq[FeedUnit]) extends FeedUnit {
    def bytes: Long = parts.map(_.bytes).sum
  }

}

/** What a commit does to the table's rows, as seen by a reader of added
 * files only (the plain stream's delete and rewrite guards). */
sealed trait Shape

object Shape {
  /** Layout-only (optimize, compaction) or metadata-only. */
  case object Unchanged extends Shape
  case object Append extends Shape
  /** Deletion vectors only. */
  case object DvDelete extends Shape
  /** Deletion vectors plus added rows (merge-on-read UPDATE, upsert). */
  case object DvRewrite extends Shape
  /** Removed files, no added rows. */
  case object Delete extends Shape
  /** Removed files plus added rows. */
  case object Rewrite extends Shape
}

/** One decoded commit: its shape, its feed units, its data-adding files
 * (path, size) in commit order, the schema it set, if any, and its
 * changes to the deletion-vector state, by data-file name (`None`
 * clears a file's vector). */
final case class Commit(
    version: Long,
    shape: Shape,
    units: Seq[FeedUnit],
    dataAdds: Seq[(String, Long)],
    schema: Option[StructType],
    dvChanges: Seq[(String, Option[String])]) {

  /** The deletion-vector state (data-file name → vector path) after
   * this commit, given the state before it. */
  def advance(dvs: Map[String, String]): Map[String, String] =
    dvChanges.foldLeft(dvs) {
      case (m, (name, Some(dv))) => m.updated(name, dv)
      case (m, (name, None)) => m - name
    }

}

/**
 * The change-data feed (CDF), decoded once for both of its readers:
 * batch [[graft.table.QbeastTable.changes]] unions the units of every
 * commit in its range, advancing the deletion-vector state commit by
 * commit, and the streaming source's `readChangeFeed` mode admits the
 * same units under its file and byte budget. [[decode]] maps one
 * commit's actions and the vectors live just before it to units;
 * [[Reader.frame]] reads units as rows: the table columns,
 * `_change_type` ('insert' | 'delete') and `_commit_version`.
 *
 * A commit that persisted its change data reads it. Otherwise the feed
 * comes from the commit's file diff, at O(rows in the files it touched),
 * never O(table). Layout-only commits (adds with `dataChange = false`)
 * and metadata-only commits emit nothing, as in Delta's CDF.
 */
object ChangeFeed {

  import FeedUnit._

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  /** Metadata columns the feed appends to the table schema. */
  val CdfColumns: Set[String] = Set(ChangeType, CommitVersion)

  private val changeTypeField = StructField(ChangeType, StringType, nullable = false)

  /** The feed's schema over the table schema `base`. */
  def withCdfColumns(base: StructType): StructType = StructType(base.fields ++ Seq(
    changeTypeField, StructField(CommitVersion, LongType, nullable = false)))

  private def nameOf(path: String): String = new Path(path).getName

  private def quoted(c: String) = col("`" + c.replace("`", "``") + "`")

  /**
   * Commit `version` as feed units. `dvBefore` gives a data file's
   * vector just before the commit, by file name; it is asked only when
   * the commit carries no change file. A dv action on a file the same
   * commit adds (a RESTORE resurrecting a file that was masked at its
   * target) is that add's own mask, not a vector delta: the file was
   * dead before, so its masked rows were never inserted.
   */
  def decode(
      version: Long,
      actions: Seq[LogAction],
      dvBefore: String => Option[String]): Commit = {
    val added = actions.collect { case AddFileAction(f, dataChange) => (f.path, f.size, dataChange) }
    val dataAdds = added.collect { case (p, size, true) => (p, size) }
    val removes = actions.collect { case RemoveFileAction(r) => (r.path, r.size) }
    val dvActs = actions.collect { case d: DvFileAction => d }
    val changeFiles = actions.collect { case CdcFileAction(p, size) => ChangeFile(version, p, size) }
    val shape =
      if (dvActs.nonEmpty && dataAdds.isEmpty && removes.isEmpty) Shape.DvDelete
      else if (dvActs.nonEmpty && dataAdds.nonEmpty) Shape.DvRewrite
      else if (removes.nonEmpty && dataAdds.nonEmpty) Shape.Rewrite
      else if (removes.nonEmpty && added.isEmpty) Shape.Delete
      else if (dataAdds.nonEmpty) Shape.Append
      else Shape.Unchanged
    val units: Seq[FeedUnit] =
      if (changeFiles.nonEmpty) changeFiles
      else if (shape == Shape.Unchanged) Nil
      else {
        val addNames = dataAdds.map(a => nameOf(a._1)).toSet
        val (ownDvs, deltaDvs) = dvActs.partition(d => addNames.contains(nameOf(d.path)))
        val ownMask = ownDvs.map(d => nameOf(d.path) -> d.dvPath).toMap
        val removed = removes.map { case (p, size) => Removed(version, p, size, dvBefore(nameOf(p))) }
        val inserted = dataAdds.map { case (p, size) =>
          Inserted(version, p, size, ownMask.get(nameOf(p)), dvBefore(nameOf(p)))
        }
        val deltas = deltaDvs.map(d =>
          VectorDelta(version, d.path, dvBefore(nameOf(d.path)), d.dvPath))
        // at most one of removed and inserted is non-empty outside a diff
        if (removed.nonEmpty && inserted.nonEmpty) Seq(Diff(version, removed ++ inserted ++ deltas))
        else removed ++ inserted ++ deltas
      }
    val schema = actions.collectFirst {
      case MetaDataAction(json, _) if json.nonEmpty =>
        DataType.fromJson(json).asInstanceOf[StructType]
    }
    val dvChanges = actions.collect {
      case AddFileAction(f, _) => nameOf(f.path) -> None
      case RemoveFileAction(r) => nameOf(r.path) -> None
      case DvFileAction(p, dv, _) => nameOf(p) -> Some(dv)
    }
    Commit(version, shape, units, dataAdds, schema, dvChanges)
  }

  /** The type-widening era guard: refuses, with `refuse`'s message for
   * the written and the reading field, when a column of `written` is
   * read by `read` as a type it cannot upcast to (a RESTORE rolled the
   * schema back past a widening). */
  def requireUpcast(written: StructType, read: StructType)(
      refuse: (StructField, StructField) => String): Unit =
    written.fields.foreach { f =>
      val phys = ColumnMapping.physicalName(f)
      read.fields.find(e => ColumnMapping.physicalName(e).equalsIgnoreCase(phys)).foreach { e =>
        if (e.dataType != f.dataType && !TypeWidening.canWiden(f.dataType, e.dataType))
          throw new UnsupportedOperationException(refuse(f, e))
      }
    }

  /** The multiset net of `feed` (rows plus `_change_type`): an insert
   * and a delete of the same row cancel, and each row left is repeated
   * by its net count. One signed group-by, Spark's own EXCEPT ALL
   * rewrite, gives both sides. */
  def net(feed: DataFrame): DataFrame = {
    val taken = feed.columns.map(_.toLowerCase).toSet
    val n = Iterator.iterate("__net")(_ + "_").dropWhile(c => taken.contains(c.toLowerCase)).next()
    val keys = feed.columns.toSeq.filterNot(_ == ChangeType).map(quoted)
    feed.groupBy(keys: _*)
      .agg(sum(when(col(ChangeType) === "insert", 1L).otherwise(-1L)).as(n))
      .filter(col(n) =!= 0L)
      .select(keys :+ when(col(n) > 0L, lit("insert")).otherwise(lit("delete")).as(ChangeType) :+
        explode(sequence(lit(1L), abs(col(n)))).as(n): _*)
      .drop(n)
  }

  /**
   * Reads feed units of the table at `tablePath` under `schema`.
   * Vectors load lazily on executors and files may be gone behind
   * `vacuum`, so [[frame]] first checks that every file and vector it
   * will read exists, with one listing per directory, and fails with
   * `vacuumed`'s exception naming the first one missing.
   */
  final class Reader(
      spark: SparkSession,
      tablePath: String,
      conf: Configuration,
      schema: StructType,
      vacuumed: String => Exception) {

    private val outSchema = withCdfColumns(schema)
    private val outCols = outSchema.fieldNames.toSeq.map(quoted)

    /** The feed rows of `units`, one frame per commit and unit kind. */
    def frame(units: Seq[FeedUnit]): DataFrame = {
      requireAllExist(units.flatMap(reads))
      units.groupBy(_.version).toSeq.sortBy(_._1).flatMap { case (v, us) =>
        rowsOf(us).map(_.withColumn(CommitVersion, lit(v)).select(outCols: _*))
      }.reduceOption(_ union _).getOrElse(
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema))
    }

    /** (version, what, relative path) of every file and vector a unit reads. */
    private def reads(u: FeedUnit): Seq[(Long, String, String)] = {
      def vectors(dvs: Option[String]*) = dvs.flatten.map(p => (u.version, "deletion vector", p))
      u match {
        case ChangeFile(v, p, _) => Seq((v, "change file", p))
        case Inserted(v, p, _, mask, live) => (v, "file", p) +: vectors(mask, live)
        case Removed(v, p, _, mask) => (v, "file", p) +: vectors(mask)
        case VectorDelta(v, p, before, after) => (v, "file", p) +: vectors(before, Some(after))
        case Diff(_, parts) => parts.flatMap(reads)
      }
    }

    private def requireAllExist(paths: Seq[(Long, String, String)]): Unit = {
      val fs = new Path(tablePath).getFileSystem(conf)
      paths.groupBy(p => new Path(tablePath, p._3).getParent).foreach { case (dir, ps) =>
        val present: Set[String] =
          try fs.listStatus(dir).iterator.map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        ps.find(p => !present.contains(nameOf(p._3))).foreach { case (v, what, p) =>
          throw vacuumed(s"$what $p of commit $v was vacuumed — this range cannot be replayed")
        }
      }
    }

    private def read(paths: Seq[String]): DataFrame =
      ColumnMapping.readParquet(spark, schema, paths.map(p => new Path(tablePath, p).toString))

    private def probe(masks: Seq[(String, String)]) =
      DeletionVectors.probeCol(tablePath, masks.map { case (p, dv) => nameOf(p) -> dv }.toMap, conf)

    private def masked(masks: Seq[(String, String)], df: DataFrame): DataFrame =
      DeletionVectors.maskWith(tablePath,
        masks.map { case (p, dv) => nameOf(p) -> dv }.toMap, conf, df)

    private def tagged(df: DataFrame, kind: String) = df.withColumn(ChangeType, lit(kind))

    /** One commit's units as rows (table columns plus `_change_type`). */
    private def rowsOf(us: Seq[FeedUnit]): Seq[DataFrame] = {
      val changeFiles = us.collect { case c: ChangeFile => new Path(tablePath, c.path).toString }
      val removed = us.collect { case r: Removed => r }
      val (fresh, reAdded) = us.collect { case i: Inserted => i }.partition(_.liveBefore.isEmpty)
      val deltas = us.collect { case d: VectorDelta => d }
      // change files are keyed by physical names (stable across renames)
      val fromChangeFiles = if (changeFiles.isEmpty) None
        else Some(ColumnMapping.readParquetWith(spark, schema, Seq(changeTypeField), changeFiles))
      val deletes = if (removed.isEmpty) None else Some(tagged(
        masked(removed.flatMap(r => r.mask.map(r.path -> _)), read(removed.map(_.path))), "delete"))
      val inserts = if (fresh.isEmpty) None else Some(tagged(
        masked(fresh.flatMap(i => i.mask.map(i.path -> _)), read(fresh.map(_.path))), "insert"))
      val resurrected = if (reAdded.isEmpty) None else Some(tagged(
        masked(reAdded.flatMap(i => i.mask.map(i.path -> _)),
          read(reAdded.map(_.path)).filter(probe(reAdded.map(i => i.path -> i.liveBefore.get)))),
        "insert"))
      val diffs = us.flatMap {
        case Diff(_, parts) =>
          val (ds, sides) = parts.partition(_.isInstanceOf[VectorDelta])
          net(rowsOf(sides).reduce(_ union _)) +: rowsOf(ds)
        case _ => Nil
      }
      Seq(fromChangeFiles, deletes, inserts, resurrected).flatten ++ deltaRows(deltas) ++ diffs
    }

    /** Rows the vectors newly mask are deletes. Ordinary DML only grows
     * a vector, and old ⊆ new (driver-side, over the cached sorted
     * index arrays) proves the insert side empty: only files a RESTORE
     * shrank pay the second scan. */
    private def deltaRows(deltas: Seq[VectorDelta]): Seq[DataFrame] =
      if (deltas.isEmpty) Nil
      else {
        val after = probe(deltas.map(d => d.path -> d.after))
        val before = deltas.flatMap(d => d.before.map(d.path -> _))
        val rows = read(deltas.map(_.path))
        if (before.isEmpty) Seq(tagged(rows.filter(after), "delete"))
        else {
          val was = probe(before)
          val shrunk = deltas.filter(d => d.before.exists(b => !DeletionVectors.subsetOf(
            DeletionVectors.cached(tablePath, conf, b), DeletionVectors.cached(tablePath, conf, d.after))))
          tagged(rows.filter(after && !was), "delete") +: (
            if (shrunk.isEmpty) Nil
            else Seq(tagged(read(shrunk.map(_.path)).filter(was && !after), "insert")))
        }
      }

  }

}
