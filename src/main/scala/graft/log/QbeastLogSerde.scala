package graft.log

import graft.core.model._
import graft.core.transform._

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Actions recorded in the `_qbeast_log` commit log. The *logical*
 * metadata mirrors the reference's Delta-based format
 * (`docs/QbeastFormat.md:81-171`) without requiring Delta Lake: a
 * self-contained, versioned JSON-lines log. */
sealed trait LogAction
final case class MetaDataAction(schemaJson: String, configuration: Map[String, String])
    extends LogAction
final case class RevisionAction(revision: Revision) extends LogAction
final case class AddFileAction(file: IndexFile, dataChange: Boolean) extends LogAction
final case class RemoveFileAction(remove: RemoveFile) extends LogAction
final case class TxnAction(appId: String, version: Long) extends LogAction

/** Operation marker for DESCRIBE HISTORY (the Delta `commitInfo` shape):
 * records WHAT produced a commit (WRITE/OVERWRITE/DELETE/UPDATE/MERGE/
 * OPTIMIZE/RESTORE/...) so `history()` reports intent, not a guess from
 * add/remove counts. Pure metadata — snapshot replay ignores it. */
final case class CommitInfoAction(operation: String, timestamp: Long) extends LogAction

/** Change-data file reference (Delta's AddCDCFile shape): a parquet
 * directory under `_change_data/` holding the commit's net row changes
 * (table schema + `_change_type`), written by DML commits so the CDF
 * decoder ([[graft.cdf.ChangeFeed]], which serves batch `changes()` and
 * the streaming `readChangeFeed` mode) reads a plain file instead of
 * re-diffing the rewritten files. NOT part of the table content:
 * snapshot replay ignores it. `size` = total bytes, for streaming
 * admission control. */
final case class CdcFileAction(path: String, size: Long) extends LogAction

/** Attach (or replace) a deletion vector on a live data file: rows at
 * the DV's indexes are logically deleted without rewriting the file
 * (merge-on-read DELETE). `path` keys the data file (same relative
 * form as its add action), `dvPath` the vector file under
 * `_deletion_vectors/`, `cardinality` the masked row count (drives
 * metadata counts and rewrite decisions). An add or remove for `path`
 * clears the attachment — a rewritten file starts unmasked. */
final case class DvFileAction(path: String, dvPath: String, cardinality: Long)
  extends LogAction

object QbeastLogSerde {

  implicit private val formats: Formats = DefaultFormats

  // ---- transformations ----------------------------------------------------

  private def transformationToJson(t: Transformation): JValue = t match {
    case LinearTransformation(min, max, nul) =>
      ("type" -> "linear") ~ ("min" -> min) ~ ("max" -> max) ~ ("null" -> nul)
    case IdentityTransformation(v) =>
      ("type" -> "identity") ~ ("value" -> v)
    case HashTransformation(dt) =>
      ("type" -> "hashing") ~ ("dataType" -> dt)
    case CDFNumericQuantilesTransformation(qs) =>
      ("type" -> "quantiles_num") ~ ("quantiles" -> qs)
    case CDFStringQuantilesTransformation(qs) =>
      ("type" -> "quantiles_str") ~ ("quantiles" -> qs)
    case StringHistogramTransformation(hist) =>
      ("type" -> "histogram_str") ~ ("histogram" -> hist)
    case EmptyTransformation =>
      JObject("type" -> JString("empty"))
  }

  private def transformationFromJson(j: JValue): Transformation =
    (j \ "type").extract[String] match {
      case "linear" =>
        LinearTransformation((j \ "min").extract[Double], (j \ "max").extract[Double],
          (j \ "null").extract[Double])
      case "identity" => IdentityTransformation((j \ "value").extractOpt[Double])
      case "hashing" => HashTransformation((j \ "dataType").extract[String])
      case "quantiles_num" =>
        CDFNumericQuantilesTransformation((j \ "quantiles").extract[Vector[Double]])
      case "quantiles_str" =>
        CDFStringQuantilesTransformation((j \ "quantiles").extract[Vector[String]])
      case "histogram_str" =>
        StringHistogramTransformation((j \ "histogram").extract[Vector[String]])
      case "empty" => EmptyTransformation
      case other => throw new IllegalArgumentException(s"unknown transformation $other")
    }

  // ---- revisions ----------------------------------------------------------

  def revisionToJson(r: Revision): JValue =
    ("revisionID" -> r.revisionID) ~
      ("timestamp" -> r.timestamp) ~
      ("tableID" -> r.tableID) ~
      ("desiredCubeSize" -> r.desiredCubeSize) ~
      ("columnTransformers" -> r.columnTransformers.map(t =>
        ("column" -> t.columnName) ~ ("kind" -> t.kind) ~
          ("dataType" -> transformerDataType(t)))) ~
      ("transformations" -> r.transformations.map(transformationToJson))

  private def transformerDataType(t: Transformer): String = t match {
    case LinearTransformer(_, dt) => dt
    case HashTransformer(_, dt) => dt
    case QuantilesTransformer(_, dt) => dt
    case StringHistogramTransformer(_, dt) => dt
    case EmptyTransformer(_, dt) => dt
  }

  def revisionFromJson(j: JValue): Revision = {
    val transformers = (j \ "columnTransformers").extract[Vector[JValue]].map { tj =>
      Transformer.fromKind((tj \ "kind").extract[String], (tj \ "column").extract[String],
        (tj \ "dataType").extract[String])
    }
    Revision(
      (j \ "revisionID").extract[Long],
      (j \ "timestamp").extract[Long],
      (j \ "tableID").extract[String],
      (j \ "desiredCubeSize").extract[Int],
      transformers,
      (j \ "transformations").extract[Vector[JValue]].map(transformationFromJson))
  }

  // ---- files --------------------------------------------------------------

  private def blockToJson(b: Block): JValue =
    ("cube" -> b.cube.toString) ~
      ("minWeight" -> b.minWeight.value) ~
      ("maxWeight" -> b.maxWeight.value) ~
      ("elementCount" -> b.elementCount)

  def fileToJson(f: IndexFile, dataChange: Boolean): JValue =
    ("path" -> f.path) ~
      ("size" -> f.size) ~
      ("modificationTime" -> f.modificationTime) ~
      ("revisionId" -> f.revisionId) ~
      ("dataChange" -> dataChange) ~
      ("blocks" -> f.blocks.map(blockToJson)) ~
      ("stats" -> f.stats)

  def fileFromJson(j: JValue, dimensionsOf: Long => Int): IndexFile = {
    val revisionId = (j \ "revisionId").extract[Long]
    val dims = dimensionsOf(revisionId)
    val blocks = (j \ "blocks").extract[Vector[JValue]].map { bj =>
      Block(
        CubeId.fromString(math.max(dims, 1), (bj \ "cube").extract[String]),
        Weight((bj \ "minWeight").extract[Int]),
        Weight((bj \ "maxWeight").extract[Int]),
        (bj \ "elementCount").extract[Long])
    }
    IndexFile(
      (j \ "path").extract[String],
      (j \ "size").extract[Long],
      (j \ "modificationTime").extract[Long],
      revisionId,
      blocks,
      (j \ "stats").extractOpt[String])
  }

  // ---- actions ------------------------------------------------------------

  def actionToJsonLine(a: LogAction): String = {
    val j: JValue = a match {
      case MetaDataAction(schema, conf) =>
        JObject("metaData" -> (("schemaString" -> schema) ~ ("configuration" -> conf)))
      case RevisionAction(r) => JObject("revision" -> revisionToJson(r))
      case AddFileAction(f, dc) => JObject("add" -> fileToJson(f, dc))
      case RemoveFileAction(r) =>
        JObject("remove" ->
          (("path" -> r.path) ~ ("deletionTimestamp" -> r.deletionTimestamp) ~
            ("size" -> r.size)))
      case TxnAction(appId, version) =>
        JObject("txn" -> (("appId" -> appId) ~ ("version" -> version)))
      case CommitInfoAction(op, ts) =>
        JObject("commitInfo" -> (("operation" -> op) ~ ("timestamp" -> ts)))
      case CdcFileAction(path, size) =>
        JObject("cdc" -> (("path" -> path) ~ ("size" -> size)))
      case DvFileAction(path, dvPath, card) =>
        JObject("dv" ->
          (("path" -> path) ~ ("dvPath" -> dvPath) ~ ("card" -> card)))
    }
    JsonMethods.compact(JsonMethods.render(j))
  }

  /** Thread-safe for readTree; snapshot replay parses up to millions of
   * add lines, so the hot path below uses Jackson's tree API directly
   * instead of json4s reflection (measured 3-4x faster at 1e6 files —
   * tools/MetaScaleProbe). */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse one JSON line. Revisions must be resolvable before files, so
   * callers replay lines in order with a growing revision map. */
  def parseLine(line: String, dimensionsOf: Long => Int): LogAction = {
    val root = mapper.readTree(line)
    val add = root.get("add")
    if (add != null) {
      val revisionId = add.get("revisionId").asLong()
      val dims = math.max(dimensionsOf(revisionId), 1)
      val blocks = Vector.newBuilder[Block]
      val it = add.get("blocks").elements()
      while (it.hasNext) {
        val b = it.next()
        blocks += Block(
          CubeId.fromString(dims, b.get("cube").asText()),
          Weight(b.get("minWeight").asInt()),
          Weight(b.get("maxWeight").asInt()),
          b.get("elementCount").asLong())
      }
      val stats = add.get("stats")
      return AddFileAction(
        IndexFile(
          add.get("path").asText(),
          add.get("size").asLong(),
          add.get("modificationTime").asLong(),
          revisionId,
          blocks.result(),
          if (stats == null || stats.isNull) None else Some(stats.asText())),
        if (add.has("dataChange")) add.get("dataChange").asBoolean() else true)
    }
    val rm = root.get("remove")
    if (rm != null)
      return RemoveFileAction(RemoveFile(rm.get("path").asText(),
        rm.get("deletionTimestamp").asLong(),
        if (rm.has("size")) rm.get("size").asLong() else 0L))
    val txn = root.get("txn")
    if (txn != null)
      return TxnAction(txn.get("appId").asText(), txn.get("version").asLong())
    val ci = root.get("commitInfo")
    if (ci != null)
      return CommitInfoAction(ci.get("operation").asText(), ci.get("timestamp").asLong())
    val cdc = root.get("cdc")
    if (cdc != null)
      return CdcFileAction(cdc.get("path").asText(), cdc.get("size").asLong())
    val dv = root.get("dv")
    if (dv != null)
      return DvFileAction(dv.get("path").asText(), dv.get("dvPath").asText(),
        dv.get("card").asLong())
    val md = root.get("metaData")
    if (md != null) {
      val conf = Map.newBuilder[String, String]
      val cfg = md.get("configuration")
      if (cfg != null && !cfg.isNull) {
        val fields = cfg.properties().iterator()
        while (fields.hasNext) {
          val e = fields.next()
          conf += e.getKey -> e.getValue.asText()
        }
      }
      return MetaDataAction(md.get("schemaString").asText(), conf.result())
    }
    // rare, cold actions keep the json4s path
    (JsonMethods.parse(line) \ "revision") match {
      case JNothing =>
      case r => return RevisionAction(revisionFromJson(r))
    }
    throw new IllegalArgumentException(s"unknown log action: $line")
  }

}
