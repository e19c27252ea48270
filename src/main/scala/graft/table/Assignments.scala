package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.mutable

/**
 * UPDATE / MERGE SET assignment application, including struct-field
 * assignments (`SET s.x = ...`) — the Delta semantics the reference
 * inherits via `DeltaSparkSessionExtension`. Keys are top-level column
 * names or dot-separated struct paths; an exact top-level match wins, so
 * a column literally named `"a.b"` stays addressable. All right-hand
 * sides see the PRE-update row (standard SQL simultaneous assignment):
 * `withField` rewrites only the struct layout, its value expression is
 * evaluated against the original row.
 */
private[graft] object Assignments {

  /** Every target column of `schema` with `asgn` applied, each cast to
   * the (leaf) field's declared type and aliased back to the column
   * name — ready for a `select`. */
  def apply(schema: StructType, asgn: Map[String, Column]): Seq[Column] = {
    val topNames = schema.fieldNames
    def describe = s"table columns: ${topNames.mkString(", ")}"
    // classify keys: exact top-level assignment vs nested struct path
    val exact = mutable.HashMap.empty[String, Column]
    val nested = mutable.Buffer.empty[(String, Seq[String], Column)]
    asgn.foreach { case (key, e) =>
      if (topNames.exists(_.equalsIgnoreCase(key))) exact.update(key.toLowerCase, e)
      else {
        val parts = key.split('.').toSeq
        require(parts.size >= 2 && topNames.exists(_.equalsIgnoreCase(parts.head)),
          s"UPDATE/MERGE SET of unknown column $key ($describe)")
        nested += ((parts.head.toLowerCase, parts.tail, e))
      }
    }
    nested.foreach { case (top, _, _) =>
      require(!exact.contains(top),
        s"conflicting assignments: column $top is set both as a whole and by field")
    }
    schema.fields.toSeq.map { f =>
      val lower = f.name.toLowerCase
      exact.get(lower) match {
        case Some(e) => e.cast(f.dataType).as(f.name)
        case None =>
          val mine = nested.filter(_._1 == lower)
          if (mine.isEmpty) col(quoted(f.name))
          else mine.foldLeft(col(quoted(f.name))) { case (acc, (_, path, e)) =>
            setNested(acc, f.dataType, path, e, f.name)
          }.as(f.name)
      }
    }
  }

  /** `name` as a column reference, whatever characters it holds. */
  def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  /** Replace the field at `path` below `base` (of type `dt`) with
   * `value`, rebuilding each struct level via `withField` — no reliance
   * on dotted-name parsing, so field names containing dots are safe. */
  private def setNested(
      base: Column,
      dt: DataType,
      path: Seq[String],
      value: Column,
      context: String): Column = {
    val st = dt match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"cannot assign into $context of non-struct type ${other.simpleString}")
    }
    val field = st.fields.find(_.name.equalsIgnoreCase(path.head)).getOrElse(
      throw new IllegalArgumentException(
        s"UPDATE/MERGE SET of unknown field ${path.head} in struct $context " +
          s"(fields: ${st.fieldNames.mkString(", ")})"))
    path match {
      case Seq(_) => base.withField(quoted(field.name), value.cast(field.dataType))
      case _ +: rest =>
        base.withField(quoted(field.name),
          setNested(base.getField(field.name), field.dataType, rest, value,
            s"$context.${field.name}"))
    }
  }

}
