package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumnSpec, AlterColumns, Assignment, DeleteFromTable, DropColumns, LogicalPlan, RenameColumn, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.LongType

import graft.ops.RowLevel
import graft.table.GraftTable

/**
 * SQL DELETE / UPDATE over graft tables — rounding out the DML surface
 * (the reference's delete path is S9's key/pattern delete,
 * `adapter/HBaseTargetAdapter.java:124-196`):
 *
 * {{{
 *   DELETE FROM graft.`/path` WHERE lang = 'und'
 *   UPDATE graft.`/path` SET text = concat(text, '!'), lang = 'en' WHERE lang = 'mis'
 * }}}
 *
 * Same early-batch interception as [[GraftMergeRule]]; both plan into
 * [[graft.ops.RowLevel.where]] in the table's write mode
 * (`write.delete.mode` / `write.update.mode`, Iceberg's properties):
 * copy-on-write rewrites the metadata-pruned touched files, merge-on-read
 * records deletion vectors (plus appended images for an UPDATE) and
 * rewrites none. Conditions and assignment values may reference table
 * columns (qualifiers are stripped and the expressions resolve against the
 * table scan at run time).
 */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case d @ DeleteFromTable(target, condition) if graftPath(target).isDefined =>
      val _ = d
      GraftDeleteCommand(graftPath(target).get, ExprHolder(strip(condition)))
    case u: UpdateTable if graftPath(u.table).isDefined =>
      val sets = u.assignments.map {
        case Assignment(k: UnresolvedAttribute, v) => k.nameParts.last -> ExprHolder(strip(v))
        case Assignment(k, _) =>
          throw new IllegalArgumentException(s"graft UPDATE: unsupported assignment target $k")
      }
      GraftUpdateCommand(graftPath(u.table).get, sets,
        ExprHolder(strip(u.condition.getOrElse(Literal.TrueLiteral))))
    case a @ AddColumns(child, cols) if graftTablePath(child).isDefined =>
      val fields = cols.map { c =>
        if (c.position.nonEmpty)
          throw new IllegalArgumentException("graft ADD COLUMNS: FIRST/AFTER positions are not supported (columns append)")
        if (c.default.nonEmpty)
          throw new IllegalArgumentException("graft ADD COLUMNS: DEFAULT values are not supported")
        if (!c.nullable)
          throw new IllegalArgumentException(
            s"graft ADD COLUMNS: ${c.colName} must be nullable — existing files have no values for it")
        val parent = c.path.map(pathOf(_, "ADD COLUMNS"))
        parent -> org.apache.spark.sql.types.StructField(c.colName, c.dataType,
          nullable = true, metadata = c.comment.map(cm =>
            new org.apache.spark.sql.types.MetadataBuilder().putString("comment", cm).build())
            .getOrElse(org.apache.spark.sql.types.Metadata.empty))
      }
      val _ = a
      GraftAddColumnsCommand(graftTablePath(child).get, fields)
    case r @ RenameColumn(child, colField, newName) if graftTablePath(child).isDefined =>
      val _ = r
      GraftRenameColumnCommand(graftTablePath(child).get, pathOf(colField, "RENAME COLUMN"), newName)
    case ac @ AlterColumns(child, specs) if graftTablePath(child).isDefined =>
      val _ = ac
      val widens = specs.map {
        case AlterColumnSpec(colField, Some(dt), nullab, comment, pos, default, _) =>
          if (nullab.nonEmpty || comment.nonEmpty || pos.nonEmpty || default.nonEmpty)
            throw new IllegalArgumentException(
              "graft ALTER COLUMN: only TYPE widening is supported (no nullability/comment/position/default)")
          (pathOf(colField, "ALTER COLUMN"), dt)
        case other => throw new IllegalArgumentException(
          s"graft ALTER COLUMN: only ALTER COLUMN <c> TYPE <wider-type> is supported, got $other")
      }
      GraftWidenColumnsCommand(graftTablePath(child).get, widens)
    case d @ DropColumns(child, cols, ifExists) if graftTablePath(child).isDefined =>
      val _ = d
      if (ifExists)
        throw new IllegalArgumentException("graft DROP COLUMN: IF EXISTS is not supported")
      GraftDropColumnsCommand(graftTablePath(child).get,
        cols.map(pathOf(_, "DROP COLUMN")))
  }

  /** Join a (possibly nested) field reference into the dotted-path form the
    * evolution methods resolve — `meta.author` walks the struct, a quoted
    * literal top-level name containing a dot wins at resolution time. */
  private def pathOf(f: org.apache.spark.sql.catalyst.analysis.FieldName, what: String): String =
    f match {
      case UnresolvedFieldName(parts) if parts.nonEmpty => parts.mkString(".")
      case other => throw new IllegalArgumentException(
        s"graft $what: unsupported column reference $other")
    }

  private def graftPath(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, child) => graftPath(child)
    case u: UnresolvedRelation
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(u.multipartIdentifier(1))
    case _ => None
  }

  private def graftTablePath(p: LogicalPlan): Option[String] = p match {
    case t: UnresolvedTable
        if t.multipartIdentifier.length == 2 &&
          t.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(t.multipartIdentifier(1))
    case _ => None
  }

  private def strip(e: Expression): Expression = e.transformUp {
    case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
  }
}

/** `ALTER TABLE graft.… ADD COLUMNS (…)` — schema evolution through
  * [[GraftTable.addColumn]] / [[GraftTable.addField]] (old files read the
  * new column as NULL). A dotted name (`meta.extra DOUBLE`) adds a field
  * INSIDE the named struct. */
case class GraftAddColumnsCommand(
    path: String,
    fields: Seq[(Option[String], org.apache.spark.sql.types.StructField)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    val table = GraftTable.load(session, path)
    fields.foreach {
      case (None, f) => table.addColumn(f)
      case (Some(parent), f) =>
        table.addField(GraftDml.canonicalColumn(session, table, parent), f)
    }
    Seq.empty
  }
}

private[sql] object GraftDml {
  /** One DELETE (`set` None) or UPDATE statement on the table at `path`,
    * in the write mode its property `modeProp` names: the committed
    * snapshot's id, the current one when nothing matched, no row on an
    * empty table. */
  def where(session: SparkSession, path: String, modeProp: String, cond: Column,
      set: Option[Map[String, Column]]): Seq[Row] = {
    val table = GraftTable.load(session, path)
    val md = table.metadata
    md.currentSnapshot.toSeq.map { current =>
      val mor = md.properties.get(modeProp).contains(RowLevel.MergeOnRead)
      Row(RowLevel.where(table, cond, set, if (mor) RowLevel.MergeOnRead else RowLevel.CopyOnWrite)
        .getOrElse(current).id)
    }
  }

  /** Canonicalize a DDL-supplied column name (or dotted struct path) to the
    * table schema's spelling with the SESSION resolver (case-insensitive by
    * default) — the evolution methods resolve with case-sensitive fieldIndex,
    * and the rest of the SQL surface (MERGE assignment targets, ON keys) is
    * resolver-aware, so `DROP COLUMN URL` must find column `url` like every
    * other statement. A literal top-level column wins over path
    * interpretation; unknown names/segments pass through so the evolution
    * method fails with its own clear message. */
  def canonicalColumn(session: SparkSession, table: GraftTable, raw: String): String = {
    val resolver = session.sessionState.analyzer.resolver
    val sch = table.schema
    sch.fieldNames.find(resolver(_, raw)).getOrElse {
      if (!raw.contains(".")) raw
      else {
        // canonicalize per segment through struct types; bail to the raw
        // string on any miss or non-struct crossing
        var cur: org.apache.spark.sql.types.DataType = sch
        val out = Seq.newBuilder[String]
        for (p <- raw.split("\\.")) cur match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fields.find(f => resolver(f.name, p)) match {
              case Some(f) => out += f.name; cur = f.dataType
              case None => return raw
            }
          case _ => return raw
        }
        out.result().mkString(".")
      }
    }
  }
}

/** `ALTER TABLE graft.… RENAME COLUMN a TO b` — metadata-only rename via
  * stable field ids ([[GraftTable.renameColumn]]). */
case class GraftRenameColumnCommand(
    path: String, from: String, to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    val table = GraftTable.load(session, path)
    table.renameColumn(GraftDml.canonicalColumn(session, table, from), to)
    Seq.empty
  }
}

/** `ALTER TABLE graft.… ALTER COLUMN c TYPE <wider>` — metadata-only type
  * widening in ONE atomic commit ([[GraftTable.widenColumns]]: widening is
  * irreversible, so a failed validation on a later column must not leave
  * earlier columns already widened). */
case class GraftWidenColumnsCommand(
    path: String, widens: Seq[(String, org.apache.spark.sql.types.DataType)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    val table = GraftTable.load(session, path)
    table.widenColumns(widens.map { case (c, dt) =>
      GraftDml.canonicalColumn(session, table, c) -> dt })
    Seq.empty
  }
}

/** `ALTER TABLE graft.… DROP COLUMN c [, …]` — metadata-only drop
  * ([[GraftTable.dropColumn]]). */
case class GraftDropColumnsCommand(
    path: String, cols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    // ONE commit: a validation failure on any column must not leave the
    // earlier columns already (irreversibly) dropped and retired
    val table = GraftTable.load(session, path)
    table.dropColumns(cols.map(GraftDml.canonicalColumn(session, table, _)))
    Seq.empty
  }
}

/** `DELETE FROM graft.…` — [[graft.ops.RowLevel.where]] in the table's
  * `write.delete.mode` (copy-on-write unless `merge-on-read`). */
case class GraftDeleteCommand(path: String, cond: ExprHolder) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(session: SparkSession): Seq[Row] =
    GraftDml.where(session, path, "write.delete.mode", Shims.column(cond.e), None)
}

/** `UPDATE graft.… SET …` — [[graft.ops.RowLevel.where]] in the table's
  * `write.update.mode` (copy-on-write unless `merge-on-read`). */
case class GraftUpdateCommand(
    path: String,
    sets: Seq[(String, ExprHolder)],
    cond: ExprHolder) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(session: SparkSession): Seq[Row] =
    GraftDml.where(session, path, "write.update.mode", Shims.column(cond.e),
      Some(sets.map { case (k, v) => k -> Shims.column(v.e) }.toMap))
}
