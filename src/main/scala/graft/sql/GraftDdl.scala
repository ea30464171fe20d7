package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.analysis.UnresolvedTable
import org.apache.spark.sql.catalyst.plans.logical.{CreateTable, CreateTableAsSelect, DescribeRelation, DropTable, LogicalPlan, SetTableProperties, ShowTableProperties, UnresolvedTableSpec, UnsetTableProperties}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{StructField, StructType}

import graft.table.{FileIO, GraftTable, PartitionSpec}

/**
 * SQL DDL for graft tables, completing the statement lifecycle
 * (CREATE → INSERT → SELECT → MERGE/UPDATE/DELETE → ALTER → DROP):
 *
 * {{{
 *   CREATE TABLE graft.`/path` (url STRING, warc_ts TIMESTAMP, html BINARY,
 *                               text STRING, lang STRING)
 *   PARTITIONED BY (days(warc_ts))                -- hidden partitioning
 *   CREATE TABLE graft.`/path2` AS SELECT ...     -- CTAS (create + append)
 *   DROP TABLE [IF EXISTS] graft.`/path`
 * }}}
 *
 * `PARTITIONED BY (days(col))` / `(col)` map to the engine's
 * [[PartitionSpec]] table property — the Iceberg-style transform DDL a
 * user would expect. Same early-batch interception as the other
 * statements (see [[GraftMergeRule]]).
 */
case class GraftDdlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case c: CreateTable if identPath(c.name).isDefined =>
      GraftCreateTableCommand(identPath(c.name).get, columnsToSchema(c.columns),
        props(c.partitioning, c.tableSpec), c.ignoreIfExists, None)
    case c: CreateTableAsSelect if identPath(c.name).isDefined =>
      GraftCreateTableCommand(identPath(c.name).get, new StructType(),
        props(c.partitioning, c.tableSpec), c.ignoreIfExists, Some(c.query))
    case d: DropTable if identPath(d.child).isDefined =>
      GraftDropTableCommand(identPath(d.child).get, d.ifExists)
    case d @ DescribeRelation(rel, partitionSpec, isExtended, out) if identPath(rel).isDefined =>
      val _ = d
      // DESCRIBE ... PARTITION (...) must fail loudly, not silently degrade
      // to a plain DESCRIBE (graft partitioning is hidden — there is no
      // named-partition object to describe)
      if (partitionSpec.nonEmpty)
        fail("DESCRIBE ... PARTITION is not supported for graft tables " +
          "(partitioning is hidden; see the '# Partitioning' rows of plain DESCRIBE)")
      GraftDescribeCommand(identPath(rel).get, isExtended, out)
    case s @ ShowTableProperties(t, key, out) if identPath(t).isDefined =>
      val _ = s
      GraftShowPropertiesCommand(identPath(t).get, key, out)
    case s @ SetTableProperties(t, properties) if identPath(t).isDefined =>
      val _ = s
      GraftSetPropertiesCommand(identPath(t).get, properties)
    case u @ UnsetTableProperties(t, keys, ifExists) if identPath(u.table).isDefined =>
      val _ = (u, t)
      GraftUnsetPropertiesCommand(identPath(u.table).get, keys, ifExists)
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft DDL: $msg")

  private def identPath(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedIdentifier
        if u.nameParts.length == 2 && u.nameParts.head.equalsIgnoreCase("graft") =>
      Some(u.nameParts(1))
    case v: UnresolvedTableOrView
        if v.multipartIdentifier.length == 2 &&
          v.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(v.multipartIdentifier(1))
    case t: UnresolvedTable
        if t.multipartIdentifier.length == 2 &&
          t.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(t.multipartIdentifier(1))
    case _ => None
  }

  private def columnsToSchema(
      cols: Seq[org.apache.spark.sql.catalyst.plans.logical.ColumnDefinition]): StructType =
    StructType(cols.map { c =>
      if (c.defaultValue.nonEmpty) fail(s"column ${c.name}: DEFAULT values are not supported")
      if (c.generationExpression.nonEmpty)
        fail(s"column ${c.name}: generated columns are not supported")
      StructField(c.name, c.dataType, c.nullable, c.metadata)
    })

  private def props(
      partitioning: Seq[Transform],
      spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase): Map[String, String] = {
    val base = spec match {
      case u: UnresolvedTableSpec =>
        for (p <- u.provider if !p.equalsIgnoreCase("graft"))
          fail(s"USING $p — graft.`path` tables are always the graft format")
        for (l <- u.location)
          fail(s"LOCATION '$l' — the table path IS the identifier")
        u.properties
      case _ => Map.empty[String, String]
    }
    val part =
      if (partitioning.isEmpty) Map.empty[String, String]
      else Map(PartitionSpec.Property -> partitioning.map(transformSpec).mkString(", "))
    base ++ part
  }

  /** One `PARTITIONED BY` transform → its [[PartitionSpec]] string. */
  private def transformSpec(t: Transform): String = {
    val col = t.references.headOption
      .map(_.fieldNames.mkString("."))
      .getOrElse(fail(s"cannot read partition column from $t"))
    def intArg: Int = t.arguments.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value match {
        case i: Integer => i.intValue
        case i: java.lang.Long => i.intValue
        case other => fail(s"partition transform ${t.name}: non-integer argument $other")
      }
    }.getOrElse(fail(s"partition transform ${t.name} needs an integer argument"))
    t.name match {
      case n @ ("days" | "hours" | "months" | "years" | "identity") => s"$n($col)"
      case n @ ("bucket" | "truncate") => s"$n($intArg, $col)"
      case other => fail(s"unsupported partition transform $other(...) (supported: " +
        "identity, days, hours, months, years, bucket(n, col), truncate(w, col))")
    }
  }
}

/** CREATE TABLE (optionally AS SELECT): creates the metadata tree; CTAS
  * then appends the query result as the first snapshot. */
case class GraftCreateTableCommand(
    path: String,
    tableSchema: StructType,
    properties: Map[String, String],
    ignoreIfExists: Boolean,
    ctasQuery: Option[LogicalPlan]) extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    ctasQuery.toSeq
  override val output: Seq[Attribute] = Seq.empty

  override def run(session: SparkSession): Seq[Row] = {
    if (GraftTable.exists(path)) {
      if (ignoreIfExists) return Seq.empty
      throw new IllegalArgumentException(s"graft table already exists at $path")
    }
    ctasQuery match {
      case None =>
        GraftTable.create(session, path, tableSchema, properties)
      case Some(q) =>
        val df = Shims.dataFrame(session, q)
        val t = GraftTable.create(session, path, df.schema, properties)
        t.append(df, Map("via" -> "sql-ctas"))
    }
    Seq.empty
  }
}

object GraftTableProps {
  /** Engine-managed properties a user must not SET/UNSET directly: each
    * has a dedicated, validated statement or is internal bookkeeping. */
  def reserved(key: String): Boolean =
    key == graft.table.PartitionSpec.Property ||
      key == graft.table.PartitionSpec.HistoryProperty ||
      key == GraftTable.NextFieldIdProp ||
      key == GraftTable.RetiredColumnsProp ||
      key.startsWith("stream-batch-") ||
      // constraints have dedicated validated statements (ADD/DROP CONSTRAINT)
      key.startsWith(GraftTable.ConstraintPrefix)
}

/** `DESCRIBE [EXTENDED] graft.`path`` — columns + hidden partitioning
  * (+ location/format/snapshot/properties detail when EXTENDED). */
case class GraftDescribeCommand(
    path: String, isExtended: Boolean,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val cols = t.schema.fields.toSeq.map { f =>
      Row(f.name, f.dataType.simpleString,
        if (f.metadata.contains("comment")) f.metadata.getString("comment") else null)
    }
    val parts = t.partitionSpecs match {
      case Seq() => Seq.empty
      case specs => Row("# Partitioning", "", "") +:
        specs.zipWithIndex.map { case (sp, i) => Row(s"Part $i", sp.toString, "") }
    }
    val detail = if (!isExtended) Seq.empty else {
      val md = t.metadata
      Seq(Row("# Detailed Table Information", "", ""),
        Row("Location", t.root, ""),
        Row("Provider", "graft", ""),
        Row("Table UUID", md.tableUuid, ""),
        Row("Current Snapshot", md.currentSnapshotId.map(_.toString).getOrElse("-"), ""),
        Row("Snapshots", md.snapshots.size.toString, ""),
        Row("Table Properties",
          md.properties.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("[", ", ", "]"), ""))
    }
    (cols ++ (if (parts.isEmpty) Seq.empty else Row("", "", "") +: parts)
      ++ (if (detail.isEmpty) Seq.empty else Row("", "", "") +: detail))
  }
}

/** `SHOW TBLPROPERTIES graft.`path` [('key')]`. */
case class GraftShowPropertiesCommand(
    path: String, propertyKey: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val props = GraftTable.load(session, path).metadata.properties
    propertyKey match {
      // Spark's v2 command answers a single-key probe with just the value
      // column when the parser planned it that way; our output follows the
      // node's own attribute list, so emit (key, value) or (value) to match
      case Some(k) =>
        val v = props.getOrElse(k,
          s"Table ${path} does not have property: $k")
        if (output.size == 1) Seq(Row(v)) else Seq(Row(k, v))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `ALTER TABLE graft.`path` SET TBLPROPERTIES (…)` — engine-managed keys
  * are refused (they have dedicated statements). */
case class GraftSetPropertiesCommand(
    path: String, properties: Map[String, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    properties.keys.find(GraftTableProps.reserved).foreach(k =>
      throw new IllegalArgumentException(s"graft SET TBLPROPERTIES: $k is engine-managed " +
        "(use the dedicated statement: SET PARTITION SPEC / ALTER COLUMN paths)"))
    GraftTable.load(session, path).commitMetadataUpdate(md =>
      md.copy(properties = md.properties ++ properties))
    Seq.empty
  }
}

/** `ALTER TABLE graft.`path` UNSET TBLPROPERTIES [IF EXISTS] (…)`. */
case class GraftUnsetPropertiesCommand(
    path: String, keys: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    keys.find(GraftTableProps.reserved).foreach(k =>
      throw new IllegalArgumentException(s"graft UNSET TBLPROPERTIES: $k is engine-managed"))
    val t = GraftTable.load(session, path)
    t.commitMetadataUpdate { md =>
      if (!ifExists)
        keys.filterNot(md.properties.contains).headOption.foreach(k =>
          throw new IllegalArgumentException(s"property $k does not exist (use IF EXISTS)"))
      md.copy(properties = md.properties -- keys)
    }
    Seq.empty
  }
}

/** DROP TABLE: removes the table tree (metadata AND data — graft tables
  * own their path, so DROP is always a purge). */
case class GraftDropTableCommand(path: String, ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    if (!GraftTable.exists(path)) {
      if (ifExists) return Seq.empty
      throw new IllegalArgumentException(s"no graft table at $path")
    }
    FileIO.deleteRecursively(path)
    Seq.empty
  }
}
