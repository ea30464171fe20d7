package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.table.GraftTable

/**
 * SQL read/write front door for graft tables — the rest of the reference's
 * SQL surface (its HQL SELECT front end, the SchemaExplorer sql package +
 * `HBaseTableExplorer.parseAndGetValidatedQuery`) on Spark's own parser:
 *
 * {{{
 *   SELECT * FROM graft.`/path/to/table` WHERE lang = 'de'
 *   SELECT * FROM graft.`/path` VERSION AS OF 3
 *   SELECT * FROM graft.`/path` TIMESTAMP AS OF '2026-01-01 00:00:00'
 *   INSERT INTO graft.`/path` SELECT ...
 *   INSERT OVERWRITE graft.`/path` SELECT ...
 * }}}
 *
 * Runs in the hint-resolution batch (before ResolveSQLOnFile rejects the
 * `graft.` qualifier, see [[GraftMergeRule]]) and AFTER GraftMergeRule in
 * injection order, so MERGE targets are converted before this rule could
 * turn them into plain relations. SELECT resolves to the engine's
 * snapshot-isolated read plan — the GraftFileIndex underneath turns the
 * query's own pushed-down filters into min/max + transform file skipping,
 * and merge-on-read deletion vectors are applied, identical to the programmatic
 * `table.read()`.
 */
case class GraftRelationRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformDown {
    case i: InsertIntoStatement if graftPath(i.table).isDefined =>
      convertInsert(i, graftPath(i.table).get)
    case RelationTimeTravel(u: UnresolvedRelation, timestamp, version)
        if graftPath(u).isDefined =>
      readPlan(graftPath(u).get, timestamp, version)
    case u: UnresolvedRelation if metaTable(u).isDefined =>
      val (path, kind) = metaTable(u).get
      val table = GraftTable.load(session, path)
      (kind match {
        case "snapshots"  => table.snapshotsDf
        case "files"      => table.filesDf()
        case "refs"       => table.refsDf
        case "deletes"    => table.deletesDf()
        case "partitions" => table.partitionsDf()
        case "lineage"    =>
          // per-output-file maintenance lineage rows (run/Lineage.record) —
          // the audit trail for "where did this file come from". Gate on a
          // READABLE parquet file, not dir existence: a pass killed mid-write
          // leaves metrics/ holding only _temporary, and read.parquet on it
          // would fail schema inference forever
          if (graft.table.FileIO
              .listFilesRecursively(table.metricsDir, ".parquet").nonEmpty)
            graft.run.Lineage.metrics(session, table)
          else session.createDataFrame(
            new java.util.ArrayList[Row](),
            org.apache.spark.sql.Encoders.product[graft.run.Lineage.LineageRow].schema)
      }).queryExecution.analyzed
    case u: UnresolvedRelation if graftPath(u).isDefined && !u.isStreaming =>
      readPlan(graftPath(u).get, None, None)
  }

  /** Iceberg-style metadata tables: graft.`/path`.snapshots / .files */
  private def metaTable(u: UnresolvedRelation): Option[(String, String)] =
    if (u.multipartIdentifier.length == 3 &&
        u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
        Set("snapshots", "files", "refs", "deletes", "partitions", "lineage")
          .contains(u.multipartIdentifier(2).toLowerCase))
      Some((u.multipartIdentifier(1), u.multipartIdentifier(2).toLowerCase))
    else None

  private def graftPath(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, child) => graftPath(child)
    case u: UnresolvedRelation
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(u.multipartIdentifier(1))
    case _ => None
  }

  private def readPlan(
      path: String,
      timestamp: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      version: Option[String]): LogicalPlan = {
    val table = GraftTable.load(session, path)
    val df = (timestamp, version) match {
      case (None, None) => table.read()
      case (None, Some(v)) =>
        // numeric = snapshot id; otherwise a named ref (tag) — the two
        // cannot collide (createTag rejects numeric-looking names)
        table.readSnapshot(v.toLongOption.getOrElse(table.refSnapshotId(v)))
      case (Some(ts), None) =>
        val micros = Cast(ts, TimestampType, Some(session.sessionState.conf.sessionLocalTimeZone))
          .eval(null).asInstanceOf[Long]
        table.readAsOf(micros / 1000L)
      case _ =>
        throw new IllegalArgumentException("specify either VERSION AS OF or TIMESTAMP AS OF")
    }
    df.queryExecution.analyzed
  }

  private def convertInsert(i: InsertIntoStatement, path: String): LogicalPlan = {
    if (i.partitionSpec.nonEmpty)
      throw new IllegalArgumentException(
        "graft INSERT: static PARTITION clauses are not supported (partitioning is hidden)")
    if (i.ifPartitionNotExists)
      throw new IllegalArgumentException("graft INSERT: IF NOT EXISTS is not supported")
    GraftInsertCommand(path, i.query, i.overwrite, i.userSpecifiedCols, i.byName)
  }
}

/** INSERT INTO / INSERT OVERWRITE a graft table: positional by default
  * (column list or BY NAME supported), values cast to the table schema,
  * committed as one atomic append / overwrite snapshot. */
case class GraftInsertCommand(
    path: String,
    query: LogicalPlan,
    overwrite: Boolean,
    userCols: Seq[String],
    byName: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(query)
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = GraftTable.load(session, path)
    val fields = table.schema.fields.toSeq
    val df = Shims.dataFrame(session, query)
    val named =
      if (byName || userCols.nonEmpty) {
        val provided = if (userCols.nonEmpty) userCols else df.columns.toSeq
        require(provided.toSet == fields.map(_.name).toSet,
          s"graft INSERT: columns $provided must cover the table schema exactly")
        if (userCols.nonEmpty) df.toDF(userCols: _*) else df
      } else {
        require(df.columns.length == fields.length,
          s"graft INSERT: ${df.columns.length} columns for a ${fields.length}-column table")
        df.toDF(fields.map(_.name): _*)
      }
    val aligned = named.select(fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    val snap =
      if (overwrite) {
        aligned.write.format("graft").mode("overwrite").save(table.root)
        GraftTable.load(session, table.root).currentSnapshot.get
      } else table.append(aligned, Map("via" -> "sql-insert"))
    Seq(Row(snap.id))
  }
}
