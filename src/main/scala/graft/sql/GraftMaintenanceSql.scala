package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.ops.{Cluster, Compact, Expire}
import graft.table.GraftTable

/**
 * SQL maintenance statements — the last operations a graft user would
 * otherwise need the programmatic API for (the reference drives its whole
 * lifecycle through generated SQL scripts, `hive/HiveTableIR.java`; an
 * Iceberg/Delta user expects the same of a lakehouse):
 *
 * {{{
 *   OPTIMIZE graft.`/path`                      -- bin-packing compaction
 *   OPTIMIZE graft.`/path` ZORDER               -- full Z-order rewrite
 *   OPTIMIZE graft.`/path` ZORDER HILBERT       -- Hilbert-curve variant
 *   VACUUM graft.`/path`                        -- snapshot expiry + GC
 *   VACUUM graft.`/path` RETAIN 20 SNAPSHOTS
 * }}}
 *
 * Spark's grammar has no OPTIMIZE/VACUUM productions, so these cannot ride
 * the resolution-rule route the other statements use — the session parser
 * is wrapped ([[GraftSqlParser]] via `injectParser`), intercepting exactly
 * these two shapes and delegating EVERYTHING else (including errors)
 * verbatim to Spark's parser.
 */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // WHERE scopes the pass to files whose stats intersect the predicate
  // (Delta's `OPTIMIZE t WHERE … [ZORDER]` shape — the predicate text is
  // parsed by Spark's own expression parser in the command)
  // INCREMENTAL is its own trailing group (not nested in ZORDER's): with it
  // nested, `OPTIMIZE … WHERE p INCREMENTAL` would silently swallow the
  // keyword into the predicate text; standalone it parses and the command
  // rejects the combination loudly
  private val OptimizeRe =
    ("""(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+(ZORDER)(?:\s+(HILBERT))?(?:\s+BY\s*\(([^)]*)\))?)?(?:\s+(INCREMENTAL))?\s*;?\s*""").r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+graft\s*\.\s*`([^`]+)`\s*(?:RETAIN\s+(\d+)\s+SNAPSHOTS)?\s*;?\s*""".r
  // DV compaction (Iceberg's rewrite_position_delete_files niche): ORs the
  // accumulated per-commit DV entries into one blob — no data file touched
  private val RewriteDeletesRe =
    """(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s+REWRITE\s+DELETES\s*;?\s*""".r
  // bucket-layout migration after partition-spec evolution: rewrites only
  // the files not conforming to the active bucket(n, col) spec so the
  // shuffle-free bucketed-scan gate flips back on (graft.ops.Rebucket)
  private val RebucketRe =
    """(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s+REBUCKET\s*;?\s*""".r
  // Delta-style one-row table detail (Spark has no DETAIL grammar)
  private val DescribeDetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+graft\s*\.\s*`([^`]+)`\s*;?\s*""".r
  // partition-spec evolution (Spark has no such grammar): SET replaces the
  // active transform set, DROP unpartitions — outgoing generations keep
  // pruning via the spec history (GraftTable.setPartitionSpec)
  private val SetSpecRe =
    """(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+SET\s+PARTITION\s+SPEC\s*\((.+)\)\s*;?\s*""".r
  private val DropSpecRe =
    """(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+DROP\s+PARTITION\s+SPEC\s*;?\s*""".r
  // named snapshot refs (Iceberg's CREATE/DROP TAG/BRANCH — no Spark
  // grammar): CREATE [OR REPLACE] TAG|BRANCH name [AS OF VERSION n],
  // DROP TAG|BRANCH [IF EXISTS] name, FAST FORWARD BRANCH name (publish)
  private val CreateTagRe =
    ("""(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+CREATE\s+(OR\s+REPLACE\s+)?(TAG|BRANCH)\s+""" +
      """([A-Za-z0-9._-]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private val DropTagRe =
    """(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+DROP\s+(TAG|BRANCH)\s+(IF\s+EXISTS\s+)?([A-Za-z0-9._-]+)\s*;?\s*""".r
  private val FastForwardRe =
    """(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+FAST\s+FORWARD\s+BRANCH\s+([A-Za-z0-9._-]+)\s*;?\s*""".r
  // PUBLISH = fast-forward or, when main advanced, cherry-pick the staged
  // appends onto main's head (GraftTable.publish)
  private val PublishRe =
    """(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+PUBLISH\s+BRANCH\s+([A-Za-z0-9._-]+)\s*;?\s*""".r
  // CHECK constraints (Delta-style; Spark v1 has no grammar): the predicate
  // text is validated and resolved by GraftTable.addConstraint
  private val AddConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+ADD\s+CONSTRAINT\s+""" +
      """([A-Za-z0-9._-]+)\s+CHECK\s*\((.+)\)\s*;?\s*""").r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?([A-Za-z0-9._-]+)\s*;?\s*""".r
  // Delta-style RESTORE (no Spark grammar): snapshot id or 'tag' name
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+TO\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([A-Za-z0-9._-]+)')\s*;?\s*""".r

  // graft tables are PATH-addressed: intercept only identifiers that look
  // like paths (contain a slash — `./name` works for a table in the CWD).
  // A bare single-segment identifier always reaches the delegate: probing
  // the local filesystem for it would let a same-named directory relative
  // to the driver CWD hijack OPTIMIZE/VACUUM aimed at a genuine catalog
  // schema named `graft`
  private def isPath(p: String): Boolean = p.contains("/")

  /** `ZORDER BY (…)` column list: comma-split with one optional backtick
    * pair per token. Quoted identifiers CONTAINING commas, dots or
    * backticks cannot be recovered after the regex split — rejected loudly
    * rather than silently mis-parsed into wrong column names (r5 advice);
    * the empty list gets a targeted error instead of falling through to
    * the delegate parser's unrelated message. */
  private def parseZorderCols(byCols: String): Seq[String] = {
    if (byCols == null) return Seq.empty
    val cols = byCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      val s =
        if (t.length >= 2 && t.startsWith("`") && t.endsWith("`")) t.substring(1, t.length - 1)
        else t
      if (s.contains("`") || s.contains(","))
        throw new IllegalArgumentException(
          s"OPTIMIZE … ZORDER BY: clustering identifier '$t' contains quoting the " +
            "maintenance parser does not support (commas or embedded backticks); " +
            "rename the column or cluster programmatically via Cluster.ZDims")
      s
    }
    if (cols.isEmpty)
      throw new IllegalArgumentException(
        "OPTIMIZE … ZORDER BY (): the clustering column list is empty — name at " +
          "least one column, or drop the BY clause to use the table's cluster-columns property")
    cols
  }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case RewriteDeletesRe(path) if isPath(path) =>
      GraftRewriteDeletesCommand(path)
    case RebucketRe(path) if isPath(path) =>
      GraftRebucketCommand(path)
    case DescribeDetailRe(path) if isPath(path) =>
      GraftDescribeDetailCommand(path)
    case OptimizeRe(path, where, zorder, hilbert, byCols, incr) if isPath(path) =>
      GraftOptimizeCommand(path, zorder != null, hilbert != null,
        Option(where).map(_.trim).filter(_.nonEmpty),
        parseZorderCols(byCols),
        incremental = incr != null)
    case VacuumRe(path, retain) if isPath(path) =>
      GraftVacuumCommand(path, Option(retain).map(_.toInt).getOrElse(10))
    case SetSpecRe(path, spec) if isPath(path) =>
      GraftSetPartitionSpecCommand(path, Some(spec.trim))
    case DropSpecRe(path) if isPath(path) =>
      GraftSetPartitionSpecCommand(path, None)
    case CreateTagRe(path, orReplace, kind, name, asOf) if isPath(path) =>
      GraftTagCommand(path, name, create = true, kind = kind.toLowerCase,
        snapshotId = Option(asOf).map(_.toLong), replace = orReplace != null)
    case DropTagRe(path, kind, ifExists, name) if isPath(path) =>
      GraftTagCommand(path, name, create = false, kind = kind.toLowerCase,
        ifExists = ifExists != null)
    case FastForwardRe(path, name) if isPath(path) =>
      GraftFastForwardCommand(path, name)
    case PublishRe(path, name) if isPath(path) =>
      GraftPublishCommand(path, name)
    case AddConstraintRe(path, name, check) if isPath(path) =>
      GraftConstraintCommand(path, name, Some(check.trim))
    case DropConstraintRe(path, ifExists, name) if isPath(path) =>
      GraftConstraintCommand(path, name, None, ifExists = ifExists != null)
    case RestoreRe(path, id, tag) if isPath(path) =>
      GraftRestoreCommand(path, Option(id).map(_.toLong), Option(tag))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}

/** `OPTIMIZE graft.`path`` → compaction; `… ZORDER [HILBERT]` → full
  * clustering rewrite. Returns (operation, snapshot_id); snapshot_id -1
  * when the pass was a no-op (nothing to compact / empty table). */
case class GraftOptimizeCommand(path: String, zorder: Boolean, hilbert: Boolean,
    where: Option[String] = None, byColumns: Seq[String] = Nil,
    incremental: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType)(),
    AttributeReference("snapshot_id", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    // WHERE → candidate files by metadata-bounds intersection; a rewrite of
    // any subset is row-preserving, so scoping is always sound
    val pred = where.map(org.apache.spark.sql.functions.expr)
    if (incremental && !zorder) throw new IllegalArgumentException(
      "OPTIMIZE ... INCREMENTAL applies to ZORDER clustering " +
        "(compaction is already incremental by nature)")
    if (zorder) {
      // column precedence: `ZORDER BY (c1, …)` per-run override, else the
      // table's declared `cluster-columns` property, else the north rule's
      // (lang, url-host, warc_ts) page dims — the latter failing with a
      // real message instead of a mid-job unresolved-column error on other
      // schemas (BY-columns are validated in Cluster before any bytes move)
      val curve = if (hilbert) "hilbert" else "zorder"
      val st = t.state
      val dims = Cluster.withDeclaredColumns(st, Cluster.ZDims(curve = curve, columns = byColumns))
      if (dims.columns.isEmpty) {
        val needed = Seq("url", "warc_ts", "lang").filterNot(st.schema.fieldNames.contains)
        if (needed.nonEmpty) throw new IllegalArgumentException(
          s"OPTIMIZE ... ZORDER clusters on (lang, url-host, warc_ts) and needs columns " +
            s"${needed.mkString(", ")}; use ZORDER BY (col, ...) or set the " +
            s"'${GraftTable.ClusterColumnsProp}' table property for other schemas")
      }
      val snap =
        if (incremental) {
          // steady-state mode: rewrite only files no cluster pass produced —
          // at 100 TB a full re-sort per ingest cycle is impossible; run
          // periodic full rewrites to restore global order
          if (where.isDefined) throw new IllegalArgumentException(
            "OPTIMIZE ... INCREMENTAL already scopes to unclustered files; " +
              "combine with WHERE via two separate statements")
          Cluster.incremental(t, dims)
        } else Cluster.zorderRewrite(t, dims,
          onlyFiles = pred.map(p => st.planFiles(Some(p))))
      Seq(Row(s"cluster-$curve", snap.map(_.id).getOrElse(-1L)))
    } else {
      val snap = Compact.run(t, predicate = pred)
      Seq(Row("compact", snap.map(_.id).getOrElse(-1L)))
    }
  }
}

/** `VACUUM graft.`path` [RETAIN n SNAPSHOTS]` → snapshot expiry with
  * retained-snapshot GC (default: last 10). Returns counts. */
case class GraftVacuumCommand(path: String, retain: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("removed_snapshots", LongType)(),
    AttributeReference("deleted_data_files", LongType)(),
    AttributeReference("deleted_manifests", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val r = Expire.expire(t, retainLast = retain)
    Seq(Row(r.removedSnapshots.size.toLong, r.deletedDataFiles.size.toLong,
      r.deletedManifests.size.toLong))
  }
}

/** `OPTIMIZE graft.`path` REWRITE DELETES` — compact the accumulated
  * deletion-vector blobs into one ([[graft.table.GraftTable.rewriteDeleteFiles]]):
  * snapshot_id -1 when fewer than 2 live blobs (no-op). */
case class GraftRewriteDeletesCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("snapshot_id", LongType)(),
    AttributeReference("dv_files_in", LongType)(),
    AttributeReference("dv_files_out", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val in = t.positionDeletes().size.toLong
    t.rewriteDeleteFiles() match {
      case Some(s) => Seq(Row(s.id, in, t.positionDeletes().size.toLong))
      case None    => Seq(Row(-1L, in, in))
    }
  }
}

/** `OPTIMIZE graft.`path` REBUCKET` — migrate files not conforming to the
  * active `bucket(n, col)` spec ([[graft.ops.Rebucket.migrate]]) so the
  * shuffle-free bucketed-scan gate flips back on after spec evolution.
  * snapshot_id -1 when every file already conforms. */
case class GraftRebucketCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("snapshot_id", LongType)(),
    AttributeReference("migrated_files", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val moved = t.nonconformingFiles().size.toLong
    graft.ops.Rebucket.migrate(t) match {
      case Some(s) => Seq(Row(s.id, moved))
      case None    => Seq(Row(-1L, 0L))
    }
  }
}

/** `DESCRIBE DETAIL graft.`path`` — Delta-style one-row table summary from
  * metadata alone (driver-side O(live files) fold over the manifests —
  * no data file is opened). */
case class GraftDescribeDetailCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("snapshot_id", LongType)(),
    AttributeReference("num_files", LongType)(),
    // PHYSICAL parquet rows — merge-on-read deletes hide rows at scan time
    // without touching files, so live `count(*)` can be lower; the
    // delete-side column below carries that signal instead of silently
    // overstating a "row count"
    AttributeReference("num_data_rows", LongType)(),
    AttributeReference("size_bytes", LongType)(),
    AttributeReference("num_position_delete_entries", LongType)(),
    AttributeReference("num_snapshots", LongType)(),
    AttributeReference("partition_spec", StringType)(),
    AttributeReference("cluster_columns", StringType)(),
    AttributeReference("write_sort_order", StringType)())

  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val md = t.metadata
    // pin every count to ONE snapshot: a concurrent commit between two
    // metadata reads must not pair the old snapshot id with new counts
    val snap = md.currentSnapshot.map(_.id)
    val files = snap.map(id => t.files(Some(id))).getOrElse(Seq.empty)
    Seq(Row(
      "graft/parquet",
      t.root,
      snap.getOrElse(-1L),
      files.size.toLong,
      files.map(_.rows).sum,
      files.map(_.bytes).sum,
      snap.map(id => t.positionDeletes(Some(id)).map(_.rows).sum).getOrElse(0L),
      md.snapshots.size.toLong,
      md.properties.getOrElse(graft.table.PartitionSpec.Property, ""),
      md.properties.getOrElse(GraftTable.ClusterColumnsProp, ""),
      md.properties.getOrElse(GraftTable.SortOrderProp, "")))
  }
}

/** `ALTER TABLE graft.`path` SET PARTITION SPEC (bucket(16, url), …)` /
  * `… DROP PARTITION SPEC` — partition-spec evolution
  * ([[GraftTable.setPartitionSpec]]): new writes use the new layout, old
  * generations keep pruning via the spec history, and maintenance never
  * mixes generations in one rewrite group. */
case class GraftSetPartitionSpecCommand(path: String, spec: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    GraftTable.load(session, path).setPartitionSpec(spec)
    Seq.empty
  }
}

/** `RESTORE TABLE graft.`p` TO VERSION AS OF <id|'tag'>` → instant,
  * data-free pointer rollback ([[GraftTable.rollback]]); abandoned
  * snapshots stay until expiry (redo = another RESTORE). */
case class GraftRestoreCommand(path: String, snapshotId: Option[Long], tag: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("previous_snapshot_id", LongType)(),
    AttributeReference("restored_snapshot_id", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val prev = t.currentSnapshot.map(_.id).getOrElse(-1L)
    val target = snapshotId.getOrElse(t.refSnapshotId(tag.get))
    t.rollback(target)
    Seq(Row(prev, target))
  }
}

/** `ALTER TABLE graft.`p` CREATE [OR REPLACE] TAG|BRANCH name [AS OF
  * VERSION n]` / `… DROP TAG|BRANCH [IF EXISTS] name` → named snapshot refs
  * ([[GraftTable.createTag]]/[[GraftTable.createBranch]]/drops): refs are
  * time-travelable as `VERSION AS OF 'name'` and pinned against VACUUM;
  * branches additionally take staged appends (`append(df, toBranch=…)`). */
case class GraftTagCommand(path: String, name: String, create: Boolean,
    kind: String = "tag", snapshotId: Option[Long] = None,
    replace: Boolean = false, ifExists: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType)(),
    AttributeReference("snapshot_id", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    if (create) {
      val md = if (kind == "branch") t.createBranch(name, snapshotId, replace)
               else t.createTag(name, snapshotId, replace)
      Seq(Row(name, md.refMap(name).snapshotId))
    } else {
      if (kind == "branch") t.dropBranch(name, ifExists) else t.dropTag(name, ifExists)
      Seq(Row(name, -1L))
    }
  }
}

/** `ALTER TABLE graft.`p` FAST FORWARD BRANCH name` → publish a staged
  * branch ([[GraftTable.fastForward]]): main moves to the branch head iff
  * it is a pure fast-forward. Returns the new main snapshot id. */
case class GraftFastForwardCommand(path: String, name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType)(),
    AttributeReference("snapshot_id", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val md = t.fastForward(name)
    Seq(Row(name, md.currentSnapshotId.getOrElse(-1L)))
  }
}

/** `ALTER TABLE graft.`p` ADD CONSTRAINT name CHECK (pred)` /
  * `… DROP CONSTRAINT [IF EXISTS] name` → [[GraftTable.addConstraint]]
  * (validates existing rows) / dropConstraint. */
case class GraftConstraintCommand(path: String, name: String,
    check: Option[String], ifExists: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    check match {
      case Some(c) => t.addConstraint(name, c)
      case None    => t.dropConstraint(name, ifExists)
    }
    Seq.empty
  }
}

/** `ALTER TABLE graft.`p` PUBLISH BRANCH name` → [[GraftTable.publish]]:
  * fast-forward when main is an ancestor of the branch head, otherwise
  * cherry-pick the staged appends onto main's head as one "publish"
  * commit. Returns the new main snapshot id. */
case class GraftPublishCommand(path: String, name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType)(),
    AttributeReference("snapshot_id", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, path)
    val md = t.publish(name)
    Seq(Row(name, md.currentSnapshotId.getOrElse(-1L)))
  }
}
