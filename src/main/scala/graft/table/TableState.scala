package graft.table

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.graftshim.{GraftRelation, LocalParquet, Shims}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * One committed metadata version of a [[GraftTable]], pinned at one of its
 * snapshots (the version's current snapshot unless [[at]] moves it).
 * `table.state` reads it with one `metadata/` listing and one `v<N>.json`
 * parse; everything else here — schema, partition specs, files, deletes,
 * the bucket gate, the write layout — derives from that one version, each
 * computed lazily and at most once.
 *
 * Operations pin a state at plan time and use only it until they commit,
 * so an op can never pair one version's schema or specs with another
 * version's file list, and planning costs one metadata read however many
 * views it consults. The commit itself ([[GraftTable.commitFull]]) re-reads
 * the latest version on every CAS attempt, as it must.
 */
final class TableState private[table] (
    val table: GraftTable,
    val metadata: TableMetadata,
    val snapshot: Option[Snapshot],
    shapeOf: Option[TableState] = None) {

  private def spark = table.spark

  // ---- schema and partition specs ----------------------------------------

  lazy val schema: StructType = shapeOf.fold(table.parseSchema(metadata))(_.schema)

  /** Hidden-partitioning transforms, if the table declares any (see
    * [[PartitionSpec]]); validated against the schema. */
  lazy val partitionSpecs: Seq[PartitionSpec] = shapeOf.fold(
    metadata.properties.get(PartitionSpec.Property).map(PartitionSpec.parseMulti)
      .getOrElse(Seq.empty).map { sp => sp.validate(schema); sp })(_.partitionSpecs)

  /** ACTIVE transforms plus every HISTORICAL generation's (spec evolution):
    * each data file's path physically encodes the spec generation it was
    * written under (`gp_bucket_8_url=…` vs `gp_bucket_16_url=…` are
    * distinct dir names), so pruning and maintenance grouping evaluate the
    * union and each file answers only for its own generation. Historical
    * specs whose source column was since renamed/dropped no longer
    * validate and are silently skipped (their pruning is dead, which is
    * sound — the files just stop partition-pruning by that transform). */
  lazy val allPartitionSpecs: Seq[PartitionSpec] = shapeOf.fold {
    val historical = PartitionSpec.parseHistory(metadata.properties.get(PartitionSpec.HistoryProperty))
      .flatMap { gen =>
        scala.util.Try {
          PartitionSpec.parseMulti(gen).map { sp => sp.validate(schema); sp }
        }.getOrElse(Seq.empty)
      }
    val activeNames = partitionSpecs.map(_.name).toSet
    partitionSpecs ++ historical.filterNot(sp => activeNames.contains(sp.name))
      .groupBy(_.name).map(_._2.head)
  }(_.allPartitionSpecs)

  /** This version pinned at retained snapshot `snapshotId` (same schema and
    * specs — time travel within one metadata read). */
  def at(snapshotId: Long): TableState =
    new TableState(table, metadata, Some(metadata.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $snapshotId"))), Some(this))

  /** [[at]] `snapshotId`, or this state when None. */
  def at(snapshotId: Option[Long]): TableState = snapshotId.fold(this)(at)

  /** This version's snapshots read through `pinned`'s schema and partition
    * specs: a streaming source keeps the micro-batch schema it started with
    * while it tails newer commits (field-id resolution keeps files written
    * after a rename or drop readable by the older schema). */
  def withSchemaOf(pinned: TableState): TableState =
    new TableState(table, metadata, snapshot, Some(pinned))

  // ---- table properties ----------------------------------------------------

  /** Live CHECK constraints: name → SQL predicate text. */
  lazy val constraints: Map[String, String] = metadata.properties.collect {
    case (k, v) if k.startsWith(GraftTable.ConstraintPrefix) =>
      k.stripPrefix(GraftTable.ConstraintPrefix) -> v
  }

  /** Names vacated by rename/drop across the table's history (lowercase). */
  lazy val retired: Set[String] = metadata.properties.get(GraftTable.RetiredColumnsProp)
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Columns the `bloom-columns` property asks parquet bloom filters for,
    * in schema spelling. */
  lazy val bloomColumns: Seq[String] = columnList(GraftTable.BloomColumnsProp)

  /** Columns of the `write.sort-order` property, in schema spelling. */
  lazy val writeSortColumns: Seq[String] = columnList(GraftTable.SortOrderProp)

  /** A comma-separated column-list property resolved against the schema;
    * names not (or no longer, after a rename) in it are skipped — these
    * properties steer layout, never correctness. */
  private def columnList(prop: String): Seq[String] =
    metadata.properties.get(prop).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .flatMap(c => schema.fieldNames.find(_.equalsIgnoreCase(c)))

  // ---- files and deletes ---------------------------------------------------

  /** The pinned snapshot (none before the first commit), refused when it
    * lists manifests of the removed equality-delete format. */
  private lazy val readableSnapshot: Seq[Snapshot] = {
    snapshot.foreach(_.requireNoEqualityDeletes())
    snapshot.toSeq
  }

  /** Data files of the pinned snapshot (empty before the first commit). */
  lazy val files: Seq[DataFileMeta] =
    stripUntrustedDecimalBounds(readableSnapshot.flatMap(_.manifests).flatMap(m => table.readManifest(m.path)))

  /** Decimal bound strings changed space once (parquet stats are UNSCALED;
    * early manifests stored them verbatim, current ones store the SCALED
    * decimal). Tables created since carry [[GraftTable.DecimalStatsScaledProp]];
    * for a table WITHOUT it, decimal bounds are ignored at planning time —
    * no pruning is always sound, comparing mixed spaces is not. A full
    * cluster rewrite re-collects stats; users can then set the property. */
  private def stripUntrustedDecimalBounds(fs: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    if (metadata.properties.get(GraftTable.DecimalStatsScaledProp).contains("true")) return fs
    val decCols = schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
    }.toSet
    if (decCols.isEmpty) fs
    else fs.map(f => f.copy(minValues = f.minValues -- decCols, maxValues = f.maxValues -- decCols))
  }

  /** Files that may contain rows matching `predicate` — min/max pruning. */
  def planFiles(predicate: Option[Column]): Seq[DataFileMeta] = predicate match {
    case Some(p) => PredicatePrune.prune(schema, files, p, allPartitionSpecs)
    case None    => files
  }

  /** Deletion-vector entries of the pinned snapshot, one or more per data
    * file with deleted rows (see [[DeletionVectors]]). */
  lazy val dvEntries: Seq[DvMeta] =
    readableSnapshot.flatMap(_.posDeleteList).flatMap(m => table.readDvManifest(m.path))

  /** The live DV blob files as file metas: `rows` sums their live entries'
    * cardinalities and `bytes` their lengths. */
  lazy val positionDeletes: Seq[DataFileMeta] =
    dvEntries.groupBy(_.blob).toSeq.sortBy(_._1).map { case (blob, es) =>
      DataFileMeta(blob, es.map(_.cardinality).sum, es.map(_.length).sum,
        Map.empty, Map.empty, Map.empty, es.head.commitUuid)
    }

  /** Deleted-row count per data-file path (positions repeated across
    * entries count once): the cardinalities of the cached per-file bitmap
    * unions, no Spark job. Drives compaction's delete-pressure eligibility. */
  lazy val posDeleteRowCounts: Map[String, Long] =
    DeletionVectors.load(table.root, dvEntries).map { case (f, b) => f -> b.getLongCardinality }

  // ---- bucket layout -------------------------------------------------------

  /** The ACTIVE bucket transform, when the active spec carries exactly one
    * (the only shape the bucketed-scan gate and [[graft.ops.Rebucket]]
    * understand). */
  private def activeBucketSpec: Option[PartitionSpec] =
    Some(partitionSpecs.filter(_.transform == "bucket")).filter(_.size == 1).map(_.head)

  /** The `BucketSpec` a scan over exactly `fs` may report, or None. Sound
    * only when the ACTIVE spec carries exactly one bucket transform and EVERY
    * file is bucket-stamped ([[GraftTable.stampBucketIds]]) consistently
    * with its partition dir: Spark's bucketed read throws on an unstamped
    * file name and would silently mis-group rows on a wrong stamp, so this
    * is all-or-nothing by design — and sound for any subset (MERGE's
    * touched files), since a bucket-pure file stays bucket-pure in any
    * subset. Files from an older spec generation (different dir name) or
    * written before the spec fail the check and the scan simply stays
    * unbucketed — a full rewrite (cluster/compact) migrates them.
    * O(files) driver-side string parsing, like all planning here. */
  def bucketSpec(fs: Seq[DataFileMeta]): Option[BucketSpec] = {
    val sp = activeBucketSpec.getOrElse(return None)
    if (fs.nonEmpty && fs.forall(f => bucketFileConforms(sp, f)))
      Some(BucketSpec(sp.param.get, Seq(sp.sourceColumn), Nil))
    else None
  }

  /** A data file conforms to the active bucket spec iff its path carries the
    * spec's partition dir with an integral value AND its file name is
    * bucket-stamped to the same id — the exact per-file test the
    * all-or-nothing scan gate ([[bucketSpec]]) applies. */
  private def bucketFileConforms(sp: PartitionSpec, f: DataFileMeta): Boolean = {
    val dir = sp.dirValue(f.path).flatMap(v => scala.util.Try(v.toInt).toOption)
    dir.isDefined && GraftRelation.bucketIdOf(f.path.substring(f.path.lastIndexOf('/') + 1)) == dir
  }

  /** Files that do NOT conform to the active bucket spec — an older spec
    * generation's dir layout, pre-spec (no dirs), or unstamped names. Any
    * one of them keeps the bucketed-scan gate off for every scan that
    * selects it; [[graft.ops.Rebucket.migrate]] rewrites exactly this set.
    * Empty when the active spec carries no (single) bucket transform —
    * there is nothing to conform to. */
  def nonconformingFiles: Seq[DataFileMeta] = activeBucketSpec match {
    case Some(sp) => files.filterNot(f => bucketFileConforms(sp, f))
    case None     => Seq.empty
  }

  // ---- scans ---------------------------------------------------------------

  /** `df` — a parquet file-source scan over exactly `filesRead` — without
    * the rows the snapshot's position deletes remove: `dv_keep` over the
    * bitmaps of the read files' DV entries, whatever the DV row count
    * (Roaring containers hold dense runs in a few bytes per 64K positions);
    * no-op when no read file has one. Every rewrite pass MUST read its input
    * files through this (then commit via [[GraftTable.replaceFiles]], which
    * drops exactly the rewritten files' DV entries). */
  def withPositionDeletes(df: DataFrame, filesRead: Seq[DataFileMeta]): DataFrame = {
    val read = filesRead.map(_.path).toSet
    val hit = dvEntries.filter(e => read.contains(e.dataFile))
    if (hit.isEmpty) df else df.filter(DeletionVectors.keep(table.root, hit))
  }

  /** Like [[withPositionDeletes]] but ALWAYS materializes the surviving
    * rows' (file, row-position) as `_gdv_rel`/`_gdv_idx` — for rewriters
    * that need them (the MoR merge records changed target rows as
    * deletion-vector entries). `df` must sit directly above a file-source
    * scan, where `_metadata` resolves. */
  def withPositionDeletesKeepingPos(df: DataFrame, filesRead: Seq[DataFileMeta]): DataFrame =
    withPositionDeletes(df, filesRead)
      .withColumn("_gdv_rel", DeletionVectors.relPathColumn)
      .withColumn("_gdv_idx", org.apache.spark.sql.functions.col("_metadata.row_index"))

  /** A rewrite's input: `fs` through the snapshot relation (its file
    * statuses come from metadata: no existence checks, no listing) with
    * their position deletes applied. Every column reads nullable, as a
    * path-based parquet read does: a rewrite's files carry the Spark row
    * metadata copy compaction expects of them (`Compact.copyBins`). */
  def readFiles(fs: Seq[DataFileMeta]): DataFrame = withPositionDeletes(
    GraftRelation.dataFrame(spark, Shims.asNullable(schema), table.root, fs, allPartitionSpecs), fs)

  /** The graft relation over exactly `fs` (Catalyst pushes filters into its
    * file index); no deletes applied. */
  def relation(fs: Seq[DataFileMeta], isStreaming: Boolean = false,
      bucketed: Option[BucketSpec] = None): DataFrame =
    GraftRelation.dataFrame(spark, schema, table.root, fs, allPartitionSpecs,
      isStreaming = isStreaming, bucketSpec = bucketed)

  /** `fs` (files of the pinned snapshot) as that snapshot shows them: its
    * position deletes applied. */
  def live(fs: Seq[DataFileMeta], isStreaming: Boolean = false): DataFrame =
    withPositionDeletes(relation(fs, isStreaming), fs)

  /**
   * Snapshot-isolated read of the pinned snapshot: Catalyst pushes the
   * query's own data filters into the relation's file index, so min/max
   * file skipping happens for ANY predicate later applied to the returned
   * DataFrame — `predicate` is an eager pre-prune plus residual filter for
   * callers that want plan-time file counts. Position deletes apply as the
   * `dv_keep` bitmap filter over the ONE scan of all planned files: a file
   * without DV entries costs the probe one path compare per row, less than
   * a second scan node would, and the scan keeps the bucketed-scan gate.
   */
  def read(predicate: Option[Column] = None): DataFrame = {
    val planned = planFiles(predicate)
    val live = withPositionDeletes(relation(planned, bucketed = bucketSpec(planned)), planned)
    predicate.fold(live)(live.filter)
  }

  /** Rows of `fs` at the positions `entries` delete — the row images a
    * delete-pos commit removed (the changelog/CDC scan). Touches only the
    * entries' data files; the negated `dv_keep` bitmap filter selects the
    * rows. */
  def rowsAtPositions(fs: Seq[DataFileMeta], entries: Seq[DvMeta]): DataFrame = {
    val named = entries.map(_.dataFile).toSet
    relation(fs.filter(f => named.contains(f.path))).filter(!DeletionVectors.keep(table.root, entries))
  }

  /**
   * The file-level diff behind [[GraftTable.incrementalRead]]: data files
   * APPENDED in `(fromSnapshotId, to]` (default: the pinned snapshot), plus
   * the resolved `to` id (so callers apply that snapshot's deletes).
   * `skipChangeCommits = true` silently SKIPS row-changing commits (merge /
   * update / delete / overwrite) instead
   * of throwing — the streaming CDC source's opt-out, mirroring the
   * append-only contract a tailing consumer accepts: appends land, rewrites
   * of already-delivered rows are never re-delivered or retracted.
   */
  def incrementalFiles(
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None,
      skipChangeCommits: Boolean = false): (Seq[DataFileMeta], Long) = {
    val (commits, to) = commitsSince(fromSnapshotId, toSnapshotId, "incremental read")
    val added = commits.flatMap { case (snap, parent) =>
      snap.operation match {
        // "publish" (branch cherry-pick) is append-SHAPED: manifests are
        // the parent's plus the staged additions, deletes unchanged
        case "append" | "publish" =>
          val parentManifests = parent.map(_.manifests.map(_.path).toSet).getOrElse(Set.empty)
          snap.manifests.filterNot(m => parentManifests.contains(m.path))
            .flatMap(m => table.readManifest(m.path))
        // schema evolution commits reshape METADATA only (stats-key remap);
        // every row survives them, so incremental readers pass through —
        // ONE shared op set with the changelog
        case op if Changelog.RowPreservingOps.contains(op) => Nil
        case op =>
          if (!skipChangeCommits)
            throw new IllegalArgumentException(
              s"snapshot ${snap.id} is a row-changing '$op' commit; " +
                "file-level incremental read is append-only — diff full snapshots " +
                "instead (streaming readers: option skip-change-commits=true)")
          Nil // skipped: the change commit's file additions are not emitted
      }
    }
    (added, to)
  }

  /** The commits of `(fromSnapshotId, to]` (`to` defaults to the pinned
    * snapshot), newest first, each with its parent when retained, plus the
    * resolved `to` id — the chain walk the incremental reader and the
    * changelog share. Fails on an unknown `from` and on a chain broken by
    * expiry or a rollback onto another branch. */
  private[table] def commitsSince(fromSnapshotId: Long, toSnapshotId: Option[Long],
      what: String): (Seq[(Snapshot, Option[Snapshot])], Long) = {
    val md = metadata
    val to = toSnapshotId.orElse(snapshot.map(_.id)).getOrElse(
      throw new IllegalArgumentException(s"$what on an empty table"))
    require(md.snapshot(fromSnapshotId).nonEmpty || fromSnapshotId == 0,
      s"unknown or expired snapshot $fromSnapshotId")
    require(md.snapshot(to).nonEmpty, s"unknown snapshot $to")
    val walk = md.ancestry(to)
    val newer = walk.takeWhile(_.id != fromSnapshotId)
    require(newer.size < walk.size || (fromSnapshotId == 0 && walk.last.parentId.isEmpty),
      s"snapshot chain from $to to $fromSnapshotId broken " +
        "(expired snapshot, or a rollback onto another branch?)")
    newer.foreach(_.requireNoEqualityDeletes())
    (newer.map(s => s -> s.parentId.flatMap(md.snapshot)), to)
  }

  // ---- writes --------------------------------------------------------------

  /** `df` as [[writeDataFiles]] lays it out: columns in schema order,
    * each re-aliased with its table field's metadata. */
  private def writeProjection(df: DataFrame): DataFrame = {
    // select in schema order so files are column-identical across commits;
    // re-aliasing with the table field's METADATA stamps the stable parquet
    // field id onto every written column (fieldId.write.enabled is on by
    // default), which is what rename/drop evolution resolves by later
    val cols = schema.fields.map { f =>
      // NESTED field ids live in the column's TYPE (StructField metadata
      // inside the struct), which comes from the incoming frame, not the
      // top-level alias — cast struct columns to the table's type so
      // fieldId.write stamps interior ids too. Only when the shapes agree
      // in order and names (then the positional cast is a pure metadata
      // reshape, and a no-op if the frame already carries the ids); any
      // other frame keeps today's behavior.
      val c = f.dataType match {
        case st: StructType if df.schema.fields
            .find(_.name.equalsIgnoreCase(f.name))
            .exists(d => GraftTable.sameShape(d.dataType, st) && d.dataType != st) =>
          df.col(f.name).cast(st)
        case _ => df.col(f.name)
      }
      c.as(f.name, f.metadata)
    }.toSeq
    df.select(cols: _*)
  }

  /** One (check, column path) per NOT NULL field of the table schema that
    * `df` (in [[writeProjection]]) carries, nested struct fields included:
    * a nested field must be non-NULL wherever its parent struct is. */
  private def notNullChecks(df: DataFrame): Seq[(Column, String)] = {
    def walk(fields: Seq[StructField], have: StructType, parent: Option[Column],
        path: String): Seq[(Column, String)] =
      fields.flatMap { f =>
        have.fields.find(_.name.equalsIgnoreCase(f.name)).toSeq.flatMap { h =>
          val c = parent.fold(df.col(s"`${h.name.replace("`", "``")}`"))(_.getField(h.name))
          val at = if (path.isEmpty) f.name else s"$path.${f.name}"
          val self =
            if (f.nullable) Nil
            else Seq(parent.fold(c.isNotNull)(p => p.isNull || c.isNotNull) -> at)
          self ++ ((f.dataType, h.dataType) match {
            case (t: StructType, hs: StructType) => walk(t.fields.toSeq, hs, Some(c), at)
            case _ => Nil
          })
        }
      }
    walk(schema.fields.toSeq, df.schema, None, "")
  }

  /** The Spark row schema [[writeDataFiles]] would write for `df` — the
    * `org.apache.spark.sql.parquet.row.metadata` of its files. Analysis
    * only, no job. */
  def writeSchema(df: DataFrame): StructType = writeProjection(df).schema

  /** `df` in [[writeProjection]] under the table's CHECK and NOT NULL
    * constraints: ONE filter whose conjunction of `assert_true`s throws
    * (naming the constraint or column) on the first violating row, in
    * constraint order — it rides the write pass itself, zero extra scans at
    * any scale. SQL semantics: a NULL check passes. Existing rows were
    * validated when the constraint was added, so rewrites of old data can
    * never trip here; a NOT NULL check on a column the frame already types
    * non-nullable folds away at planning. */
  private def constrained(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, coalesce, expr, lit}
    val projected = writeProjection(df)
    val checks = constraints.toSeq.map { case (name, check) =>
      coalesce(expr(check), lit(true)) -> s"CHECK constraint '$name' violated: $check"
    } ++ notNullChecks(projected).map { case (ok, path) =>
      ok -> s"NOT NULL constraint violated: column '$path' is NULL"
    }
    checks.map { case (ok, msg) => assert_true(ok, lit(msg)).isNull }.reduceOption(_ && _)
      .fold(projected)(projected.filter)
  }

  /** The parquet writer options of every data file write. */
  private lazy val parquetOptions: Map[String, String] =
    // parquet drops chunk stats entirely once min+max exceed ~4 KB, which
    // silences pruning for document-sized string columns; truncating at
    // write time (sound: prefix min, incremented-prefix max) keeps bounds
    // for every string column at any value size
    Map("parquet.statistics.truncate.length" -> "64") ++
      // per-column parquet BLOOM FILTERS (table property `bloom-columns`,
      // comma-separated): point lookups / IN probes on a key column skip
      // row groups whose min/max would admit them — at a 10^12-row corpus
      // the difference between "read the row group" and "skip it" for the
      // overwhelming majority of url point queries
      bloomColumns.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")

  /**
   * Write `df` as new data files under a fresh commit directory and collect
   * their footer stats. Does NOT commit — callers build the snapshot.
   * Partitioning/file count is the caller's responsibility (e.g.
   * `repartitionByRange` before calling).
   */
  def writeDataFiles(df: DataFrame, commitUuid: String = UUID.randomUUID.toString,
      maxRecordsPerFile: Long = 0L): Seq[DataFileMeta] = {
    val dir = s"${table.dataDir}/$commitUuid"
    // INT96 (Spark's legacy parquet timestamp) carries no min/max stats;
    // micros are required for warc_ts pruning bounds. Set on the FRAME'S
    // session, not the table handle's: a streaming micro-batch executes
    // under MicroBatchExecution's cloned session, whose SQLConf snapshot
    // never sees a conf set on the original — sink-written files would
    // silently lose every timestamp bound
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // hidden partitioning: group rows by the transforms so each file covers
    // ONE partition tuple (the derived columns live only in dir names —
    // partitionBy removes them from file contents, keeping old and new files
    // column-identical)
    val prepared = partitionSpecs.foldLeft(constrained(df))((d, sp) => d.withColumn(sp.name, sp.column(schema)))
    // roll to a new file every N records WITHIN a task: sorted partition
    // runs split into right-sized files without extra partitions (order and
    // per-file min/max tightness preserved — each file is a sorted run)
    val writer = prepared.write.options(parquetOptions ++
      Option.when(maxRecordsPerFile > 0)("maxRecordsPerFile" -> maxRecordsPerFile.toString))
    (if (partitionSpecs.isEmpty) writer else writer.partitionBy(partitionSpecs.map(_.name): _*))
      .mode("errorifexists").parquet(dir)
    val written = GraftTable.stampBucketIds(partitionSpecs, FileIO.listFilesRecursively(dir, ".parquet"))
    StatsCollector.collect(spark, schema, table.root, written, commitUuid)
  }

  /**
   * [[writeDataFiles]] for rows the caller holds on the driver, in table
   * schema order, each file sorted by `sortBy`. When the table is
   * unpartitioned and the constrained write projection folds to a
   * `LocalRelation` (its CHECK and NOT NULL asserts then raise, with the
   * same messages, while the optimizer folds them), Spark's parquet writer
   * writes the rows in this thread ([[LocalParquet]]): the same projection
   * and field ids, TIMESTAMP_MICROS, writer options, record rolling, file
   * naming and `_SUCCESS` marker as the Spark write, and no Spark job.
   * Otherwise the rows take the Spark write as one sorted task.
   * A file rolls at the first row past `maxRecordsPerFile` whose leading
   * sort key's manifest lower bound is not below the previous row's upper
   * bound ([[Bounds.truncatedMin]]/[[Bounds.truncatedMax]]): adjacent
   * files' key bounds never overlap, even where string bounds are cut.
   */
  def writeRows(rows: Seq[Row], sortBy: Seq[String], commitUuid: String = UUID.randomUUID.toString,
      maxRecordsPerFile: Long = 0L): Seq[DataFileMeta] = {
    import scala.jdk.CollectionConverters._
    // all nullable: a NOT NULL check on a non-nullable input column folds away
    val df = spark.createDataFrame(rows.asJava, Shims.asNullable(schema))
    val local = if (partitionSpecs.nonEmpty) None else LocalParquet.rows(constrained(df))
    local.fold(writeDataFiles(df.coalesce(1).sortWithinPartitions(sortBy.map(df.col): _*), commitUuid,
        maxRecordsPerFile)) { case (rowSchema, data) =>
      val dir = s"${table.dataDir}/$commitUuid"
      val writer = new LocalParquet(spark, rowSchema, parquetOptions)
      // Spark's names for one task's files: part-<task>-<job uuid>-c<file>
      val job = UUID.randomUUID.toString
      val sorted = LocalParquet.sorted(rowSchema, data, sortBy).toIndexedSeq
      val lead = sortBy.headOption.map(c => rowSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
        .filter(i => rowSchema(i).dataType == StringType)
      def separated(a: InternalRow, b: InternalRow): Boolean = lead.forall(i => a.isNullAt(i) || b.isNullAt(i) ||
        Bounds.compare(StringType, Bounds.truncatedMax(StringType, a.getUTF8String(i).toString),
          Bounds.truncatedMin(StringType, b.getUTF8String(i).toString)) <= 0)
      val written = scala.collection.mutable.ArrayBuffer.empty[String]
      var start = 0
      while (start < sorted.size) {
        var end = if (maxRecordsPerFile > 0) math.min(sorted.size.toLong, start + maxRecordsPerFile).toInt
          else sorted.size
        while (end < sorted.size && !separated(sorted(end - 1), sorted(end))) end += 1
        val path = f"$dir/part-00000-$job-c${written.size}%03d${writer.extension}"
        writer.write(path, sorted.slice(start, end).iterator)
        written += path
        start = end
      }
      writer.markSuccess(dir)
      StatsCollector.collect(spark, schema, table.root, written.toSeq, commitUuid)
    }
  }
}
