package graft.table

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * The graft table: Parquet data files under an immutable snapshot/manifest
 * metadata layer with optimistic-concurrency commits.
 *
 * This is the engine's answer to the reference's whole pipeline: where
 * HBase-To-Hive moves rows between live stores with a checkpoint row
 * (`util/TimeStampUtil.java:53-109`) and commits by DROP/RENAME
 * (`hive/HiveTableIR.java:296-299`), here every maintenance pass writes new
 * immutable files and atomically swaps a metadata pointer, so concurrent
 * readers are snapshot-isolated by construction.
 *
 * Every read and every operation plans from ONE [[TableState]]
 * (`table.state`): a committed metadata version, read with one listing and
 * one parse, from which schema, specs, files and deletes all derive. The
 * getters below are one-line forwards to a fresh state for callers that
 * need a single view; an op that needs several pins one state and uses
 * only it until its commit, which re-reads the latest version per CAS
 * attempt ([[commitFull]]).
 *
 * Scale notes (designed for ~10^5 data files / 100 TB):
 *  - data reads go through Spark's vectorized Parquet reader with
 *    whole-stage codegen; this class only plans which files to read;
 *  - file pruning is driver-side over in-memory `DataFileMeta` (a few
 *    hundred bytes per file — 10^5 files ≈ tens of MB);
 *  - footer stats collection is distributed (see [[StatsCollector]]).
 */
class GraftTable private (val root: String, val spark: SparkSession) {

  def dataDir = s"$root/data"
  def metricsDir = s"$root/metrics"

  // ---- metadata access -----------------------------------------------------

  /** Latest committed version number: ONE `metadata/` listing (see [[Commit]]). */
  def currentVersion: Int = Commit.latest(root)

  def metadata: TableMetadata = Commit.read(root)._2

  /** The latest committed version, pinned at its current snapshot. */
  def state: TableState = stateFor(metadata)

  private def stateFor(md: TableMetadata): TableState =
    new TableState(this, md, md.currentSnapshot)

  @volatile private var fieldIdConfSet = false

  /** `md`'s table schema. Field-id column resolution (see
    * [[GraftTable.withFieldIds]]): when a requested schema carries parquet
    * field ids, the vectorized reader looks columns up BY ID — what keeps
    * files written before a RENAME readable (their physical name differs).
    * Flipped only once a session actually resolves an id-ful graft schema
    * (every read/merge/stream path passes through here first), so sessions
    * that never touch such a table keep Spark's default by-name resolution
    * everywhere. */
  private[table] def parseSchema(md: TableMetadata): StructType = {
    val s = md.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(StructType.fromDDL(md.schemaDdl))
    if (!fieldIdConfSet && GraftTable.hasFieldIds(s)) {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      fieldIdConfSet = true
    }
    s
  }

  // ---- single-view getters: each reads a fresh state ----------------------
  // (see [[TableState]] for what each returns; an op that needs several
  // views pins ONE state instead)

  def schema: StructType = state.schema
  def partitionSpecs: Seq[PartitionSpec] = state.partitionSpecs
  /** First (or only) hidden-partitioning transform. */
  def partitionSpec: Option[PartitionSpec] = partitionSpecs.headOption
  def allPartitionSpecs: Seq[PartitionSpec] = state.allPartitionSpecs
  def currentSnapshot: Option[Snapshot] = metadata.currentSnapshot
  def constraints: Map[String, String] = state.constraints
  def retired: Set[String] = state.retired
  def nonconformingFiles(): Seq[DataFileMeta] = state.nonconformingFiles

  // the rest take an optional snapshot id (default: the current snapshot)
  def files(snapshotId: Option[Long] = None): Seq[DataFileMeta] = state.at(snapshotId).files
  def planFiles(predicate: Option[Column], snapshotId: Option[Long] = None): Seq[DataFileMeta] =
    state.at(snapshotId).planFiles(predicate)
  def read(predicate: Option[Column] = None, snapshotId: Option[Long] = None): DataFrame =
    state.at(snapshotId).read(predicate)
  def positionDeletes(snapshotId: Option[Long] = None): Seq[DataFileMeta] =
    state.at(snapshotId).positionDeletes
  def posDeleteRowCounts(snapshotId: Option[Long] = None): Map[String, Long] =
    state.at(snapshotId).posDeleteRowCounts
  /** The `BucketSpec` a scan over a whole snapshot may report — for
    * front-door relations built outside [[read]] (the DSv1 provider). */
  def bucketSpec(snapshotId: Option[Long] = None): Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    val st = state.at(snapshotId)
    st.bucketSpec(st.files)
  }
  def incrementalFiles(fromSnapshotId: Long, toSnapshotId: Option[Long] = None,
      skipChangeCommits: Boolean = false): (Seq[DataFileMeta], Long) =
    state.incrementalFiles(fromSnapshotId, toSnapshotId, skipChangeCommits)

  /**
   * Partition-spec evolution: replace the ACTIVE transform set (None =
   * unpartition). New files are written under the new spec; existing files
   * keep their directory layout, and the outgoing spec joins the history
   * property so their pruning keeps working (see [[allPartitionSpecs]]).
   * Maintenance groups by each file's own generation, so compaction or
   * clustering never mixes generations into one rewrite group — changing
   * `bucket(8)` to `bucket(16)` migrates the layout incrementally as data
   * is rewritten, not in one big bang.
   */
  def setPartitionSpec(spec: Option[String]): TableMetadata = commitMetadataUpdate { md =>
    val sch = stateFor(md).schema
    spec.foreach(s => PartitionSpec.parseMulti(s).foreach(_.validate(sch)))
    val oldActive = md.properties.get(PartitionSpec.Property)
    if (oldActive == spec) md
    else {
      val hist = PartitionSpec.parseHistory(md.properties.get(PartitionSpec.HistoryProperty))
      val newHist = PartitionSpec.serializeHistory((hist ++ oldActive.toSeq).distinct)
      val props = (spec match {
        case Some(s) => md.properties + (PartitionSpec.Property -> s)
        case None    => md.properties - PartitionSpec.Property
      }) ++ (if (newHist.nonEmpty) Map(PartitionSpec.HistoryProperty -> newHist) else Map.empty)
      md.copy(properties = props)
    }
  }

  /** The entries of a data manifest, parsed at most once per
    * JVM while the bounded parse cache holds them: manifests are write-once
    * under fresh UUID names, so a cached parse never goes stale. */
  def readManifest(relPath: String): Seq[DataFileMeta] =
    GraftTable.manifestCache(s"$root/$relPath")(
      readLines(relPath).map(MetaJson.readDataFileMeta))

  /** The entries of a deletion-vector manifest, cached like [[readManifest]].
    * Fails on a manifest of graft's earlier parquet DV format (lines naming
    * `(_file, _pos)` parquet files) rather than reading it as no deletes. */
  def readDvManifest(relPath: String): Seq[DvMeta] =
    GraftTable.dvManifestCache(s"$root/$relPath")(readLines(relPath).map { line =>
      val e = MetaJson.readDvMeta(line)
      if (e.blob == null || e.dataFile == null)
        throw new IllegalStateException(s"$root/$relPath is a position-delete manifest of " +
          "the old parquet deletion-vector format ((_file, _pos) parquet files); this " +
          "version reads only Roaring-blob DV entries and cannot apply its deletes")
      e
    })

  private def readLines(relPath: String): Vector[String] =
    FileIO.readString(s"$root/$relPath").linesIterator.filter(_.nonEmpty).toVector

  /** Write a manifest for `metas`; returns its ManifestMeta. */
  def writeManifest(metas: Seq[DataFileMeta]): ManifestMeta =
    writeLines(metas, metas.map(_.rows).sum, metas.map(_.bytes).sum)

  /** Write a deletion-vector manifest for `entries`: rows are their
    * cardinalities, bytes their blob lengths. */
  def writeDvManifest(entries: Seq[DvMeta]): ManifestMeta =
    writeLines(entries, entries.map(_.cardinality).sum, entries.map(_.length).sum)

  private def writeLines(entries: Seq[AnyRef], rows: Long, bytes: Long): ManifestMeta = {
    val rel = s"metadata/manifest-${UUID.randomUUID}.json"
    FileIO.writeString(s"$root/$rel", entries.map(MetaJson.write).mkString("\n"))
    ManifestMeta(rel, entries.size, rows, bytes)
  }

  // ---- time travel ---------------------------------------------------------

  def readSnapshot(snapshotId: Long): DataFrame = read(None, Some(snapshotId))

  /** Latest snapshot committed at or before `tsMs` (time travel by wall
    * clock — pair with [[readSnapshot]]). Resolved against the CURRENT
    * snapshot's ancestor chain only: branches abandoned by [[rollback]]
    * stay readable by id but must not win as-of resolution (their commit
    * timestamps are later than the rollback target's, so a whole-log scan
    * would time-travel onto the abandoned branch). */
  def snapshotAsOf(tsMs: Long): Option[Snapshot] = {
    val md = metadata
    md.currentSnapshotId.toSeq.flatMap(md.ancestry)
      .filter(_.timestampMs <= tsMs).sortBy(s => (s.timestampMs, s.id)).lastOption
  }

  def readAsOf(tsMs: Long): DataFrame = {
    val snap = snapshotAsOf(tsMs).getOrElse(
      throw new IllegalArgumentException(s"no snapshot committed at or before $tsMs"))
    readSnapshot(snap.id)
  }

  // ---- metadata tables (Iceberg-style observability) ------------------------

  /** The snapshot log as a DataFrame (id, parent, ts, op, manifest/file/row/
    * byte counts + summary) — `SELECT`-able table history. */
  def snapshotsDf: DataFrame = {
    import spark.implicits._
    metadata.snapshots.map { s =>
      (s.id, s.parentId, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.manifests.size, s.manifests.map(_.fileCount.toLong).sum,
        s.manifests.map(_.rows).sum, s.manifests.map(_.bytes).sum,
        s.summary)
    }.toDF("snapshot_id", "parent_id", "committed_at", "operation",
      "manifests", "files", "rows", "bytes", "summary")
  }

  /** The current (or a pinned) snapshot's file inventory as a DataFrame —
    * per-file rows, bytes, and min/max bounds for planning introspection. */
  def filesDf(snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    files(snapshotId).map { f =>
      (f.path, f.rows, f.bytes, f.commitUuid, f.minValues, f.maxValues, f.nullCounts)
    }.toDF("path", "rows", "bytes", "commit_uuid", "min_values", "max_values", "null_counts")
  }

  /** The current (or a pinned) snapshot's live deletion-vector blobs as a
    * DataFrame (``graft.`/path`.deletes`` metadata table), with per-blob
    * live row and byte counts — the observability a 100 TB operator needs
    * to decide when delete pressure warrants a compaction pass. */
  def deletesDf(snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    state.at(snapshotId).positionDeletes.map(f => (f.path, f.rows, f.bytes, f.commitUuid))
      .toDF("path", "rows", "bytes", "commit_uuid")
  }

  /** Per-partition file aggregates (``graft.`/path`.partitions`` metadata
    * table): files, rows, bytes, and the min/max file size of every hidden
    * partition — the "which partition needs OPTIMIZE" view. Partition
    * values are parsed from the data-file dir names, so files from
    * DIFFERENT spec generations land in distinct rows (`gp_bucket_8_url=3`
    * vs `gp_bucket_16_url=3` are different partitions — each file answers
    * only for the generation it was written under); pre-spec files report
    * as `<unpartitioned>`. Driver-side fold over the in-memory file metas —
    * O(live files), like every planning op here (≈20 ms at 2,560 files,
    * measured in the soak). */
  def partitionsDf(snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // ONE state for both the spec set and the file list — two loads could
    // pair one version's files with another's specs across a concurrent
    // spec-evolution commit
    val st = state.at(snapshotId)
    val specs = st.allPartitionSpecs
    st.files
      .map { f =>
        val pvals = specs.flatMap(sp => sp.dirValue(f.path).map(v => s"${sp.name}=$v"))
        (if (pvals.isEmpty) "<unpartitioned>" else pvals.mkString("/"), f)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (p, g) =>
        val fs = g.map(_._2)
        (p, fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum,
          fs.map(_.bytes).min, fs.map(_.bytes).max)
      }
      .toDF("partition", "files", "rows", "bytes", "min_file_bytes", "max_file_bytes")
  }

  /** Typed read: the snapshot-isolated scan as a `Dataset[T]` (per the
    * engine contract: typed Dataset/DataFrame APIs end-to-end, no RDDs). */
  def readAs[T: org.apache.spark.sql.Encoder](
      predicate: Option[Column] = None,
      snapshotId: Option[Long] = None): org.apache.spark.sql.Dataset[T] =
    read(predicate, snapshotId).as[T]

  // ---- merge-on-read deletes (deletion vectors) ------------------------------

  /**
   * Merge-on-read KEY delete: remove the rows live now whose `keys` columns
   * equal a tuple of `keys`, as deletion-vector positions, WITHOUT
   * rewriting any data file — at 100 TB you do not rewrite a 1 GB file to
   * delete three rows. The keys are evaluated once; MERGE's interval-index
   * probe ([[graft.ops.Merge.touchedFiles]]) narrows the scan to the files
   * whose key bounds may hold one (every live file when a key type has no
   * bounds), and a semi-join of those files' live positions with the keys
   * picks the rows.
   *
   * Semantics (Iceberg's sequence numbers): the delete removes the rows
   * live when it commits; rows committed later with the same key — by
   * append, branch publish, MERGE or overwrite — are visible. A NULL key
   * matches nothing. Commits as `delete-pos` (summary `delete-key`), like
   * [[deleteWherePositional]]; None when no live row matches.
   */
  def deleteByKeysMoR(keys: DataFrame, summary: Map[String, String] = Map.empty): Option[Snapshot] =
    graft.ops.RowLevel.deleteByKeys(this, keys, summary)

  /**
   * Merge-on-read POSITION delete (deletion vector): record the row
   * positions matching `predicate` as per-file bitmaps and commit
   * WITHOUT rewriting any data file — at 100 TB a trickle delete must not
   * rewrite 1 GB files for a few rows each (the same niche as
   * [[deleteByKeysMoR]], re-imagining the reference's incremental delete
   * delivery, `adapter/HBaseSourceTableAdapter.java:592-604`).
   *
   * Position deletes are FILE-SCOPED: any predicate is allowed, rows
   * appended LATER are unaffected, MERGE keeps running, and a rewrite
   * clears exactly the rewritten files' delete rows — they compose with
   * every maintenance op instead of blocking it. Cost: one metadata-pruned
   * scan of the candidate files to record positions. Commits `delete-pos`
   * through [[graft.ops.RowLevel.mergeOnRead]]; returns None when no row
   * matches.
   */
  def deleteWherePositional(predicate: Column,
      summary: Map[String, String] = Map.empty): Option[Snapshot] =
    graft.ops.RowLevel.where(this, predicate, None, graft.ops.RowLevel.MergeOnRead, summary = summary)

  /**
   * Merge-on-read UPDATE (Delta-DV-style): ONE `update-pos` commit that
   * position-deletes the matching rows and appends their updated images —
   * no data file is rewritten, so a trickle update on a 100 TB table costs
   * the matching rows, not the touched files. Assignments evaluate against
   * the PRE-update row (ANSI semantics), cast to the column type; CHECK and
   * NOT NULL constraints run inline on the appended images
   * (writeDataFiles). Returns None when no row matches.
   */
  def updateWherePositional(predicate: Column, set: Map[String, Column],
      summary: Map[String, String] = Map.empty): Option[Snapshot] =
    graft.ops.RowLevel.where(this, predicate, Some(set), graft.ops.RowLevel.MergeOnRead, summary = summary)

  /**
   * Compact the live deletion-vector blobs — the niche of Iceberg's
   * `rewrite_position_delete_files` — WITHOUT touching any data file.
   * Every MoR delete/update/merge commit writes its own small blob and adds
   * one entry per data file, and a read ORs a file's entries, so between
   * delete-pressure compactions the blob and entry counts grow with the
   * commit rate. One driver-side pass ORs each data file's live entries
   * into one bitmap and writes them all into one blob. Entries never name
   * dead data files ([[replaceFiles]] drops them at each data-file rewrite),
   * and a concurrent DV change between plan and commit aborts loudly (the
   * covered manifests must all still be live). Commits as row-preserving
   * `rewrite-deletes`: invisible to changelog and incremental readers, like
   * compact/cluster. Returns None below 2 live blobs.
   */
  def rewriteDeleteFiles(summary: Map[String, String] = Map.empty): Option[Snapshot] = {
    val st = state
    val blobsIn = st.positionDeletes.size
    if (blobsIn < 2) return None
    val covered = st.snapshot.toSeq.flatMap(_.posDeleteList).map(_.path).toSet
    val uuid = s"dvc-${UUID.randomUUID}"
    try {
      val entries = DeletionVectors.write(root, uuid, DeletionVectors.load(root, st.dvEntries))
      Some(commitFull("rewrite-deletes") { parent =>
        val parentList = parent.toSeq.flatMap(_.posDeleteList)
        require(covered.subsetOf(parentList.map(_.path).toSet),
          "rewrite-deletes planned against DV manifests a concurrent commit " +
            "replaced (a data-file rewrite cleared some of their entries); re-run")
        val kept = parentList.filterNot(m => covered.contains(m.path))
        (parent.map(_.manifests).getOrElse(Seq.empty),
          Some(kept :+ writeDvManifest(entries)),
          summary ++ Map(
            "dv-files-in" -> blobsIn.toString,
            "dv-files-out" -> "1",
            "dv-rows-out" -> entries.map(_.cardinality).sum.toString))
      })
    } catch { case e: Throwable => FileIO.deleteRecursively(s"$dataDir/$uuid"); throw e }
  }

  /** `manifests` without the entries `gone` selects, driver-side: a
    * manifest with none keeps as is, one with some is rewritten with the
    * rest, or dropped when none remain. Returns the new list and the
    * removed entries. */
  private def dropEntries[T](manifests: Seq[ManifestMeta], read: String => Seq[T],
      write: Seq[T] => ManifestMeta)(gone: T => Boolean): (Seq[ManifestMeta], Seq[T]) = {
    val kept = Seq.newBuilder[ManifestMeta]
    val removed = Seq.newBuilder[T]
    for (m <- manifests) {
      val (g, stay) = read(m.path).partition(gone)
      removed ++= g
      if (g.isEmpty) kept += m
      else if (stay.nonEmpty) kept += write(stay)
    }
    (kept.result(), removed.result())
  }

  /**
   * Incremental (CDC-style) read: rows APPENDED after `fromSnapshotId`
   * (exclusive) up to `toSnapshotId` (inclusive; default current) — the
   * engine's answer to the reference's checkpoint-driven incremental load
   * (`util/TimeStampUtil.java:53-109` + the time-range scan at
   * `job/JobUtil.java:543-577`): instead of re-scanning a time window with a
   * 90-day late-data allowance, the snapshot chain names exactly the data
   * files each append committed, so the diff is precise and re-runnable.
   *
   * Row-preserving rewrites (compact / cluster / rewrite-manifests) are
   * transparent — they reshuffle existing rows into new files and are
   * skipped. Row-CHANGING snapshots in the range (merge / delete /
   * overwrite) cannot be expressed as a file-level append diff; those
   * throw, directing the caller to a full-table diff.
   */
  def incrementalRead(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val st = state
    val (added, to) = st.incrementalFiles(fromSnapshotId, toSnapshotId)
    // the consumer must see exactly what `read()` at `to` would show for
    // these rows
    st.at(to).live(added)
  }

  /**
   * Row-level CDC changelog of `(fromSnapshotId, to]`: per-commit INSERT and
   * DELETE row images ([[Changelog.ChangeTypeCol]] / [[Changelog.CommitCol]]
   * columns appended to the table schema) — the change-capture mode that
   * handles the row-CHANGING commits [[incrementalRead]] must refuse (merge /
   * update / delete commits), at the cost of computing each such
   * commit's removed-vs-added row diff. Fold in commit order to materialize.
   * Streaming form: `readStream.format("graft").option("change-rows", true)`.
   *
   * `updateImagesOn`: pair each commit's delete+insert of the same key tuple
   * into `update_preimage`/`update_postimage` events (Delta-CDF-style; see
   * [[Changelog.withUpdateImages]]) — pass the table's MERGE key.
   */
  def changes(fromSnapshotId: Long, toSnapshotId: Option[Long] = None,
      updateImagesOn: Seq[String] = Seq.empty): DataFrame =
    Changelog.changes(state, fromSnapshotId, toSnapshotId, updateImagesOn = updateImagesOn)

  // ---- writes --------------------------------------------------------------

  /** Append-only commit: parent manifests + one new manifest.
    * `propertyUpdates` land atomically in the same metadata version (e.g.
    * the streaming batch-id watermark).
    *
    * Write-time clustering (table property `write.sort-order`, a
    * comma-separated column list): each task's rows are sorted by the
    * listed columns before writing, so every new file is a sorted run with
    * TIGHT min/max bounds on the sort prefix — incremental clustering paid
    * as one in-task sort (no shuffle, no extra pass), where a full
    * `OPTIMIZE … ZORDER` rewrite stays the deep-clustering tool.
    * `write.max-records-per-file` rolls each task's (sorted) run into
    * bounded files — with `write.sort-order` that is what makes the
    * per-file min/max TIGHT (a sorted task writing one giant file still
    * spans the full range); also the generic file-size governor for
    * producers that can't size their partitions. */
  def append(
      df: DataFrame,
      summary: Map[String, String] = Map.empty,
      propertyUpdates: Map[String, String] = Map.empty,
      toBranch: Option[String] = None,
      mergeSchema: Boolean = false): Snapshot = {
    if (mergeSchema) mergeSchemaFor(df)
    val st = state
    val maxRec = st.metadata.properties.get(GraftTable.MaxRecordsPerFileProp)
      .map(_.toLong).filter(_ > 0).getOrElse(0L)
    val sorted =
      if (st.writeSortColumns.isEmpty) df
      else df.sortWithinPartitions(st.writeSortColumns.map(org.apache.spark.sql.functions.col): _*)
    val metas = st.writeDataFiles(sorted, maxRecordsPerFile = maxRec)
    commitFull("append", propertyUpdates = propertyUpdates, toBranch = toBranch) { parent =>
      val mf = writeManifest(metas)
      (parent.map(_.manifests).getOrElse(Seq.empty) :+ mf,
        parent.flatMap(_.posDeleteManifests),
        summary ++ Map(
          "added-files" -> metas.size.toString,
          "added-rows" -> metas.map(_.rows).sum.toString,
          "added-bytes" -> metas.map(_.bytes).sum.toString))
    }
  }

  /**
   * Replace-files commit (compaction / clustering / merge): removes
   * `removedPaths`, adds `added`, keeps untouched manifests as-is and
   * rewrites only manifests that lost files.
   */
  def replaceFiles(
      removedPaths: Set[String],
      added: Seq[DataFileMeta],
      op: String,
      summary: Map[String, String] = Map.empty,
      expectedSnapshotId: Option[Long] = None,
      propertyUpdates: Map[String, String] = Map.empty): Snapshot =
    commitFull(op, expectedSnapshotId, propertyUpdates) { parent =>
      val (kept, gone) = dropEntries(parent.map(_.manifests).getOrElse(Seq.empty),
        readManifest, writeManifest)(e => removedPaths.contains(e.path))
      require(gone.size == removedPaths.size,
        s"$op: ${removedPaths.size - gone.size} files to remove not present in current snapshot (concurrent rewrite?)")
      val manifests = if (added.nonEmpty) kept :+ writeManifest(added) else kept
      // position deletes clear EXACTLY per rewritten file (the rewrite read
      // those files through withPositionDeletes, so their DV entries are
      // applied); untouched files keep theirs — no full-coverage condition
      val (posDeletes, dvGone) = dropEntries(parent.map(_.posDeleteList).getOrElse(Seq.empty),
        readDvManifest, writeDvManifest)(e => removedPaths.contains(e.dataFile))
      val dvCleared = dvGone.map(_.cardinality).sum
      (manifests,
        Some(posDeletes),
        summary ++ (if (dvCleared > 0) Map("materialized-position-deletes" -> dvCleared.toString) else Map.empty) ++ Map(
          "removed-files" -> removedPaths.size.toString,
          "added-files" -> added.size.toString,
          "added-rows" -> added.map(_.rows).sum.toString,
          "added-bytes" -> added.map(_.bytes).sum.toString))
    }

  /**
   * Optimistic-concurrency commit of one snapshot. `build` receives the
   * parent snapshot and returns (manifest list, DV-manifest list, summary);
   * [[Commit.update]] re-runs it per CAS attempt. On a lost race: appends
   * re-apply against the new parent; rewrites require the parent they
   * planned against (`expectedSnapshotId`) and fail fast otherwise — the
   * caller replans. `schemaUpdate` lands the new table schema atomically in
   * the same metadata version (rename/drop evolution).
   */
  def commitFull(op: String, expectedSnapshotId: Option[Long] = None,
      propertyUpdates: Map[String, String] = Map.empty,
      schemaUpdate: Option[StructType] = None,
      toBranch: Option[String] = None)(
      build: Option[Snapshot] => (Seq[ManifestMeta], Option[Seq[ManifestMeta]], Map[String, String])): Snapshot = {
    require(toBranch.isEmpty || schemaUpdate.isEmpty,
      s"$op: schema evolution commits to main only, not a branch")
    Commit.update(root, op) { md =>
      // a branch commit's parent is the BRANCH head; main's pointer is
      // untouched — the snapshot joins the log, only the ref moves
      val parent = toBranch match {
        case None => md.currentSnapshot
        case Some(b) =>
          val r = md.refMap.getOrElse(b, throw new IllegalArgumentException(
            s"$op: unknown branch '$b' on $root — create it with createBranch"))
          require(r.kind == "branch", s"$op: ref '$b' is a ${r.kind}, not a branch")
          Some(md.snapshot(r.snapshotId).getOrElse(throw new IllegalStateException(
            s"$op: branch '$b' head ${r.snapshotId} is not a retained snapshot")))
      }
      for (expected <- expectedSnapshotId)
        require(parent.map(_.id).contains(expected),
          s"$op planned against snapshot $expected but current is ${parent.map(_.id)}: concurrent commit, replan required")
      parent.foreach(_.requireNoEqualityDeletes())
      val (manifests, posDeletes, summary) = build(parent)
      val snap = Snapshot(
        id = md.lastSnapshotId + 1,
        parentId = parent.map(_.id),
        timestampMs = System.currentTimeMillis(),
        operation = op,
        manifests = manifests,
        summary = summary ++ toBranch.map("branch" -> _),
        posDeleteManifests = posDeletes.filter(_.nonEmpty))
      md.copy(
        currentSnapshotId = if (toBranch.isEmpty) Some(snap.id) else md.currentSnapshotId,
        snapshots = md.snapshots :+ snap,
        lastSnapshotId = snap.id,
        properties = md.properties ++ propertyUpdates,
        schemaDdl = schemaUpdate.map(_.toDDL).getOrElse(md.schemaDdl),
        schemaJson = schemaUpdate.map(_.json).orElse(md.schemaJson),
        refs = toBranch.map { b =>
          val r = md.refMap(b) // validated above
          // the branch base (divergence point, stamped at createBranch)
          // survives every staged commit; a pre-tracking branch keeps None —
          // inventing one from the current HEAD would record a staged commit
          // as the divergence point and mis-pin expiry / mislead publish
          md.refMap.updated(b, RefMeta(snap.id, "branch", r.baseSnapshotId))
        }.map(Some(_)).getOrElse(md.refs))
    }.snapshots.last
  }

  /**
   * Move the current-snapshot pointer back to a retained snapshot — an
   * instant, data-free undo of any maintenance pass (the reference's only
   * recourse was re-running the job; its DROP/RENAME swap destroyed the old
   * table). Abandoned snapshots stay in the log (redo is another rollback)
   * until expiry ages them out; snapshot ids remain monotonic, so a
   * post-rollback commit never reuses an id.
   */
  def rollback(toSnapshotId: Long): TableMetadata =
    commitMetadataUpdate { md =>
      require(md.snapshot(toSnapshotId).nonEmpty,
        s"cannot roll back to unknown or expired snapshot $toSnapshotId")
      // schema-evolution commits store the NEW schema and retired names
      // TABLE-WIDE (not per snapshot): pointing the snapshot back across
      // one would pair old manifests (old stats keys) with the new schema
      // — pruning dies silently and a dropped column cannot come back.
      // Refuse instead of corrupting; ids are monotonic, so any evolution
      // commit newer than the target (any branch) blocks.
      md.snapshots.find(s => s.id > toSnapshotId &&
          Set("rename-column", "drop-column", "widen-column")(s.operation)).foreach(s =>
        throw new IllegalArgumentException(
          s"cannot roll back across schema-evolution snapshot ${s.id} " +
            s"('${s.operation}': ${s.summary.getOrElse(s.operation, "")}) — " +
            "the table schema is not versioned per snapshot"))
      md.copy(currentSnapshotId = Some(toSnapshotId))
    }

  // ---- named snapshot refs (tags) ---------------------------------------

  /** Named snapshot refs: tag name → pinned snapshot. */
  def refs: Map[String, RefMeta] = metadata.refMap

  /** Snapshot id a ref name resolves to; error lists known refs. */
  def refSnapshotId(name: String): Long =
    metadata.refMap.getOrElse(name, throw new IllegalArgumentException(
      s"unknown ref '$name' on $root — known refs: " +
        (if (refs.isEmpty) "(none)" else refs.keys.toSeq.sorted.mkString(", ")))).snapshotId

  /**
   * Tag a retained snapshot with a stable name (Iceberg-style ref): the
   * snapshot becomes addressable as `VERSION AS OF '<name>'` and is PINNED
   * against [[graft.ops.Expire.expire]] (the tag holds the snapshot and
   * every file it references until the tag is dropped) — the lakehouse
   * form of a release/audit label over the reference's one-mutable-table
   * world, where no historical state was addressable at all.
   *
   * Names must not look like snapshot ids (they share the `VERSION AS OF`
   * namespace) and must be path/SQL-safe. `replace=true` atomically moves
   * an existing tag.
   */
  def createTag(name: String, snapshotId: Option[Long] = None,
      replace: Boolean = false): TableMetadata =
    createRef(name, "tag", snapshotId, replace)

  /**
   * Create a BRANCH: a movable ref `append(df, toBranch = Some(name))`
   * commits onto without touching the main pointer — the write-audit-publish
   * staging lane (stage appends on a branch, validate them, [[fastForward]]
   * main). Branches are append+read only; maintenance and MERGE target main.
   * Like tags, a branch head pins its snapshot (and files) against expiry.
   */
  def createBranch(name: String, snapshotId: Option[Long] = None,
      replace: Boolean = false): TableMetadata =
    createRef(name, "branch", snapshotId, replace)

  private def createRef(name: String, kind: String, snapshotId: Option[Long],
      replace: Boolean): TableMetadata = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"ref name '$name' must match [A-Za-z0-9._-]+")
    require(name.toLongOption.isEmpty,
      s"ref name '$name' would be ambiguous with a snapshot id in VERSION AS OF")
    commitMetadataUpdate { md =>
      val id = snapshotId.orElse(md.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException(s"cannot $kind an empty table (no snapshots)"))
      require(md.snapshot(id).nonEmpty,
        s"cannot $kind unknown or expired snapshot $id")
      md.refMap.get(name).foreach { existing =>
        require(replace && existing.kind == kind,
          s"ref '$name' already exists (${existing.kind} at snapshot ${existing.snapshotId}); " +
            (if (existing.kind == kind) s"pass replace=true / CREATE OR REPLACE to move it"
             else s"a ${existing.kind} cannot be replaced by a $kind — drop it first"))
      }
      md.copy(refs = Some(md.refMap.updated(name,
        RefMeta(id, kind, if (kind == "branch") Some(id) else None))))
    }
  }

  /** Drop a tag — the snapshot stays until expiry ages it out normally. */
  def dropTag(name: String, ifExists: Boolean = false): TableMetadata =
    dropRef(name, "tag", ifExists)

  /** Drop a branch — its staged snapshots stay until expiry GCs them. */
  def dropBranch(name: String, ifExists: Boolean = false): TableMetadata =
    dropRef(name, "branch", ifExists)

  private def dropRef(name: String, kind: String, ifExists: Boolean): TableMetadata =
    commitMetadataUpdate { md =>
      md.refMap.get(name) match {
        case None if ifExists => md
        case None => throw new IllegalArgumentException(
          s"unknown ref '$name' on $root — known refs: " +
            (if (md.refMap.isEmpty) "(none)" else md.refMap.keys.toSeq.sorted.mkString(", ")))
        case Some(r) =>
          require(r.kind == kind, s"ref '$name' is a ${r.kind}, not a $kind")
          md.copy(refs = Some(md.refMap - name).filter(_.nonEmpty))
      }
    }

  /**
   * Publish a branch: move MAIN to the branch head, required to be a pure
   * fast-forward (main's current snapshot is an ancestor of the branch
   * head — nothing committed to main since the branch diverged). The
   * ancestry requirement also refuses crossing a main-side schema-evolution
   * commit, which by construction breaks ancestry. The branch ref stays
   * (now pointing at main's snapshot); drop it when done.
   */
  def fastForward(branch: String): TableMetadata =
    commitMetadataUpdate { md =>
      val r = md.refMap.getOrElse(branch, throw new IllegalArgumentException(
        s"unknown ref '$branch' on $root"))
      require(r.kind == "branch", s"ref '$branch' is a ${r.kind}, not a branch")
      val head = r.snapshotId
      val mainId = md.currentSnapshotId.getOrElse(
        throw new IllegalArgumentException("cannot fast-forward an empty table"))
      if (mainId == head) md
      else {
        require(md.ancestry(head).exists(_.id == mainId),
          s"cannot fast-forward: main snapshot $mainId is not an ancestor of " +
            s"branch '$branch' head $head — main advanced since the branch " +
            "diverged (publish(branch) cherry-picks staged appends onto the " +
            "new head, or RESTORE main first)")
        // main now == head: the divergence point moves up, so expiry stops
        // pinning the published chain and normal retention applies to it
        md.copy(currentSnapshotId = Some(head),
          refs = Some(md.refMap.updated(branch, RefMeta(head, "branch", Some(head)))))
      }
    }

  /**
   * Publish a branch even when MAIN ADVANCED during staging: fast-forward
   * when possible ([[fastForward]] semantics), otherwise CHERRY-PICK — one
   * "publish" commit on main whose manifest list is main's plus every
   * manifest the staged appends added. Sound because branch commits are
   * append-only (each staged manifest is a closed set of immutable files;
   * re-anchoring it onto a different parent cannot change a row) and
   * main-side rewrites touched disjoint files, so without this the common
   * case — a compaction/cluster/merge landing on main mid-staging — forced
   * a full re-stage. Deletes committed on main during staging never touch
   * the staged rows: a deletion vector names main's own files, so a staged
   * row whose key main deleted stays visible, as a later append's would.
   *
   * Refusals (each a measured hazard, not caution):
   *  - a schema-evolution commit newer than the branch base — rename/drop
   *    stats-key remaps and widen's float-stats strip rewrote only MAIN's
   *    manifests, so staged manifests would carry pre-evolution stats keys
   *    (unknown-bounds at best, unsound widened-float pruning at worst);
   *    mirrors [[rollback]]'s guard;
   *  - the base is no longer an ancestor of main (RESTORE crossed the
   *    divergence point — the staged work was built on abandoned history);
   *  - a pre-base-tracking branch (no recorded divergence point).
   *
   * The branch ref then points at the publish commit with a fresh base, so
   * staging can continue on the same branch. Idempotent at head.
   */
  def publish(branch: String): TableMetadata =
    commitMetadataUpdate { md =>
      val r = md.refMap.getOrElse(branch, throw new IllegalArgumentException(
        s"unknown ref '$branch' on $root"))
      require(r.kind == "branch", s"ref '$branch' is a ${r.kind}, not a branch")
      val head = r.snapshotId
      val mainId = md.currentSnapshotId.getOrElse(
        throw new IllegalArgumentException("cannot publish onto an empty table"))
      def ancestorOf(start: Long, target: Long): Boolean = md.ancestry(start).exists(_.id == target)
      if (mainId == head)
        md.copy(refs = Some(md.refMap.updated(branch, RefMeta(head, "branch", Some(head)))))
      else if (ancestorOf(head, mainId))
        md.copy(currentSnapshotId = Some(head),
          refs = Some(md.refMap.updated(branch, RefMeta(head, "branch", Some(head)))))
      else {
        val base = r.baseSnapshotId.getOrElse(throw new IllegalArgumentException(
          s"branch '$branch' predates divergence-point tracking — " +
            "re-stage to publish onto an advanced main"))
        md.snapshots.find(s => s.id > base &&
            Set("rename-column", "drop-column", "widen-column")(s.operation)).foreach(s =>
          throw new IllegalArgumentException(
            s"cannot publish '$branch' across schema-evolution snapshot ${s.id} " +
              s"('${s.operation}': ${s.summary.getOrElse(s.operation, "")}) — staged " +
              "manifests carry pre-evolution stats keys; re-stage on the new schema"))
        require(ancestorOf(mainId, base),
          s"cannot publish '$branch': its base $base is not an ancestor of main " +
            s"$mainId (main was restored past the divergence point — re-stage)")
        require(ancestorOf(head, base),
          s"branch '$branch' chain from $head to base $base is broken (expired snapshot?)")
        val chain = md.ancestry(head).takeWhile(_.id != base)
        chain.foreach(s => require(s.operation == "append",
          s"staged snapshot ${s.id} is a '${s.operation}' commit; " +
            "only appends can be cherry-picked"))
        val addedManifests = chain.reverse.flatMap { s =>
          val pm = s.parentId.flatMap(md.snapshot)
            .map(_.manifests.map(_.path).toSet).getOrElse(Set.empty)
          s.manifests.filterNot(m => pm.contains(m.path))
        }
        val mainHead = md.snapshot(mainId).getOrElse(throw new IllegalStateException(
          s"main snapshot $mainId is not retained"))
        mainHead.requireNoEqualityDeletes()
        val snap = Snapshot(
          id = md.lastSnapshotId + 1,
          parentId = Some(mainId),
          timestampMs = System.currentTimeMillis(),
          operation = "publish",
          manifests = mainHead.manifests ++ addedManifests,
          summary = Map(
            "branch" -> branch,
            "staged-commits" -> chain.size.toString,
            "added-files" -> addedManifests.map(_.fileCount).sum.toString,
            "added-rows" -> addedManifests.map(_.rows).sum.toString,
            "added-bytes" -> addedManifests.map(_.bytes).sum.toString),
          // main's position deletes reference main's files, all of which
          // remain; staged files are NEW files no DV can reference — so the
          // carry-forward is exact
          posDeleteManifests = mainHead.posDeleteManifests)
        md.copy(
          currentSnapshotId = Some(snap.id),
          snapshots = md.snapshots :+ snap,
          lastSnapshotId = snap.id,
          refs = Some(md.refMap.updated(branch, RefMeta(snap.id, "branch", Some(snap.id)))))
      }
    }

  /** Snapshot-isolated read of the snapshot a tag points at. */
  def readRef(name: String): DataFrame = readSnapshot(refSnapshotId(name))

  /** Refs as a DataFrame (``graft.`path`.refs`` metadata table);
    * `base_snapshot_id` is a branch's divergence point (null for tags). */
  def refsDf: DataFrame = {
    import spark.implicits._
    metadata.refMap.toSeq.sortBy(_._1).map { case (n, r) =>
      (n, r.kind, r.snapshotId, r.baseSnapshotId)
    }.toDF("name", "kind", "snapshot_id", "base_snapshot_id")
  }

  /**
   * Add a CHECK constraint (Delta-style data-quality gate): every
   * subsequent write refuses rows for which `check` evaluates to FALSE
   * (NULL passes, SQL semantics) — enforced INLINE in the write pass (one
   * codegen'd filter inside [[TableState.writeDataFiles]]; no extra scan per write).
   * EXISTING rows are validated here, once, so rewrites (compaction /
   * clustering) can never trip a constraint on pre-existing data. A
   * concurrent write landing during validation forces a loud retry rather
   * than slipping unvalidated rows in.
   */
  def addConstraint(name: String, check: String): TableMetadata = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid constraint name '$name'")
    val key = GraftTable.ConstraintPrefix + name
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val st = state
    val validatedAt = st.snapshot.map(_.id)
    val violations = st.read().filter(!coalesce(expr(check), lit(true))).count()
    require(violations == 0,
      s"cannot add CHECK constraint '$name': $violations existing rows violate ($check)")
    commitMetadataUpdate { md =>
      require(!md.properties.contains(key), s"constraint '$name' already exists")
      require(md.currentSnapshotId == validatedAt,
        s"table changed while validating constraint '$name' — retry")
      md.copy(properties = md.properties + (key -> check))
    }
  }

  def dropConstraint(name: String, ifExists: Boolean = false): TableMetadata =
    commitMetadataUpdate { md =>
      val key = GraftTable.ConstraintPrefix + name
      if (!md.properties.contains(key) && !ifExists) {
        val known = stateFor(md).constraints.keys.toSeq.sorted
        throw new IllegalArgumentException(s"unknown constraint '$name' — known: " +
          (if (known.isEmpty) "(none)" else known.mkString(", ")))
      }
      md.copy(properties = md.properties - key)
    }

  /**
   * Auto schema evolution (Delta's `mergeSchema`): add, as nullable columns,
   * every TOP-LEVEL column the incoming frame carries that the table lacks
   * (session-resolver name matching), so a producer can start shipping a new
   * field without a coordinated DDL step. Additive only: existing columns
   * keep their types (a mismatched type still fails the write loudly), new
   * nested fields inside existing structs are NOT inferred (add those
   * explicitly — an accidental struct reshape should not mutate the schema),
   * and [[addColumn]]'s guards apply (retired names refuse; field ids are
   * never reused). Each add is its own CAS'd metadata commit; old files read
   * NULL and pruning treats absent bounds as unknown, so scans stay sound.
   */
  def mergeSchemaFor(df: DataFrame): Unit = {
    val resolver = spark.sessionState.analyzer.resolver
    val cur = schema
    df.schema.fields
      .filterNot(f => cur.fields.exists(t => resolver(t.name, f.name)))
      .foreach(f => addColumn(f.copy(nullable = true)))
  }

  /**
   * Schema evolution: append a nullable column. Existing data files simply
   * lack the Parquet column — the reader yields NULL, and stats pruning
   * treats absent bounds as "unknown", so scans over old files stay sound.
   * On field-id tables the new column takes a NEVER-REUSED id from the
   * `next-field-id` counter: a column dropped and re-added under the same
   * name must NOT resurrect old files' values.
   */
  def addColumn(field: org.apache.spark.sql.types.StructField): TableMetadata = {
    require(field.nullable, s"new column ${field.name} must be nullable (old files have no values)")
    require(!field.name.contains("."),
      s"ADD COLUMN '${field.name}': dotted names are not supported here — use " +
        "addField(parentPath, field) (SQL: ADD COLUMNS (struct.leaf TYPE)) to add a " +
        "nested field inside a struct")
    commitMetadataUpdate { md =>
      val st = stateFor(md)
      val cur = st.schema
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"column ${field.name} already exists")
      require(!st.retired.contains(field.name.toLowerCase),
        s"column name ${field.name} was previously dropped or renamed away; existing " +
          "files still carry a physical column of that name, and parquet filter " +
          "pushdown matches by NAME — rewrite the table (full cluster) to reclaim it")
      if (!GraftTable.hasFieldIds(cur)) {
        // legacy (pre-field-id) table: stay name-resolved
        md.copy(schemaDdl = StructType(cur.fields :+ field).toDDL, schemaJson = None)
      } else {
        val nextId = md.properties.get(GraftTable.NextFieldIdProp).map(_.toInt)
          .getOrElse(GraftTable.maxFieldId(cur) + 1)
        // struct-typed additions consume one id per interior field too, so
        // their leaves are evolvable later like any created-with-the-table struct
        val (withId, consumed) = GraftTable.stampIdsDeep(field, nextId)
        val next = StructType(cur.fields :+ withId)
        md.copy(schemaDdl = next.toDDL, schemaJson = Some(next.json),
          properties = md.properties + (GraftTable.NextFieldIdProp -> consumed.toString))
      }
    }
  }

  /**
   * Rename a column WITHOUT rewriting any data file. Readable across file
   * generations because columns resolve by stable parquet FIELD ID (public
   * Spark: `spark.sql.parquet.fieldId.read.enabled` — the requested schema
   * keeps the renamed field's id, so old files' differently-named physical
   * column still binds). Per-file stats keys are remapped in a metadata-only
   * manifest rewrite committed atomically with the schema change, so
   * min/max pruning on the NEW name keeps working for old files. The
   * reference's only rename path was regenerating DDL + reloading the whole
   * table (`hive/HiveTableIR.java:519-590`).
   *
   * Refused when: the table predates field ids (files resolve by name — a
   * rename would silently NULL old files' data); the column drives a hidden
   * partition transform (directory names are physical).
   */
  def renameColumn(from: String, to: String): Snapshot =
    evolveSchema("rename-column", s"$from->$to", retire = Seq(from)) { st =>
      val sch = st.schema
      val path = resolvePath(sch, from, "RENAME COLUMN")
      require(!to.contains("."), s"RENAME COLUMN to '$to': dotted column names are not supported")
      val fld = fieldAt(sch, path)
      // parquet GROUP nodes (struct/array/map) never re-bind after a rename:
      // ids on groups do not resolve in ANY reader path (verified empirically
      // on this Spark — leaf ids do, group ids do not), so a renamed complex
      // column would silently read as NULL from every old file
      require(fld.dataType match {
        case _: StructType | _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType => false
        case _ => true
      }, s"RENAME COLUMN '$from': ${fld.dataType.simpleString} columns cannot be " +
        "renamed in place — parquet group nodes resolve by NAME (field ids re-bind " +
        "leaves, not groups); rename requires a table rewrite")
      val parent = parentStruct(sch, path)
      require(!parent.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists" +
          (if (path.size > 1) s" in struct ${path.init.mkString(".")}" else ""))
      val newPath = (path.init :+ to).mkString(".")
      require(!st.retired.contains(newPath.toLowerCase),
        s"column name $newPath was previously dropped or renamed away; existing files " +
          "still carry a physical column of that name, and parquet filter pushdown " +
          "matches by NAME — rewrite the table (full cluster) to reclaim it")
      evolutionGuards(st, path.head, "rename")
      if (path.size == 1) {
        val idx = sch.fieldIndex(from)
        (StructType(sch.fields.updated(idx, sch.fields(idx).copy(name = to))),
          Some((k: String) => Some(if (k == from) to else k)))
      } else {
        nestedGuards(sch, path, "rename")
        // nested fields carry no manifest stats keys — metadata-only commit,
        // manifests reused verbatim
        (rebuildAt(sch, path.init, st =>
          StructType(st.fields.updated(st.fieldIndex(path.last),
            st.fields(st.fieldIndex(path.last)).copy(name = to)))), None)
      }
    }

  /**
   * Drop a column WITHOUT rewriting any data file: the field (and its id)
   * leaves the schema, projection simply stops reading it, and its stats
   * keys are stripped from the manifests. The vacated NAME is permanently
   * retired (see [[GraftTable.RetiredColumnsProp]] for why reintroducing it
   * would corrupt filter pushdown against old files). Same refusal
   * conditions as [[renameColumn]].
   */
  def dropColumn(name: String): Snapshot = dropColumns(Seq(name))

  /** Multi-column drop in ONE atomic commit — a failed validation on any
    * column must not leave earlier columns already (irreversibly) dropped. */
  def dropColumns(names: Seq[String]): Snapshot = {
    require(names.nonEmpty && names.distinct.size == names.size,
      s"duplicate column in DROP: ${names.mkString(", ")}")
    evolveSchema("drop-column", names.mkString(","), retire = names) { st =>
      val sch = st.schema
      val paths = names.map(resolvePath(sch, _, "DROP COLUMN"))
      val (top, nested) = paths.partition(_.size == 1)
      require(sch.fields.length > top.size, "cannot drop every column")
      paths.foreach(p => evolutionGuards(st, p.head, "drop"))
      nested.foreach { p =>
        nestedGuards(sch, p, "drop")
        require(parentStruct(sch, p).fields.length > 1,
          s"cannot drop the last field of struct ${p.init.mkString(".")} — " +
            "drop the struct column itself")
      }
      val topNames = top.map(_.head).toSet
      val afterTop = StructType(sch.fields.filterNot(f => topNames.contains(f.name)))
      val next = nested.foldLeft(afterTop)((s, p) => rebuildAt(s, p.init, st =>
        StructType(st.fields.filterNot(_.name == p.last))))
      // a multi-drop must not leave any struct empty (each per-path check
      // above sees the ORIGINAL schema; two drops can empty a 2-field struct)
      def noEmpty(dt: org.apache.spark.sql.types.DataType, at: String): Unit = dt match {
        case st: StructType =>
          require(st.fields.nonEmpty,
            s"cannot drop every field of struct $at — drop the struct column itself")
          st.fields.foreach(f => noEmpty(f.dataType, if (at.isEmpty) f.name else s"$at.${f.name}"))
        case _ => ()
      }
      next.fields.foreach(f => noEmpty(f.dataType, f.name))
      // only top-level drops touch manifest stats keys
      (next, if (topNames.isEmpty) None
             else Some((k: String) => if (topNames.contains(k)) None else Some(k)))
    }
  }

  /**
   * Widen a column's type WITHOUT rewriting any data file — Spark 4's
   * parquet readers (vectorized and row-based, verified incl. predicate
   * pushdown and composition with field-id renames) read a narrower
   * physical type through a wider requested one. Allowed promotions:
   * integral up-casts (byte→short→int→long), int/short/byte→double,
   * float→double.
   *
   * Stats: integral bound strings parse identically under the wider type
   * and are kept; float→double bounds are STRIPPED (a float's decimal
   * string re-parsed as double is not the widened value — boundary
   * pruning could wrongly exclude a file). Works on legacy (id-less)
   * tables too: the column name does not change.
   */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Snapshot =
    widenColumns(Seq(name -> to))

  /** Multi-column widen in ONE atomic commit — a failed validation on any
    * column must not leave earlier columns already (irreversibly) widened
    * (there is no narrowing path, and rollback refuses to cross a widen). */
  def widenColumns(widens: Seq[(String, org.apache.spark.sql.types.DataType)]): Snapshot = {
    require(widens.nonEmpty && widens.map(_._1).distinct.size == widens.size,
      s"duplicate column in widen: ${widens.map(_._1).mkString(", ")}")
    val detail = widens.map { case (n, t) => s"$n->${t.simpleString}" }.mkString(",")
    evolveSchema("widen-column", detail, retire = Seq.empty) { st =>
      val strip = scala.collection.mutable.Set.empty[String]
      val next = widens.foldLeft(st.schema) { case (cur, (name, to)) =>
        val path = resolvePath(cur, name, "ALTER COLUMN TYPE")
        val from = fieldAt(cur, path).dataType
        require(GraftTable.widenOk((from, to)),
          s"cannot widen ${from.simpleString} to ${to.simpleString} for $name " +
            s"(allowed: integral up-casts, integral→double, float→double)")
        // spec guard only — no field-id requirement (the NAME
        // path is unchanged, so old files bind by name at any nesting depth)
        st.allPartitionSpecs.find(_.sourceColumn == path.head).foreach(sp =>
          throw new IllegalArgumentException(
            s"column ${path.head} drives partition transform $sp — bucket hashes differ " +
              "by type; widen requires a table rewrite"))
        // nested leaves carry no manifest bounds; float-stat stripping is a
        // top-level-only concern
        if (from == org.apache.spark.sql.types.FloatType && path.size == 1) strip += name
        if (path.size == 1)
          StructType(cur.fields.updated(cur.fieldIndex(name),
            cur.fields(cur.fieldIndex(name)).copy(dataType = to)))
        else rebuildAt(cur, path.init, st =>
          StructType(st.fields.updated(st.fieldIndex(path.last),
            st.fields(st.fieldIndex(path.last)).copy(dataType = to))))
      }
      (next, if (strip.isEmpty && widens.forall(_._1.contains(".")))
               // all-nested widen touches no stats keys — reuse manifests
               None
             else Some((k: String) => if (strip.contains(k)) None else Some(k)))
    }
  }

  /**
   * Schema evolution INSIDE a struct: append a nullable field to the struct
   * at `parentPath` (dotted for structs-in-structs). Old files lack the leaf
   * and read NULL — on id-ful interiors the new field's fresh id is simply
   * absent from old file groups (verified: absent id → NULL, not error); on
   * legacy (id-less) interiors the field is added WITHOUT an id so schema
   * and files stay consistently name-resolved (mixing an id-ful field into
   * an id-less group ERRORS at read time). SQL surface:
   * `ALTER TABLE graft.`/p`` ADD COLUMNS (meta.extra DOUBLE)`.
   */
  def addField(parentPath: String, field: org.apache.spark.sql.types.StructField): TableMetadata = {
    require(field.nullable, s"new field ${field.name} must be nullable (old files have no values)")
    require(!field.name.contains("."),
      s"ADD COLUMNS '${field.name}': the new field name cannot be dotted (give the " +
        "struct path as the parent, e.g. meta.extra adds extra under meta)")
    commitMetadataUpdate { md =>
      val st = stateFor(md)
      val cur = st.schema
      val path = resolvePath(cur, parentPath, "ADD COLUMNS")
      val parentField = fieldAt(cur, path)
      val parent = parentField.dataType match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"ADD COLUMNS: $parentPath is ${other.simpleString}, not a struct")
      }
      require(!parent.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"field ${field.name} already exists in struct $parentPath")
      val full = (path :+ field.name).mkString(".").toLowerCase
      require(!st.retired.contains(full),
        s"field name ${(path :+ field.name).mkString(".")} was previously dropped or " +
          "renamed away; existing files still carry a physical column of that name, and " +
          "parquet filter pushdown matches by NAME — rewrite the table to reclaim it")
      // stamp ids only when the ROOT column's interior is fully id-ful
      // (tables created since nested ids; adds preserve the completeness class)
      val rootIdful = GraftTable.hasFieldIds(cur) &&
        GraftTable.nestedIdsComplete(fieldAt(cur, Seq(path.head)).dataType)
      if (!rootIdful) {
        val next = rebuildAt(cur, path, st => StructType(st.fields :+ field))
        md.copy(schemaDdl = next.toDDL,
          schemaJson = if (GraftTable.hasFieldIds(cur)) Some(next.json) else None)
      } else {
        val nextId = md.properties.get(GraftTable.NextFieldIdProp).map(_.toInt)
          .getOrElse(GraftTable.maxFieldId(cur) + 1)
        val (withId, consumed) = GraftTable.stampIdsDeep(field, nextId)
        val next = rebuildAt(cur, path, st => StructType(st.fields :+ withId))
        md.copy(schemaDdl = next.toDDL, schemaJson = Some(next.json),
          properties = md.properties + (GraftTable.NextFieldIdProp -> consumed.toString))
      }
    }
  }

  /** Resolve a possibly-dotted column path to canonical segments. A literal
    * top-level column wins (a pathological name containing a dot); otherwise
    * segments walk STRUCT types only — crossing an array or map is refused
    * (fields inside their elements/values carry no stable ids). */
  private def resolvePath(sch: StructType, name: String, what: String): Seq[String] = {
    if (sch.fieldNames.contains(name)) return Seq(name)
    val parts = name.split("\\.").toSeq
    var cur: org.apache.spark.sql.types.DataType = sch
    val out = Seq.newBuilder[String]
    for (p <- parts) cur match {
      case st: StructType =>
        val idx = st.fieldIndex(p) // throws naming the missing segment
        out += st.fields(idx).name
        cur = st.fields(idx).dataType
      case other => throw new IllegalArgumentException(
        s"$what '$name': path crosses ${other.simpleString} — nested evolution is " +
          "supported through STRUCT fields only (array/map interiors have no stable " +
          "field ids; evolving one requires a table rewrite)")
    }
    out.result()
  }

  private def fieldAt(sch: StructType, path: Seq[String]): org.apache.spark.sql.types.StructField = {
    val head = sch.fields(sch.fieldIndex(path.head))
    if (path.size == 1) head
    else fieldAt(head.dataType.asInstanceOf[StructType], path.tail)
  }

  /** Struct CONTAINING the leaf at `path` (the schema itself for top-level). */
  private def parentStruct(sch: StructType, path: Seq[String]): StructType =
    if (path.size == 1) sch
    else fieldAt(sch, path.init).dataType.asInstanceOf[StructType]

  /** Rebuild the schema with `f` applied to the struct at `parentPath`. */
  private def rebuildAt(sch: StructType, parentPath: Seq[String], f: StructType => StructType): StructType =
    if (parentPath.isEmpty) f(sch)
    else {
      val idx = sch.fieldIndex(parentPath.head)
      val fld = sch.fields(idx)
      val inner = rebuildAt(fld.dataType.asInstanceOf[StructType], parentPath.tail, f)
      StructType(sch.fields.updated(idx, fld.copy(dataType = inner)))
    }

  /** Extra preconditions for evolving a field INSIDE a struct: the root
    * column's interior must be fully id-ful — files written before nested
    * ids existed cannot re-bind a renamed leaf, and an id-ful requested
    * schema over an id-less file group fails the whole read. */
  private def nestedGuards(sch: StructType, path: Seq[String], what: String): Unit =
    require(GraftTable.nestedIdsComplete(fieldAt(sch, Seq(path.head)).dataType),
      s"struct ${path.head} predates nested field ids (its interior fields resolve by " +
        s"NAME only); nested $what requires a table rewrite")

  private def evolutionGuards(st: TableState, colName: String, what: String): Unit = {
    require(GraftTable.hasFieldIds(st.schema),
      s"table predates field-id column mapping; $what requires a table rewrite " +
        "(files written without parquet field ids resolve by NAME only)")
    // ALL spec generations: files written under a historical spec still
    // partition-prune by this column's dirs — evolving it away would
    // silently kill that pruning for every pre-evolution file
    st.allPartitionSpecs.find(_.sourceColumn == colName).foreach(sp =>
      throw new IllegalArgumentException(
        s"column $colName drives partition transform $sp (active or historical) — " +
          s"partition directory names are physical; $what requires a table rewrite"))
  }

  /** Shared rename/drop/widen machinery: one commit carrying the new schema,
    * the stats-remapped manifests, and the vacated name's retirement — all
    * atomic (row-preserving — incremental readers pass through it). `f`
    * returning no remap means no manifest stats key is touched (nested-only
    * evolution: nested leaves carry no bounds) — the parent's manifests are
    * reused verbatim, keeping the commit O(1) regardless of file count.
    * `f` plans against one pinned state, whose snapshot the commit then
    * requires as its parent. */
  private def evolveSchema(op: String, detail: String, retire: Seq[String])(
      f: TableState => (StructType, Option[String => Option[String]])): Snapshot = {
    val st = state
    val (nextSchema, remapOpt) = f(st)
    commitFull(op, expectedSnapshotId = st.snapshot.map(_.id),
      propertyUpdates = Map(GraftTable.RetiredColumnsProp ->
        (st.retired ++ retire.map(_.toLowerCase)).toSeq.sorted.mkString(",")),
      schemaUpdate = Some(nextSchema)) { parent =>
      val manifests = remapOpt match {
        case None => parent.map(_.manifests).getOrElse(Seq.empty)
        case Some(remapKey) =>
          def remap[V](m: Map[String, V]): Map[String, V] =
            m.flatMap { case (k, v) => remapKey(k).map(_ -> v) }
          parent.map(_.manifests).getOrElse(Seq.empty).map { m =>
            writeManifest(readManifest(m.path).map(e => e.copy(
              minValues = remap(e.minValues),
              maxValues = remap(e.maxValues),
              nullCounts = remap(e.nullCounts))))
          }
      }
      // DV entries name data files and positions, not columns — column
      // evolution never touches them; carry forward verbatim
      (manifests, parent.flatMap(_.posDeleteManifests), Map(op -> detail))
    }
  }

  /** Commit `f` of the latest metadata (refs, properties, snapshot
    * expiry); `f` re-runs per CAS attempt. */
  def commitMetadataUpdate(f: TableMetadata => TableMetadata): TableMetadata =
    Commit.update(root, "metadata update")(f)

  def absPath(f: DataFileMeta): String = s"$root/${f.path}"
}

object GraftTable {

  /** Parsed manifests by absolute path, LRU, bounded by the total entry
    * count it holds (a manifest larger than the bound is parsed, never
    * cached). Entries never go stale: manifest names are fresh UUIDs. */
  private final class ParseCache[T](maxEntries: Int) {
    private val lru = new java.util.LinkedHashMap[String, Vector[T]](64, 0.75f, true)
    private var held = 0L

    def apply(absPath: String)(parse: => Vector[T]): Vector[T] = {
      val hit = lru.synchronized(lru.get(absPath))
      if (hit != null) return hit
      val parsed = parse
      if (parsed.size <= maxEntries) lru.synchronized {
        held += parsed.size - Option(lru.put(absPath, parsed)).fold(0)(_.size)
        val it = lru.values.iterator
        while (held > maxEntries && it.hasNext) { held -= it.next().size; it.remove() }
      }
      parsed
    }
  }

  private val ManifestCacheEntries = 100000
  private val manifestCache = new ParseCache[DataFileMeta](ManifestCacheEntries)
  private val dvManifestCache = new ParseCache[DvMeta](ManifestCacheEntries)

  /** Stamp Spark's bucket-id file-name suffix (`part-…_00007.snappy.parquet`)
    * onto freshly written files of a `bucket(n, col)`-partitioned table. The
    * id is the file's OWN partition-dir value — `writeDataFiles`'
    * `partitionBy` grouped rows by the transform (and a compaction copy
    * concatenates files of one such dir), so every file is bucket-pure by
    * construction — and the suffix is spelled via Spark's own `BucketingUtils` formatter so
    * write-side stamp and read-side parse can never drift. The stamp is what
    * lets a read attach a `BucketSpec` ([[TableState.bucketSpec]]): the scan then
    * reports `HashPartitioning(col, n)` and joins/aggregations on the bucket
    * column skip their shuffle entirely. Renames happen pre-commit inside the
    * fresh commit dir — no reader can ever hold the unstamped name. */
  private[graft] def stampBucketIds(specs: Seq[PartitionSpec], absPaths: Seq[String]): Seq[String] =
    absPaths.map { p =>
      val to = bucketStamped(specs, p)
      if (to != p) FileIO.rename(p, to)
      to
    }

  /** `absPath` with [[stampBucketIds]]' stamp applied to its name (no
    * rename) — unchanged when the table is not bucket-partitioned or the
    * name is already stamped. */
  private[graft] def bucketStamped(specs: Seq[PartitionSpec], absPath: String): String = {
    import org.apache.spark.sql.graftshim.GraftRelation
    val bucketSpecs = specs.filter(_.transform == "bucket")
    if (bucketSpecs.size != 1) return absPath
    val slash = absPath.lastIndexOf('/')
    val name = absPath.substring(slash + 1)
    bucketSpecs.head.dirValue(absPath).flatMap(v => scala.util.Try(v.toInt).toOption) match {
      case Some(b) if GraftRelation.bucketIdOf(name).isEmpty =>
        val dot = name.indexOf('.')
        val stamped =
          if (dot < 0) name + GraftRelation.bucketIdSuffix(b)
          else name.substring(0, dot) + GraftRelation.bucketIdSuffix(b) + name.substring(dot)
        // paranoia: only keep a stamp Spark parses back to the same id
        if (GraftRelation.bucketIdOf(stamped).contains(b)) absPath.substring(0, slash + 1) + stamped
        else absPath
      case _ => absPath // pre-stamped or un-bucketed dir: leave as written
    }
  }

  /** Parquet's native field-id key in StructField metadata — the PUBLIC
    * Spark mechanism (`spark.sql.parquet.fieldId.{read,write}.enabled`)
    * behind rename/drop column evolution. */
  val FieldIdKey = "parquet.field.id"

  /** Table property holding the next never-used field id. */
  val NextFieldIdProp = "next-field-id"

  /** Table-property prefix holding CHECK constraints: `constraint.<name>` →
    * SQL predicate text. Managed via add/dropConstraint (which validate);
    * raw SET/UNSET TBLPROPERTIES refuses the prefix. */
  val ConstraintPrefix = "constraint."

  /** Table property: comma-separated columns to write parquet bloom
    * filters for (row-group skipping on point/IN lookups). */
  val BloomColumnsProp = "bloom-columns"
  val SortOrderProp = "write.sort-order"
  val MaxRecordsPerFileProp = "write.max-records-per-file"

  /** Table property: comma-separated DEFAULT clustering columns (Delta's
    * `CLUSTER BY` analog) — a bare `OPTIMIZE … ZORDER [HILBERT]` clusters on
    * these instead of the built-in page dims, so a table declares its
    * layout once and every maintenance run (incl. scheduled ones that know
    * nothing about the schema) deep-clusters the same way. `ZORDER BY (…)`
    * still overrides per-run. */
  val ClusterColumnsProp = "cluster-columns"

  /** Stats-space marker: present (stamped by [[create]]) on every table
    * whose manifests store decimal bounds as SCALED decimal strings.
    * Absent = pre-fix manifests may hold raw unscaled parquet values —
    * decimal bounds are then ignored at planning time (sound). */
  val DecimalStatsScaledProp = "decimal-stats-scaled"

  /** Table property listing column NAMES vacated by rename/drop (lowercase,
    * comma-joined). A vacated name can never be reintroduced: existing data
    * files still carry a physical column of that name bound to the OLD
    * field id, and Spark's parquet FILTER PUSHDOWN matches columns by name
    * (not field id) — a predicate on a reintroduced name would prune row
    * groups against the dead column's values and silently drop rows. Field-
    * id clipping itself handles the projection correctly; the pushdown
    * name-match is the reason for the restriction. */
  val RetiredColumnsProp = "retired-columns"

  def hasFieldIds(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(_.metadata.contains(FieldIdKey))

  /** Type promotions the parquet readers resolve physically (empirically
    * verified on this Spark: vectorized + row-based, with pushdown). */
  val widenOk: Set[(org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set[(DataType, DataType)](
      ByteType -> ShortType, ByteType -> IntegerType, ByteType -> LongType,
      ShortType -> IntegerType, ShortType -> LongType,
      IntegerType -> LongType,
      ByteType -> DoubleType, ShortType -> DoubleType, IntegerType -> DoubleType,
      FloatType -> DoubleType)
  }

  def maxFieldId(schema: StructType): Int = {
    def one(f: org.apache.spark.sql.types.StructField): Int = {
      val own = if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey).toInt else 0
      f.dataType match {
        case st: StructType => math.max(own, maxFieldId(st))
        case _ => own
      }
    }
    schema.fields.map(one).foldLeft(0)(math.max)
  }

  def fieldWithId(f: org.apache.spark.sql.types.StructField, id: Int): org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id.toLong).build())

  /** Stamp `f` and (depth-first) every struct field UNDER it with fresh ids
    * starting at `next`; returns the stamped field and the next unused id.
    * Recursion descends STRUCTS only: fields inside array elements / map
    * values are not `StructField`s of the walked type and stay id-less —
    * consistent between schema and written files, so they keep resolving by
    * name (and nested evolution refuses to cross array/map, see
    * `resolvePath`). */
  def stampIdsDeep(f: org.apache.spark.sql.types.StructField, next: Int): (org.apache.spark.sql.types.StructField, Int) = {
    val withId = fieldWithId(f, next)
    f.dataType match {
      case st: StructType =>
        var n = next + 1
        val kids = st.fields.map { c => val (k, n2) = stampIdsDeep(c, n); n = n2; k }
        (withId.copy(dataType = StructType(kids)), n)
      case _ => (withId, next + 1)
    }
  }

  /** Stamp stable field ids (fresh, ignoring any caller-supplied ids — the
    * table owns its id space): pre-order over top-level columns and the
    * struct fields nested under them, so leaf fields inside structs can be
    * renamed/widened later without a rewrite. Flat schemas get 1..n exactly
    * as before. */
  def withFieldIds(schema: StructType): StructType = {
    var n = 1
    StructType(schema.fields.map { f => val (g, n2) = stampIdsDeep(f, n); n = n2; g })
  }

  /** Structural type equality ignoring metadata, nullability, and name case
    * but NOT field order — the shapes under which a positional struct cast
    * is a pure metadata reshape (Cast matches struct fields by POSITION; a
    * reordered frame must not be silently re-assigned). */
  def sameShape(a: org.apache.spark.sql.types.DataType, b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
        f.name.equalsIgnoreCase(g.name) && sameShape(f.dataType, g.dataType) }
    case (x: org.apache.spark.sql.types.ArrayType, y: org.apache.spark.sql.types.ArrayType) =>
      sameShape(x.elementType, y.elementType)
    case (x: org.apache.spark.sql.types.MapType, y: org.apache.spark.sql.types.MapType) =>
      sameShape(x.keyType, y.keyType) && sameShape(x.valueType, y.valueType)
    case _ => a == b // primitives carry no metadata
  }

  /** True when every struct field in the subtree under `dt` carries a field
    * id — the precondition for nested evolution (files written before nested
    * ids existed cannot re-bind a renamed leaf, and an id-ful requested
    * schema over an id-less file group ERRORS rather than degrading). */
  def nestedIdsComplete(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case st: StructType =>
      st.fields.forall(f => f.metadata.contains(FieldIdKey) && nestedIdsComplete(f.dataType))
    case _ => true
  }

  /** Create a new empty table at `root`. */
  def create(
      spark: SparkSession,
      root: String,
      schema: StructType,
      properties: Map[String, String] = Map.empty): GraftTable = {
    require(!exists(root), s"table already exists at $root")
    // validate declared hidden-partitioning specs before anything is written
    properties.get(PartitionSpec.Property).foreach { s =>
      PartitionSpec.parseMulti(s).foreach(_.validate(schema))
    }
    val withIds = withFieldIds(schema)
    val md = TableMetadata(
      formatVersion = 1,
      tableUuid = UUID.randomUUID.toString,
      schemaDdl = schema.toDDL,
      currentSnapshotId = None,
      snapshots = Seq.empty,
      lastSnapshotId = 0L,
      properties = properties +
        (NextFieldIdProp -> (maxFieldId(withIds) + 1).toString) +
        (DecimalStatsScaledProp -> "true"),
      schemaJson = Some(withIds.json))
    FileIO.mkdirs(s"$root/data")
    require(Commit.create(root, md), s"concurrent create at $root")
    new GraftTable(root, spark)
  }

  def load(spark: SparkSession, root: String): GraftTable = {
    require(exists(root), s"no graft table at $root")
    new GraftTable(root, spark)
  }

  /** True when `root` holds a graft table: any committed version, one listing. */
  def exists(root: String): Boolean = Commit.versions(root).nonEmpty

  def createOrReplace(
      spark: SparkSession,
      root: String,
      schema: StructType,
      properties: Map[String, String] = Map.empty): GraftTable = {
    FileIO.deleteRecursively(root)
    create(spark, root, schema, properties)
  }
}
