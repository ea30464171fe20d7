package graft.table

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/**
 * Metadata model of the graft table format — a from-scratch, Iceberg-style
 * snapshot/manifest layer over Parquet data files.
 *
 * Re-imagines the reference's schema-mediated table abstraction
 * (HBase-To-Hive `hbase/HBaseTableIR` + checkpoint rows in
 * `util/TimeStampUtil.java:53-109`) as immutable snapshot metadata with an
 * atomic version-pointer swap, replacing the reference's DROP/RENAME table
 * swap (`hive/HiveTableIR.java:296-299`).
 *
 * Layout under a table root:
 * {{{
 *   data/<commit-uuid>/part-*.parquet        immutable data files
 *   data/<commit-uuid>/deletes.dv            deletion-vector blob: serialized
 *                                            Roaring bitmaps, back to back
 *   metadata/v<N>.json                       full table metadata, version N;
 *                                            the last 100 versions are kept
 *                                            (see [[Commit]])
 *   metadata/manifest-<uuid>.json            list of DataFileMeta (JSON lines),
 *                                            or of DvMeta for a DV manifest
 *   metrics/                                 lineage/metrics parquet table
 *   maintenance/<runId>.json                 resumable step logs
 * }}}
 *
 * All values in `minValues`/`maxValues` are stored as canonical strings and
 * compared after parsing with the table schema (see [[Bounds]]); timestamps
 * are epoch micros, dates epoch days.
 */
final case class DataFileMeta(
    path: String, // relative to table root
    rows: Long,
    bytes: Long,
    minValues: Map[String, String],
    maxValues: Map[String, String],
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    nullCounts: Map[String, Long],
    commitUuid: String)

/** One deletion vector: the deleted row positions of data file `dataFile`
  * (table-relative, = [[DataFileMeta.path]]) as a serialized Roaring bitmap
  * at `[offset, offset + length)` of blob file `blob` (table-relative).
  * `cardinality` is the bitmap's position count. Entries are additive: a
  * data file's deleted set is the union of all its live entries. */
final case class DvMeta(
    dataFile: String,
    blob: String,
    offset: Long,
    length: Long,
    cardinality: Long,
    commitUuid: String)

final case class ManifestMeta(
    path: String, // relative to table root
    fileCount: Int,
    rows: Long,
    bytes: Long)

final case class Snapshot(
    id: Long,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append | compact | cluster | merge | delete-pos | expire | rewrite-manifests | rewrite-deletes | …
    manifests: Seq[ManifestMeta],
    summary: Map[String, String],
    // merge-on-read deletes: deletion-vector manifests of DvMeta lines, one
    // per data file a commit deleted rows of. File-scoped (later appends
    // unaffected) and exactly clearable per rewritten file. Option so
    // pre-DV metadata JSON deserializes as None
    posDeleteManifests: Option[Seq[ManifestMeta]] = None,
    // equality-delete ("tombstone") manifests of graft's removed key-delete
    // format: read only so [[requireNoEqualityDeletes]] can refuse such a
    // snapshot, never written
    @JsonInclude(JsonInclude.Include.NON_ABSENT)
    deleteManifests: Option[Seq[ManifestMeta]] = None) {
  def posDeleteList: Seq[ManifestMeta] = posDeleteManifests.getOrElse(Seq.empty)

  /** Fails on a snapshot written with equality-delete manifests: this
    * version does not read that format, and planning the snapshot without
    * its key tombstones would bring the deleted rows back. */
  def requireNoEqualityDeletes(): Unit =
    if (deleteManifests.exists(_.nonEmpty))
      throw new IllegalStateException(s"snapshot $id lists equality-delete (key tombstone) " +
        "manifests, a merge-on-read delete format this version no longer reads; planning " +
        "it without them would bring deleted rows back — rewrite the table with the " +
        "version that wrote it (a full cluster rewrite materializes the tombstones)")
}

/** Named snapshot reference: pins `snapshotId` against expiry and names it
  * for time travel (`VERSION AS OF 'name'`). `kind` is "tag" (immovable) or
  * "branch" (moved by staged commits). For a branch, `baseSnapshotId`
  * records where it diverged from main: expiry pins the staged chain
  * head→base so a mid-staging VACUUM can never break the fast-forward
  * ancestry walk. */
final case class RefMeta(
    snapshotId: Long,
    kind: String = "tag",
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    baseSnapshotId: Option[Long] = None)

final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    schemaDdl: String, // StructType.toDDL (kept for readability/back-compat)
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    lastSnapshotId: Long,
    properties: Map[String, String],
    // StructType.json — unlike toDDL it preserves per-field metadata, which
    // carries the stable parquet field ids that make rename/drop column
    // evolution readable across old files; None on pre-evolution metadata
    schemaJson: Option[String] = None,
    // named snapshot refs; Option so pre-refs metadata JSON deserializes
    refs: Option[Map[String, RefMeta]] = None) {
  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.id == id))
  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.id == id)
  /** Snapshot `id` and its retained ancestors, newest first — the walk ends
    * at the root or at the first parent no longer retained. */
  def ancestry(id: Long): Seq[Snapshot] =
    Iterator.iterate(snapshot(id))(_.flatMap(_.parentId).flatMap(snapshot))
      .takeWhile(_.nonEmpty).map(_.get).toSeq
  def refMap: Map[String, RefMeta] = refs.getOrElse(Map.empty)
}

object MetaJson {
  private val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def readTableMetadata(s: String): TableMetadata = mapper.readValue[TableMetadata](s)
  def readDataFileMeta(s: String): DataFileMeta = mapper.readValue[DataFileMeta](s)
  def readDvMeta(s: String): DvMeta = mapper.readValue[DvMeta](s)
  def readStepLog(s: String): StepLog = mapper.readValue[StepLog](s)
}

/** Typed row of the web-page table (field names/order = the canonical
  * `(url, warc_ts, html, text, lang)` schema; see `Synth.pageSchema`). */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Resumable maintenance-run step log (checkpoint-resume per north rule). */
final case class StepLog(
    runId: String,
    op: String,
    startedMs: Long,
    doneSteps: Seq[String],
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    committedSnapshotId: Option[Long])
