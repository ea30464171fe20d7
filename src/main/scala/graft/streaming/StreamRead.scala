package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.types.StructType

import graft.table.{DataFileMeta, GraftTable, TableState}

/**
 * Streaming CDC read of a graft table: `spark.readStream.format("graft")
 * .load(root)` tails the snapshot chain, turning each append commit into
 * micro-batch rows exactly once.
 *
 * This is the continuous form of the reference's checkpoint-driven
 * incremental load loop (`util/TimeStampUtil.java:53-109` stores a
 * last-loaded timestamp in HBase and each run re-scans a time window with a
 * 90-day late-data allowance, `job/JobUtil.java:543-577`): here the offset
 * IS the snapshot id, the diff is the exact file set each append committed
 * (no window, no late-data re-reads), and exactly-once delivery falls out
 * of Spark's offset log — a batch replayed after a crash re-reads the same
 * immutable files.
 *
 * Implemented as a DSv1 [[Source]] (the integration point file-based table
 * formats use publicly — `getBatch` returns a DataFrame over exactly the
 * diffed files, pruned/planned by the same [[org.apache.spark.sql.graftshim.GraftFileIndex]]
 * as batch reads, vectorized parquet + codegen downstream unchanged).
 *
 * Options:
 *  - `starting-snapshot-id`: tail from this snapshot (EXCLUSIVE) instead of
 *    delivering the current table contents as the first batch;
 *  - `skip-change-commits`: `true` silently skips row-changing commits
 *    (merge / update / delete / overwrite) instead of failing the query —
 *    the append-only contract a tailing consumer accepts (rewrites of
 *    already-delivered rows are never re-delivered or retracted);
 *  - `change-rows`: `true` switches to ROW-LEVEL CDC — every commit
 *    (including merges and deletes) is delivered as
 *    insert/delete row images with `_change_type`/`_commit_snapshot_id`
 *    columns ([[graft.table.Changelog]]); the initial batch is the table
 *    contents as insert events. Folding the events in commit order
 *    reconstructs `read()` exactly;
 *  - `update-images-on`: comma-separated key columns — in change-rows mode,
 *    pair each commit's delete+insert of the same key tuple into
 *    `update_preimage`/`update_postimage` events (preimage folds as delete,
 *    postimage as insert);
 *  - `max-snapshots-per-trigger`: admission control — cap how many chain
 *    commits one micro-batch may cover (applies from the second trigger of
 *    a run).
 *  - `max-files-per-trigger`: chunk the INITIAL snapshot batch — at most
 *    this many data files per micro-batch until the table's starting
 *    contents are delivered (path-ordered, exactly-once across restarts
 *    via [[GraftInitOffset]] positions in the offset log). Without it the
 *    initial batch is the whole table — one micro-batch reading 100 TB.
 *    Chain tailing after the initial load is governed by
 *    `max-snapshots-per-trigger`; appends are delivered whole (a commit is
 *    the atomic unit of the chain diff).
 *
 * Semantics notes:
 *  - each batch applies the `to` snapshot's deletion vectors via the same
 *    in-scan filter as batch reads, so a row deleted before the batch's
 *    snapshot is never delivered;
 *  - a [[GraftTable.rollback]] that moves the current snapshot behind a
 *    delivered offset fails the query (offsets must not regress);
 *  - snapshot EXPIRY that garbage-collects a file appended-then-rewritten
 *    inside an undelivered range can fail the read (same vacuum-vs-tail
 *    race every file-based CDC source has) — expire with retention above
 *    the consumer's lag.
 */
object GraftStreamSource {
  /** Case-insensitive option lookup — DSv1 providers receive the raw user
    * option map. ONE definition: the sink derives its idempotence key from
    * the checkpoint option string, so source/sink lookup must never
    * diverge. */
  private[graft] def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  private val InitOffsetRe = """\{"snapshot":(\d+),"file":(\d+)\}""".r

  /** Parse either offset wire form: plain `<snapshotId>` (a completed
    * snapshot — the LongOffset format all pre-chunking checkpoints hold) or
    * `{"snapshot":S,"file":K}` (mid-initial-load position: the first K
    * path-ordered files of snapshot S are delivered). Restarts hand back
    * SerializedOffset, so the json string is the only contract. */
  private[streaming] def parseOffset(json: String): (Long, Option[Long]) =
    json.trim match {
      case InitOffsetRe(snap, pos) => (snap.toLong, Some(pos.toLong))
      case s => (s.toLong, None)
    }
}

/** Offset INSIDE the initial snapshot: the first `filePos` (path-ordered)
  * data files of `snapshotId` have been delivered. */
private[streaming] final case class GraftInitOffset(snapshotId: Long, filePos: Long)
  extends OffsetV1 {
  override def json: String = s"""{"snapshot":$snapshotId,"file":$filePos}"""
}

class GraftStreamSource(
    spark: SparkSession,
    parameters: Map[String, String]) extends Source {

  private def opt(key: String): Option[String] = GraftStreamSource.opt(parameters, key)

  private val root = opt("path").getOrElse(throw new IllegalArgumentException(
    "graft streaming source requires a path: spark.readStream.format(\"graft\").load(<table root>)"))
  private val table = GraftTable.load(spark, root)
  private val startingSnapshotId = opt("starting-snapshot-id").map(_.toLong)
  private val skipChangeCommits = opt("skip-change-commits").exists(_.toBoolean)
  private val changeRows = opt("change-rows").exists(_.toBoolean)
  require(!(changeRows && skipChangeCommits),
    "change-rows delivers row-changing commits as insert/delete events; " +
      "skip-change-commits contradicts it — pick one")
  private val maxSnapshotsPerTrigger = opt("max-snapshots-per-trigger").map(_.toInt)
  maxSnapshotsPerTrigger.foreach(n => require(n > 0, "max-snapshots-per-trigger must be > 0"))
  private val maxFilesPerTrigger = opt("max-files-per-trigger").map(_.toInt)
  maxFilesPerTrigger.foreach(n => require(n > 0, "max-files-per-trigger must be > 0"))
  require(maxFilesPerTrigger.isEmpty || startingSnapshotId.isEmpty,
    "max-files-per-trigger chunks the initial snapshot; " +
      "starting-snapshot-id skips it — pick one")
  /** `update-images-on=k1,k2`: pair per-commit delete+insert of a key tuple
    * into update_preimage/update_postimage events (change-rows mode only;
    * [[graft.table.Changelog.withUpdateImages]]). */
  private val updateImagesOn: Seq[String] =
    opt("update-images-on").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  require(updateImagesOn.isEmpty || changeRows,
    "update-images-on requires change-rows=true")

  // schema and partition specs are PINNED at stream start: mid-stream
  // add-column evolution must not change the micro-batch schema under a
  // running query (files are read by name; a column added later simply
  // does not appear until the stream restarts). Every batch reads the
  // latest state through this one's schema and specs (the spec union keeps
  // old-generation dirs pruning; field-id column resolution keeps
  // post-rename/drop files readable by the old schema).
  private val pinned = table.state
  private val baseSchema: StructType = pinned.schema
  override val schema: StructType =
    if (changeRows) graft.table.Changelog.schemaFor(baseSchema) else baseSchema
  updateImagesOn.filterNot(baseSchema.fieldNames.contains).foreach(c =>
    throw new IllegalArgumentException(
      s"update-images-on column '$c' is not in the table schema"))

  startingSnapshotId.foreach { id =>
    require(id == 0 || pinned.metadata.snapshot(id).nonEmpty,
      s"starting-snapshot-id $id is not a retained snapshot of $root")
  }

  /** The latest committed version, read through the pinned schema. */
  private def latest: TableState = table.state.withSchemaOf(pinned)

  /** Newest end offset handed to [[getBatch]] — the reference point for
    * admission control: `(snapshotId, Some(filePos))` mid-initial-load,
    * `(snapshotId, None)` once a snapshot is fully delivered (volatile: the
    * streaming thread calls getOffset/getBatch, but tests may probe
    * concurrently). */
  @volatile private var lastPlannedEnd: Option[(Long, Option[Long])] = None

  /** Path-ordered file list of the initial snapshot (cached: every chunk
    * trigger re-derives positions from the SAME immutable list). */
  @volatile private var initCache: Option[(Long, IndexedSeq[DataFileMeta])] = None
  private def initFiles(snap: Long): IndexedSeq[DataFileMeta] = initCache match {
    case Some((s, fs)) if s == snap => fs
    case _ =>
      val fs = table.state.at(snap).files.sortBy(_.path).toIndexedSeq
      initCache = Some((snap, fs)); fs
  }

  override def getOffset: Option[OffsetV1] = {
    val md = table.metadata
    val current = md.currentSnapshotId.getOrElse(return None)
    for ((last, _) <- lastPlannedEnd)
      require(current >= last,
        s"current snapshot $current is behind delivered offset $last (rollback under a live stream?)")
    lastPlannedEnd match {
      case Some((snap, Some(pos))) =>
        // mid-initial-load: keep chunking the pinned snapshot `snap` even
        // if the table has advanced — chain tailing starts after it
        val total = initFiles(snap).size
        val next = maxFilesPerTrigger.map(m => math.min(pos + m, total.toLong))
          .getOrElse(total.toLong)
        return if (next >= total) Some(LongOffset(snap))
               else Some(GraftInitOffset(snap, next))
      case None if maxFilesPerTrigger.isDefined =>
        // first trigger with chunking on (starting-snapshot-id is rejected
        // up front, so this IS the initial load): cap the first chunk
        val total = initFiles(current).size
        val m = maxFilesPerTrigger.get
        return if (total > m) Some(GraftInitOffset(current, m))
               else Some(LongOffset(current))
      case _ => // fall through to whole-snapshot chain admission
    }
    val floor = lastPlannedEnd.map(_._1).orElse(startingSnapshotId)
    val capped = (maxSnapshotsPerTrigger, floor) match {
      case (Some(maxN), Some(from)) if current != from =>
        // ancestors of `current` newer than `from`, oldest first; the cap
        // picks the maxN-th — chain-walked so an id on an abandoned
        // (rolled-back) branch is never returned as an offset
        val lineage = md.ancestry(current).map(_.id)
        // a rollback onto another branch can leave current NEWER than the
        // delivered offset yet not descended from it — without this check
        // the cap would emit an offset BELOW the floor and the batch would
        // fail later with a misleading broken-chain error
        require(lineage.contains(from) || from == 0,
          s"delivered offset $from is not reachable from current snapshot $current — " +
            "an intermediate snapshot was expired (raise retention above the " +
            "stream's lag), or a rollback moved the table onto another branch")
        val newestFirst = lineage.takeWhile(_ != from)
        if (newestFirst.size <= maxN) current else newestFirst.reverse(maxN - 1)
      case _ => current
    }
    // same offset as already planned = no new data this trigger
    if (floor.contains(capped)) None else Some(LongOffset(capped))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endO = GraftStreamSource.parseOffset(end.json)
    lastPlannedEnd = Some(endO)
    val startO = start.map(o => GraftStreamSource.parseOffset(o.json))
      .orElse(startingSnapshotId.map(id => (id, Option.empty[Long])))
    (startO, endO) match {
      // ---- chunked initial load: [from, until) of the path-ordered list
      case (s, (snap, Some(until))) =>
        val from = s match {
          case None => 0L
          case Some((s0, Some(p))) =>
            require(s0 == snap, s"initial-load offsets span snapshots $s0 vs $snap"); p
          case Some((s0, None)) => throw new IllegalStateException(
            s"mid-initial offset after completed snapshot $s0 — corrupt offset log?")
        }
        initialChunk(snap, from, until)
      case (Some((s0, Some(p))), (snap, None)) if s0 == snap =>
        // final chunk: the rest of the initial snapshot
        initialChunk(snap, p, initFiles(snap).size.toLong)
      case (Some((s0, Some(_))), (snap, None)) => throw new IllegalStateException(
        s"initial-load offsets span snapshots $s0 vs $snap — corrupt offset log?")

      // ---- whole-snapshot chain tailing (original semantics)
      case (sO, (endId, None)) =>
        val startId = sO.map(_._1)
        val st = latest
        if (changeRows) return changeBatch(st, startId, endId)
        startId match {
          case Some(from) if from == endId =>
            streamingDf(st.at(endId), Seq.empty)
          case Some(from) =>
            val (files, to) = st.incrementalFiles(from, Some(endId), skipChangeCommits)
            streamingDf(st.at(to), files)
          case None =>
            // initial batch: the table's full contents as of `endId` (the
            // streaming analog of a batch read — Delta-style initial snapshot)
            streamingDf(st.at(endId), st.at(endId).files)
        }
    }
  }

  /** One initial-load chunk: files [from, until) of the pinned snapshot's
    * path-ordered list, with its deletes applied — in change-rows mode
    * tagged as insert events at that snapshot, otherwise plain rows. */
  private def initialChunk(snap: Long, from: Long, until: Long): DataFrame = {
    val chunk = initFiles(snap).slice(from.toInt, until.toInt)
    val st = latest.at(snap)
    if (changeRows)
      graft.table.Changelog.initialSnapshot(st, streamingTag = true, filesOverride = Some(chunk))
    else streamingDf(st, chunk)
  }

  /** change-rows mode: the batch is the commits' insert/delete row images
    * ([[graft.table.Changelog]]). The changelog's diff subplans are BATCH
    * plans (their joins/EXCEPT ALL must not be planned as streaming-stateful
    * operators); the required isStreaming flag rides on a 0-row streaming
    * relation union'd in by the changelog builder. */
  private def changeBatch(st: TableState, startId: Option[Long], endId: Long): DataFrame =
    startId match {
      case Some(from) if from == endId =>
        // defensive empty batch (recovery can hand equal start/end): build it
        // over ZERO files — the full-table variant would pay manifest parsing
        // plus DV reads just to filter everything out
        graft.table.Changelog.initialSnapshot(st.at(endId), streamingTag = true,
          filesOverride = Some(Seq.empty))
          .filter(lit(false))
      case Some(from) =>
        graft.table.Changelog.changes(st, from, Some(endId), streamingTag = true,
          updateImagesOn = updateImagesOn)
      case None =>
        // initial batch: the full contents as INSERT events at `endId`
        graft.table.Changelog.initialSnapshot(st.at(endId), streamingTag = true)
    }

  /** Micro-batch DataFrame over `files` with the merge-on-read deletes of
    * `st`'s snapshot applied (the in-scan DV bitmap filter). A row deleted
    * before its file is delivered must not reach the consumer, exactly as
    * `read()` at that snapshot would hide it. */
  private def streamingDf(st: TableState, files: Seq[DataFileMeta]): DataFrame =
    st.live(files, isStreaming = true)

  override def commit(end: OffsetV1): Unit = () // offset log is the state
  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftStreamSource[$root]"
}
