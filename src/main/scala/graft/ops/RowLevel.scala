package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}

import graft.run.{Lineage, Maintenance}
import graft.table.{Bounds, DataFileMeta, DeletionVectors, DvMeta, FileIO, GraftTable, Snapshot, StepLog, TableState}

/**
 * Row-level DML — key deletes, DELETE/UPDATE WHERE, overwrites and MERGE —
 * commits through one of two writers, Iceberg's split of row-level changes
 * (https://iceberg.apache.org/spec/#row-level-deletes): [[rewrite]]
 * (copy-on-write: the touched files are replaced) or [[mergeOnRead]] (the
 * changed rows become deletion-vector entries and their new images an
 * append; no data file is rewritten). Each writer stages its output under
 * `data/`, commits once, and records one lineage run.
 */
private[graft] object RowLevel {

  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  /** DELETE (`set` None) or UPDATE (`set` the assignments, evaluated on the
    * pre-update row) of the rows where `predicate` holds, in write `mode`:
    * `delete`/`update` rewrite every file the predicate's pruning keeps,
    * `delete-pos`/`update-pos` take the matching rows' live positions from
    * one scan (persisted for an update, whose images it also feeds). None
    * when no file may match, or, merge-on-read, no live row does. */
  def where(table: GraftTable, predicate: Column, set: Option[Map[String, Column]], mode: String,
      runId: String = java.util.UUID.randomUUID.toString,
      summary: Map[String, String] = Map.empty): Option[Snapshot] = {
    require(mode == CopyOnWrite || mode == MergeOnRead,
      s"unknown write mode '$mode' ($CopyOnWrite | $MergeOnRead)")
    val t0 = System.nanoTime()
    val st = table.state
    val sch = st.schema
    for (s <- set; c <- s.keys)
      require(sch.fieldNames.contains(c), s"UPDATE of unknown column $c")
    val planned = st.planFiles(Some(predicate))
    if (planned.isEmpty) return None
    val hits = coalesce(predicate, lit(false))
    val image = set.map(s => sch.fields.toSeq.map { f =>
      s.get(f.name).fold(col(f.name))(v => when(hits, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
    })
    val why = summary + ("predicate" -> predicate.toString) ++
      set.map(s => "set-columns" -> s.keys.toSeq.sorted.mkString(","))
    if (mode == CopyOnWrite) {
      val df = st.readFiles(planned)
      return Some(rewrite(st, if (set.isEmpty) "delete" else "update", runId, planned, why + ("run-id" -> runId),
        t0)(st.writeDataFiles(image.fold(df.filter(!hits))(df.select(_: _*)), _)))
    }
    val hit = livePositions(st, planned).filter(hits)
    image.fold(deletePositions(st, runId, planned, hit, why, t0)) { cols =>
      hit.persist()
      try {
        val bitmaps = DeletionVectors.collect(hit)
        Option.when(bitmaps.nonEmpty)(mergeOnRead(st, "update-pos", runId, planned, bitmaps,
          Some(st.writeDataFiles(hit.select(cols: _*), _)), t0)(added => why + ("updated-rows" -> added.map(_.rows).sum.toString)))
      } finally hit.unpersist()
    }
  }

  /** [[GraftTable.deleteByKeysMoR]]: the keys are evaluated once, so the
    * probe ([[Merge.touchedFiles]]) and the semi-join see one key set. */
  def deleteByKeys(table: GraftTable, keys: DataFrame, summary: Map[String, String]): Option[Snapshot] = {
    require(keys.columns.nonEmpty, "key frame needs at least one key column")
    val t0 = System.nanoTime()
    val keyCols = keys.columns.toSeq
    val st = table.state
    keyCols.foreach(k => require(st.schema.fieldNames.contains(k), s"unknown key column $k"))
    val ks = keys.distinct().localCheckpoint()
    val planned =
      if (keyCols.forall(k => Bounds.supported(st.schema(k).dataType))) Merge.touchedFiles(st, ks, keyCols)
      else st.files
    if (planned.isEmpty) None
    else deletePositions(st, java.util.UUID.randomUUID.toString, planned,
      livePositions(st, planned).join(ks, keyCols, "left_semi"), summary + ("delete-key" -> keyCols.mkString(",")), t0)
  }

  /** `delete-pos` of the rows `hit` of [[livePositions]]; None when empty. */
  private def deletePositions(st: TableState, runId: String, planned: Seq[DataFileMeta], hit: DataFrame,
      summary: Map[String, String], t0: Long): Option[Snapshot] = {
    val bitmaps = DeletionVectors.collect(hit)
    Option.when(bitmaps.nonEmpty)(mergeOnRead(st, "delete-pos", runId, planned, bitmaps, None, t0)(_ =>
      summary + ("position-delete-files" -> bitmaps.size.toString)))
  }

  /** `planned` (files of `st`) with each live row's (file, position) as
    * `_gdv_rel`/`_gdv_idx`. Positions are taken with existing DVs applied,
    * so a repeated delete matches nothing and counts stay logical. */
  private def livePositions(st: TableState, planned: Seq[DataFileMeta]): DataFrame =
    st.withPositionDeletesKeepingPos(st.relation(planned), planned)

  /** The copy-on-write writer: `write` stages the rows replacing `touched`
    * under the name `<op>-<runId>` it is given; ONE `op` commit swaps
    * `touched` for the non-empty outputs ([[GraftTable.replaceFiles]]).
    * Conflict rule: the commit requires the snapshot `st` planned against,
    * as the output holds the touched files' rows; any concurrent commit
    * forces a replan. */
  def rewrite(st: TableState, op: String, runId: String, touched: Seq[DataFileMeta],
      summary: Map[String, String], t0: Long, log: Option[StepLog] = None,
      propertyUpdates: Map[String, String] = Map.empty)(
      write: String => Seq[DataFileMeta]): Snapshot = {
    val added = write(s"$op-$runId").filter(_.rows > 0)
    recorded(st, op, runId, touched, added, t0, log, st.table.replaceFiles(touched.map(_.path).toSet,
      added, op, summary, st.snapshot.map(_.id), propertyUpdates))
  }

  /** The merge-on-read writer: `bitmaps` become one DV blob in
    * `data/dv<o>-<runId>/` (`<o>`: the op's first letter), the images
    * `write` stages under the name it is given (None: none) an append in
    * `data/<op without -pos>-<runId>/`, both rewritten in
    * place by a rerun; ONE `op` commit adds a data and a DV manifest, with
    * `summary` of the appended files plus `position-deletes-added`. An empty
    * change commits too, so a MERGE's runId reruns idempotently.
    * Conflict rule: positions stay valid while their files live, so the
    * commit fails if a concurrent commit rewrote a file the DVs name, and
    * appends and deletes race through; a caller whose output depends on
    * more also passes `expectedSnapshotId` (MERGE: inserts need absent keys). */
  def mergeOnRead(st: TableState, op: String, runId: String, touched: Seq[DataFileMeta],
      bitmaps: DeletionVectors.Bitmaps, write: Option[String => Seq[DataFileMeta]], t0: Long,
      expectedSnapshotId: Option[Long] = None, log: Option[StepLog] = None,
      propertyUpdates: Map[String, String] = Map.empty)(
      summary: Seq[DataFileMeta] => Map[String, String]): Snapshot = {
    val table = st.table
    val name = op.stripSuffix("-pos")
    val dvs = DeletionVectors.write(table.root, s"dv${name.head}-$runId", bitmaps)
    val dir = s"${table.dataDir}/$name-$runId"
    val added = write.toSeq.flatMap { w =>
      FileIO.deleteRecursively(dir)
      val out = w(s"$name-$runId").filter(_.rows > 0)
      if (out.isEmpty) FileIO.deleteRecursively(dir)
      out
    }
    recorded(st, op, runId, touched, added, t0, log,
      table.commitFull(op, expectedSnapshotId, propertyUpdates) { parent =>
        requireReferencedLive(op, st, parent, dvs)
        (parent.map(_.manifests).getOrElse(Seq.empty) ++ Option.when(added.nonEmpty)(table.writeManifest(added)),
          Some(parent.map(_.posDeleteList).getOrElse(Seq.empty) ++ Option.when(dvs.nonEmpty)(table.writeDvManifest(dvs))),
          summary(added) + ("position-deletes-added" -> dvs.map(_.cardinality).sum.toString))
      })
  }

  /** `committed`, marked in the run's step log (if any) and recorded in
    * lineage: a row per output file, sourced from `touched`, and a summary. */
  private def recorded(st: TableState, op: String, runId: String, touched: Seq[DataFileMeta],
      added: Seq[DataFileMeta], t0: Long, log: Option[StepLog], committed: Snapshot): Snapshot = {
    log.foreach(Maintenance.markCommitted(st.table, _, committed.id))
    Lineage.record(st.table.spark, st.table, runId, committed.id, op, added,
      added.map(o => o.path -> touched).toMap, (System.nanoTime() - t0) / 1000000)
    committed
  }

  /** Fails `op` when a concurrent commit rewrote a data file of `entries`;
    * reads no manifest while every manifest `planned` had is in `parent`. */
  private def requireReferencedLive(op: String, planned: TableState,
      parent: Option[Snapshot], entries: Seq[DvMeta]): Unit = {
    val parentManifests = parent.toSeq.flatMap(_.manifests)
    val kept = parentManifests.map(_.path).toSet
    if (entries.isEmpty || planned.snapshot.forall(_.manifests.forall(m => kept.contains(m.path)))) return
    val live = parentManifests.flatMap(m => planned.table.readManifest(m.path)).map(_.path).toSet
    val gone = entries.map(_.dataFile).filterNot(live)
    require(gone.isEmpty,
      s"$op planned against files a concurrent commit rewrote " +
        s"(${gone.take(3).mkString(", ")}${if (gone.length > 3) ", …" else ""}); replan required")
  }
}
