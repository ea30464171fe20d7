package graft.ops

import graft.table.{DeletionVectors, FileIO, GraftTable, Snapshot}

/**
 * Snapshot expiry with retained-snapshot GC: drops old snapshots from table
 * metadata, then deletes data files and manifests referenced ONLY by the
 * dropped snapshots — generalizing the reference's fixed 90-day incremental
 * lookback (`job/JobUtil.java:557-567`, constant 7776000000 ms) into a
 * retention policy over real snapshot history.
 *
 * Order of operations matters for snapshot isolation: metadata commits
 * first (readers can no longer pin an expired snapshot), physical deletes
 * happen after — a reader that already planned files from an old snapshot
 * before the commit races only with the GC of files that were exclusively
 * referenced by snapshots it should not have pinned.
 */
object Expire {

  final case class Result(
      removedSnapshots: Seq[Long],
      deletedDataFiles: Seq[String],
      deletedManifests: Seq[String])

  def expire(
      table: GraftTable,
      retainLast: Int = 1,
      olderThanMs: Long = Long.MaxValue): Result = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val md = table.metadata
    val current = md.currentSnapshotId.getOrElse(return Result(Nil, Nil, Nil))
    val byId = md.snapshots.sortBy(_.id)
    // named refs pin their snapshot — and thereby every file it references —
    // regardless of age or retainLast, until the ref is dropped. A BRANCH
    // additionally pins everything the PUBLISH ancestry walks need: its
    // staged chain head→base AND main's history current→base, both
    // inclusive of the base (the divergence point). Expiring any of those
    // would break fast-forward mid-staging or make a cherry-pick publish
    // spuriously refuse ("base is not an ancestor of main") after a routine
    // VACUUM. Main history BELOW the base ages out normally. A branch with
    // no recorded base (pre-tracking metadata) pins its whole chain to the
    // root — conservative, released when the branch is dropped. If main has
    // genuinely forked off the base (RESTORE then new commits), the main
    // walk never reaches the base and pins nothing extra: that branch can
    // only be re-staged, so retaining main history for it buys nothing.
    def chainDown(from: Long, stopAt: Option[Long]): Seq[Long] = {
      val (above, rest) = md.ancestry(from).map(_.id).span(id => !stopAt.contains(id))
      above ++ rest.take(1)
    }
    val branchChains = md.refMap.values.filter(_.kind == "branch").flatMap { r =>
      val staged = chainDown(r.snapshotId, r.baseSnapshotId)
      val mainSide = r.baseSnapshotId.toSeq.flatMap { b =>
        val walk = chainDown(current, Some(b))
        if (walk.lastOption.contains(b)) walk else Seq.empty
      }
      staged ++ mainSide
    }
    val keepIds = (byId.takeRight(retainLast).map(_.id) :+ current).toSet ++
      byId.filter(_.timestampMs >= olderThanMs).map(_.id) ++
      md.refMap.values.map(_.snapshotId) ++ branchChains
    val (kept, dropped) = byId.partition(s => keepIds.contains(s.id))
    if (dropped.isEmpty) return Result(Nil, Nil, Nil)

    // data AND DV manifests both pin their files; a DV blob goes only when
    // no kept entry references it
    val keptManifests = manifestsOf(kept)
    val keptFiles = filesOf(table, keptManifests).toSet
    val droppedManifests = manifestsOf(dropped).filterNot(keptManifests.contains)
    val droppedFiles = filesOf(table, droppedManifests).distinct.filterNot(keptFiles.contains)

    // keepIds and the GC file sets were planned against `md`; if a writer
    // commits between planning and the CAS (new snapshot, moved pointer,
    // ref created on a snapshot we planned to drop), blindly re-applying
    // the filter against the fresh metadata would silently delete the
    // concurrent snapshot and dangle the pointer/ref — replan instead
    val raced = try {
      table.commitMetadataUpdate { cur =>
        if (cur.lastSnapshotId != md.lastSnapshotId ||
            cur.currentSnapshotId != md.currentSnapshotId ||
            cur.refMap != md.refMap) throw ReplanSignal
        cur.copy(snapshots = cur.snapshots.filter(s => keepIds.contains(s.id)))
      }
      false
    } catch { case ReplanSignal => true }
    if (raced) return expire(table, retainLast, olderThanMs)

    droppedFiles.foreach(p => FileIO.delete(s"${table.root}/$p"))
    droppedManifests.foreach { case (p, _) => FileIO.delete(s"${table.root}/$p") }
    Result(dropped.map(_.id), droppedFiles, droppedManifests.map(_._1))
  }

  /** Distinct manifests of `snaps` (snapshots share most of theirs), each
    * tagged as a DV manifest or not. */
  private def manifestsOf(snaps: Seq[Snapshot]): Seq[(String, Boolean)] =
    snaps.flatMap { s =>
      s.requireNoEqualityDeletes()
      s.manifests.map(_.path -> false) ++ s.posDeleteList.map(_.path -> true)
    }.distinct

  /** Table-relative files `manifests` reference: data files and DV blobs. */
  private def filesOf(table: GraftTable, manifests: Seq[(String, Boolean)]): Seq[String] =
    manifests.flatMap {
      case (m, false) => table.readManifest(m).map(_.path)
      case (m, true)  => table.readDvManifest(m).map(_.blob)
    }

  /** Control signal: metadata moved between expiry planning and commit. */
  private object ReplanSignal extends scala.util.control.ControlThrowable

  /**
   * Remove orphan files: data files and DV blobs under `data/`, and data and
   * DV manifests under `metadata/`, referenced by NO snapshot — leftovers of
   * crashed maintenance runs, deletes that staged output but never
   * committed, and the manifests a commit attempt wrote before it lost its
   * CAS race. Only files older than `olderThanMs` are touched, so an
   * IN-FLIGHT run's staging is never deleted (the same grace window
   * real-world orphan cleanup uses against racing writers).
   *
   * The write debris around data files goes too, under the same window:
   * the Hadoop `.crc` sidecar of every orphaned data file, and every
   * `_SUCCESS` marker, `.crc` sidecar and `.tmp` file of a commit
   * directory that holds no referenced data file (what [[Expire.expire]]
   * leaves of a directory whose files it deleted, or a crashed copy's temp
   * file). A live file's sidecar is never touched. Directories this
   * leaves empty are pruned. Returns the orphaned data files, DV blobs and
   * manifests; the debris is not listed.
   */
  def removeOrphans(table: GraftTable, olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val manifests = manifestsOf(table.metadata.snapshots)
    val referenced: Set[String] = filesOf(table, manifests)
      .map(p => s"${table.root}/$p").toSet
    val referencedManifests = manifests.map(_._1).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    def stale(p: Path) = Files.getLastModifiedTime(p).toMillis < cutoff
    val orphans = scala.collection.mutable.ArrayBuffer.empty[String]
    val dataRoot = Paths.get(table.dataDir)
    val files: Seq[Path] =
      if (!Files.isDirectory(dataRoot)) Nil
      else {
        val stream = Files.walk(dataRoot)
        try stream.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally stream.close()
      }
    def isData(p: Path) = p.toString.endsWith(".parquet") || p.toString.endsWith(DeletionVectors.BlobSuffix)
    // the commit directory (first level under data/) a file belongs to
    def commitDir(p: Path) = dataRoot.resolve(dataRoot.relativize(p).getName(0))
    val (data, other) = files.partition(isData)
    val liveDirs = data.filter(p => referenced.contains(p.toString)).map(commitDir).toSet
    val orphanData = data.filter(p => !referenced.contains(p.toString) && stale(p))
    orphans ++= orphanData.map(_.toString)
    val sidecars = orphanData.map(p => p.resolveSibling(s".${p.getFileName}.crc")).toSet
    val debris = other.filter { p =>
      val name = p.getFileName.toString
      val kind = name == "_SUCCESS" || name.endsWith(".crc") || name.endsWith(".tmp")
      (sidecars.contains(p) || (kind && !liveDirs.contains(commitDir(p)))) && stale(p)
    }
    // manifests compare by table-relative name, the form snapshots store
    for (abs <- FileIO.listFiles(s"${table.root}/metadata", ".json")) {
      val name = abs.substring(abs.lastIndexOf('/') + 1)
      if (name.startsWith("manifest-") && !referencedManifests.contains(s"metadata/$name") &&
          stale(Paths.get(abs))) orphans += abs
    }
    orphans.foreach(FileIO.delete)
    debris.foreach(p => FileIO.delete(p.toString))
    // prune, deepest first, every directory this pass emptied (with its
    // emptied parents) and every empty commit directory; a directory that
    // gained an entry meanwhile (a racing writer) refuses the delete
    val emptied = (orphanData ++ debris).flatMap { p =>
      Iterator.iterate(p.getParent)(_.getParent).takeWhile(_ != dataRoot).toSeq
    }
    val commitDirs = FileIO.listDirs(table.dataDir).map(Paths.get(_))
    (emptied ++ commitDirs).distinct.sortBy(-_.getNameCount).foreach { d =>
      try Files.deleteIfExists(d) catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    }
    orphans.toSeq
  }
}

/**
 * Manifest rewrite: many small manifests (one per commit) → few right-sized
 * ones, so scan planning stays O(files) with small constant factors even
 * after thousands of commits. The data-file set is unchanged — asserted by
 * the commit summary.
 */
object ManifestRewrite {

  def run(table: GraftTable, entriesPerManifest: Int = 100000): Option[Snapshot] = {
    val st = table.state
    val snap = st.snapshot.getOrElse(return None)
    if (snap.manifests.size <= 1) return None
    val entries = st.files
    val groups = entries.grouped(math.max(1, entriesPerManifest)).toSeq
    val committed = table.commitFull("rewrite-manifests", Some(snap.id)) { parent =>
      val manifests = groups.map(table.writeManifest)
      (manifests, parent.flatMap(_.posDeleteManifests), Map(
        "manifests-before" -> snap.manifests.size.toString,
        "manifests-after" -> manifests.size.toString,
        "files" -> entries.size.toString))
    }
    Some(committed)
  }
}
