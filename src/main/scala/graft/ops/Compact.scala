package graft.ops

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.run.{Lineage, Maintenance}
import graft.table.{DataFileMeta, FileIO, GraftTable, Snapshot}

/**
 * Bin-packing small-file compaction: groups undersized data files and
 * rewrites each group as one right-sized file, shuffle-free (each group is a
 * single read→write task; groups run as concurrent Spark jobs so a cluster
 * keeps all executors busy — the re-imagining of the reference's
 * partition-parallel row transfer, `job/JobUtil.java:581-607`, where one
 * HBase region ≈ one task; here one file group ≈ one task).
 *
 * Resumable: every group writes to a staging directory keyed by
 * (runId, group index); a rerun after a crash reuses any group directory
 * that completed (`_SUCCESS`) and re-executes the rest, then commits once
 * (checkpoint-resume per the north rule).
 */
object Compact {

  final case class Plan(snapshotId: Long, groups: Seq[Seq[DataFileMeta]])

  /**
   * Deterministic plan against the current snapshot: files smaller than
   * `smallFileFraction * targetBytes` are bin-packed, in order of their
   * `orderBy` column min (preserving clustering locality), into groups of
   * ~targetBytes. Groups of one file are dropped (nothing to gain).
   */
  def plan(
      table: GraftTable,
      targetBytes: Long,
      orderBy: Option[String] = None,
      smallFileFraction: Double = 0.75,
      predicate: Option[org.apache.spark.sql.Column] = None,
      deleteRatioThreshold: Double = 0.1): Option[Plan] = {
    val snap = table.currentSnapshot.getOrElse(return None)
    // WHERE-scoped maintenance: only files whose stats range intersects the
    // predicate are candidates — at 100 TB you compact the hot partition,
    // not the table. Rewrites are row-preserving for ANY file subset, so
    // scoping never affects correctness (and a scoped pass never clears
    // tombstones — the full-coverage check below compares against ALL files)
    val all = table.planFiles(predicate)
    val threshold = (targetBytes * smallFileFraction).toLong
    // delete pressure: a file whose position-deleted row share reaches
    // `deleteRatioThreshold` is a rewrite candidate REGARDLESS of size —
    // every read pays the DV filter for a covered file until a rewrite
    // clears it, so compaction is what keeps DV accumulation bounded at
    // 100 TB (Iceberg's delete-file-threshold strategy). Counts are the
    // cached DV bitmaps' cardinalities; empty map when the snapshot has none.
    val dvCounts = table.posDeleteRowCounts()
    val pressured: Set[String] = all.filter { f =>
      val d = dvCounts.getOrElse(f.path, 0L)
      d > 0 && f.rows > 0 && d.toDouble / f.rows >= deleteRatioThreshold
    }.map(_.path).toSet
    val small = (all.filter(_.bytes < threshold) ++
      all.filter(f => pressured.contains(f.path) && f.bytes >= threshold))
      .groupBy(_.path).map(_._2.head).toSeq
    // with live MoR tombstones a rewrite has a second purpose — applying
    // them — so singleton groups stay in the plan and a full-coverage pass
    // can materialize-and-clear the tombstone set (see run()); without
    // tombstones a one-file group has nothing to gain and is dropped —
    // unless it is delete-pressured (the rewrite clears its DV rows)
    val tombstonesLive = table.tombstones().nonEmpty
    if (small.isEmpty || (small.size < 2 && !tombstonesLive && pressured.isEmpty)) return None
    val sortCol = orderBy.getOrElse(table.schema.fields.head.name)
    val dt = table.schema.fields.find(_.name == sortCol).map(_.dataType)
    val ordered = (dt match {
      case Some(t) if graft.table.Bounds.supported(t) =>
        small.sortWith { (a, b) =>
          (a.minValues.get(sortCol), b.minValues.get(sortCol)) match {
            case (Some(x), Some(y)) => graft.table.Bounds.compare(t, x, y) < 0
            case _                  => a.path < b.path
          }
        }
      case _ => small.sortBy(_.path)
    })
    // hidden partitioning: bin-pack WITHIN a partition tuple — a group
    // spanning partition values would be re-split by partitionBy at write,
    // defeating the packing (one group → one file only holds per dir).
    // Pre-spec files (no partition dirs) pack together; their rewrite
    // adopts the dir layout.
    val specs = table.allPartitionSpecs
    val byPart: Seq[Seq[DataFileMeta]] =
      if (specs.isEmpty) Seq(ordered)
      else ordered.groupBy(f => graft.table.PartitionSpec.fileKey(specs, f))
        .toSeq.sortBy(_._1).map(_._2)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[DataFileMeta]]
    for (part <- byPart) {
      var cur = Vector.empty[DataFileMeta]
      var curBytes = 0L
      for (f <- part) {
        if (curBytes > 0 && curBytes + f.bytes > targetBytes) {
          groups += cur; cur = Vector.empty; curBytes = 0L
        }
        cur :+= f; curBytes += f.bytes
      }
      if (cur.nonEmpty) groups += cur
    }
    val useful = (if (tombstonesLive) groups
      else groups.filter(g => g.size >= 2 || g.exists(f => pressured.contains(f.path)))).toSeq
    if (useful.isEmpty) None else Some(Plan(snap.id, useful))
  }

  /** Execute (or resume) a compaction run. Returns the committed snapshot,
    * or None if there was nothing to compact. */
  def run(
      table: GraftTable,
      targetBytes: Long = 128L * 1024 * 1024,
      runId: String = java.util.UUID.randomUUID.toString,
      orderBy: Option[String] = None,
      jobParallelism: Int = 0,
      predicate: Option[org.apache.spark.sql.Column] = None,
      deleteRatioThreshold: Double = 0.1): Option[Snapshot] = {
    val spark = table.spark
    val t0 = System.nanoTime()
    var log = Maintenance.start(table, runId, "compact")
    log.committedSnapshotId.foreach { id =>
      return table.metadata.snapshot(id) // already fully committed earlier
    }
    val p = plan(table, targetBytes, orderBy, predicate = predicate,
      deleteRatioThreshold = deleteRatioThreshold).getOrElse(return None)
    val planStep = s"plan@${p.snapshotId}"
    require(log.doneSteps.isEmpty || log.doneSteps.contains(planStep),
      s"resume $runId: table advanced past planned snapshot; start a fresh run")
    log = Maintenance.markDone(table, log, planStep)

    val schema = table.schema
    // each group rewrite is ONE task (coalesce(1)); the default pool
    // (jobParallelism=0) therefore sizes to the cluster's task slots so a
    // many-small-groups plan (e.g. one group per bucket dir) keeps every
    // core busy — concurrent writers stay ≤ defaultParallelism, the same
    // pressure as any cluster-wide write job
    val wanted =
      if (jobParallelism > 0) jobParallelism
      else math.max(8, spark.sparkContext.defaultParallelism)
    val pool = Executors.newFixedThreadPool(math.min(wanted, math.max(1, p.groups.size)),
      r => { val t = new Thread(r, "graft-compact"); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results: Seq[Future[(Seq[DataFileMeta], Seq[DataFileMeta])]] =
      p.groups.zipWithIndex.map { case (group, i) =>
        Future {
          val commitUuid = s"compact-$runId-g$i"
          val dir = s"${table.dataDir}/$commitUuid"
          val done = log.doneSteps.contains(s"group$i") && FileIO.exists(s"$dir/_SUCCESS")
          // writeDataFiles already collects the fresh footers — reuse them
          // (the old shape wrote, discarded the metas, then re-read every
          // footer; only the RESUME branch still needs the re-read)
          val metas = if (!done) {
            FileIO.deleteRecursively(dir) // partial attempt from a crashed run
            spark.sparkContext.setJobDescription(s"compact $runId group $i (${group.size} files)")
            // apply live MoR deletes to the rewritten rows: equality
            // tombstones stay live in the commit (other files may still
            // hold tombstoned keys); POSITION deletes of exactly these
            // files are applied here and cleared by replaceFiles
            val df = table.applyTombstones(table.withPositionDeletes(
              spark.read.schema(schema).parquet(group.map(table.absPath): _*), group))
            try table.writeDataFiles(df.coalesce(1), commitUuid)
            finally spark.sparkContext.setJobDescription(null) // pool threads are reused across groups
          } else graft.table.StatsCollector.collect(
            spark, schema, table.root, FileIO.listFilesRecursively(dir, ".parquet"), commitUuid)
          synchronized { log = Maintenance.markDone(table, log, s"group$i") }
          (metas, group)
        }
      }
    val finished =
      try Await.result(Future.sequence(results), Duration.Inf)
      catch { case e: Throwable =>
        // fail fast but do NOT leave sibling group jobs writing into staging
        // dirs a same-runId retry would deleteRecursively from under them
        pool.shutdownNow()
        pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
        throw e
      }
    pool.shutdown()

    // drop all-empty outputs: a group whose every row was tombstoned
    // writes a 0-row, bound-less parquet file — unprunable manifest
    // noise (same rule as Merge/deleteWhere)
    val added = finished.flatMap(_._1).filter(_.rows > 0)
    val removed = p.groups.flatten.map(_.path).toSet
    val sourcesPerOutput = finished
      .flatMap { case (outs, srcs) => outs.filter(_.rows > 0).map(o => o.path -> srcs) }.toMap
    // full-coverage pass: when every data file of the planned snapshot was
    // rewritten (tombstones applied per group above), the tombstones are
    // fully materialized and the commit clears them — otherwise they stay
    // live (untouched files may still hold tombstoned keys) and MERGE
    // remains blocked until a full cluster rewrite OR a compact-all runs.
    // Sound against races: replaceFiles requires the parent to still BE the
    // planned snapshot, so a tombstone added after planning fails the
    // commit instead of being silently cleared.
    val clearDeletes = table.tombstones(Some(p.snapshotId)).nonEmpty &&
      removed == table.files(Some(p.snapshotId)).map(_.path).toSet
    val snap = table.replaceFiles(removed, added, "compact",
      Map("run-id" -> runId, "groups" -> p.groups.size.toString),
      expectedSnapshotId = Some(p.snapshotId), clearDeletes = clearDeletes)
    Maintenance.markCommitted(table, log, snap.id)
    Lineage.record(spark, table, runId, snap.id, "compact", added, sourcesPerOutput,
      (System.nanoTime() - t0) / 1000000)
    Some(snap)
  }
}
