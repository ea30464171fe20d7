package graft.ops

import org.apache.spark.sql.functions.col

import graft.run.{Lineage, Maintenance}
import graft.table.{DataFileMeta, FileIO, GraftTable, PartitionSpec, Snapshot}

/**
 * Bucket-layout migration after partition-spec evolution: rewrite exactly
 * the files that do NOT conform to the active `bucket(n, col)` spec (an
 * older generation's layout, pre-spec files, unstamped names) so the
 * bucketed-scan gate ([[graft.table.TableState.bucketSpec]]) flips back on and joins,
 * aggregations, MERGE, and CDC apply on the bucket column run shuffle-free
 * again. The spec-evolution analog of the reference regenerating its salted
 * rowkey layout when a table's region count changes
 * (`hbase/RowkeyField.java:139-154` — there a full reload; here an
 * incremental, resumable rewrite of only the nonconforming slice).
 *
 * Scale design — the rewrite never moves bytes it can place locally:
 *  - Growing a layout `bucket(m, col) → bucket(n, col)` with `m | n`: a row
 *    in old bucket `b` satisfies `hash(col) % m == b`, so its new bucket
 *    `hash(col) % n` lies in `{b, b+m, …, b+(n/m-1)·m}` — each old bucket
 *    splits into exactly k = n/m new buckets with NO shuffle at all (a
 *    coalesced read + a dir-split write). Rebucketing 100 TB moves the
 *    bytes once (the unavoidable rewrite), not twice.
 *  - Any other old layout (pre-spec, non-divisible counts, different
 *    column) says nothing about the new bucket: ONE hash exchange of that
 *    group's bytes (`repartition(n, col)` — Spark's HashPartitioning IS the
 *    bucket function, so every post-shuffle partition is bucket-pure and
 *    writes one dir).
 *
 * Groups are one per old partition tuple (never mixing spec generations),
 * run concurrently like Compact/Cluster, resumable per group at the commit
 * boundary, with deletion vectors applied to rewritten rows exactly as
 * compaction applies them.
 */
object Rebucket {

  /** Execute (or resume) a migration run. Returns the committed snapshot, or
    * None when every file already conforms (or the table is empty). Fails
    * loudly when the active spec carries no single bucket transform — there
    * is no layout to migrate TO (plain OPTIMIZE / ZORDER cover re-layout for
    * non-bucket specs). */
  def migrate(
      table: GraftTable,
      targetFileBytes: Long = 128L * 1024 * 1024,
      runId: String = java.util.UUID.randomUUID.toString,
      jobParallelism: Int = 0): Option[Snapshot] = {
    val spark = table.spark
    val t0 = System.nanoTime()
    val st = table.state
    val schema = st.schema
    val active = st.partitionSpecs.filter(_.transform == "bucket")
    require(active.size == 1,
      s"REBUCKET needs exactly one active bucket(n, col) transform (found " +
        s"${if (active.isEmpty) "none" else active.mkString(", ")}); " +
        "ALTER TABLE ... SET PARTITION SPEC first")
    val sp = active.head
    val n = sp.param.get

    var log = Maintenance.start(table, runId, "rebucket")
    // resume short-circuit: the migration already committed. If its
    // snapshot has since been EXPIRED, returning None here would be
    // indistinguishable from "nothing to do" (r5 advice) — report the
    // current snapshot instead: the committed work is part of its history.
    log.committedSnapshotId.foreach(id => return st.metadata.snapshot(id).orElse(st.snapshot))
    val snap = st.snapshot.getOrElse(return None)
    val inputs = st.nonconformingFiles
    if (inputs.isEmpty) return None
    // the plan key carries the ACTIVE SPEC too, not just the snapshot:
    // setPartitionSpec is a metadata-only change (no snapshot advance), and
    // a spec change between plan and resume re-derives DIFFERENT groups —
    // replaying a staged group under the old indexing would commit stale
    // outputs while removing files no rewrite contains (data loss)
    val planStep = s"plan@${snap.id}@$sp"
    require(log.doneSteps.isEmpty || log.doneSteps.contains(planStep),
      s"resume $runId: table advanced past the planned snapshot or the " +
        "active bucket spec changed; start a fresh run")
    log = Maintenance.markDone(table, log, planStep)

    // one group per old partition tuple — generations never mix in a rewrite
    val allSpecs = st.allPartitionSpecs
    val groups: Seq[(Int, Seq[DataFileMeta])] =
      inputs.groupBy(f => PartitionSpec.fileKey(allSpecs, f))
        .toSeq.sortBy(_._1).map(_._2).zipWithIndex.map(_.swap)

    // bucket transforms (this column, any generation incl. the active one —
    // active-dir files that merely lost their stamp split with k = 1) whose
    // count divides n: a group laid out under one of them splits locally
    val divisors = allSpecs.filter(s =>
      s.transform == "bucket" && s.sourceColumn == sp.sourceColumn &&
        s.param.exists(m => n % m == 0))
    def splitFactor(g: Seq[DataFileMeta]): Option[Int] =
      divisors.collectFirst {
        case d if g.forall(f =>
            d.dirValue(f.path).exists(v => scala.util.Try(v.toInt).isSuccess)) =>
          n / d.param.get
      }

    // in-file order: the write sort-order property if set, else the bucket
    // column — each written file is a sorted run with tight bounds
    val sortCols = if (st.writeSortColumns.nonEmpty) st.writeSortColumns else Seq(sp.sourceColumn)

    def rewriteGroup(gi: Int, g: Seq[DataFileMeta]): Seq[DataFileMeta] = {
      val commitUuid = s"rebucket-$runId-g$gi"
      val dir = s"${table.dataDir}/$commitUuid"
      val done = log.doneSteps.contains(s"group$gi") && FileIO.exists(s"$dir/_SUCCESS")
      if (done) // resume: the write completed earlier; re-read its footers
        return graft.table.StatsCollector.collect(spark, schema, table.root,
          FileIO.listFilesRecursively(dir, ".parquet"), commitUuid)
      FileIO.deleteRecursively(dir)
      // rewritten rows absorb the files' deletion vectors, which
      // replaceFiles then clears
      val df = st.readFiles(g)
      val bytes = g.map(_.bytes).sum
      val rows = g.map(_.rows).sum
      // right-sized rolls from REAL row counts (never derived from a file
      // count): rows-per-target-bytes at this group's observed density
      val rowsPerFile = math.max(1L,
        if (bytes > 0) math.ceil(rows.toDouble * targetFileBytes / bytes).toLong else rows)
      val (prepared, how) = splitFactor(g) match {
        case Some(k) =>
          // divisible split: rows of one old bucket land in exactly k new
          // buckets — NO shuffle; size tasks so each writes ~k target files
          val tasks = math.max(1, math.ceil(bytes.toDouble / (k.toLong * targetFileBytes)).toInt)
          (df.coalesce(tasks), s"split k=$k")
        case None =>
          // the old layout says nothing about the new bucket: one hash
          // exchange of this group's bytes. Bucket purity survives any
          // MULTIPLE of n — hash % (n·j) == p implies hash % n == p % n —
          // so j partitions per bucket bound the per-task sort at
          // ~targetFileBytes instead of groupBytes/n (the multi-pass
          // external-sort spill trap on terabyte groups)
          val j = math.max(1, math.ceil(bytes.toDouble / (n.toLong * targetFileBytes)).toInt)
          (df.repartition(n * j, col(sp.sourceColumn)), s"redistribute j=$j")
      }
      spark.sparkContext.setJobDescription(
        s"rebucket $runId group $gi (${g.size} files, $how)")
      // writeDataFiles derives the active spec's dirs from the data and
      // stamps bucket ids; the pre-sort keys each file a sorted run
      val sorted = prepared.sortWithinPartitions(
        (sp.column(schema) +: sortCols.map(col)): _*)
      val metas = st.writeDataFiles(sorted, commitUuid, rowsPerFile)
      synchronized { log = Maintenance.markDone(table, log, s"group$gi") }
      metas
    }

    // pool sizing + fan-out + fail-fast drain live in GroupedRewrite
    // (shared with Cluster); width = each group's rewrite task fan-out
    val perGroup: Seq[(Seq[DataFileMeta], Seq[DataFileMeta])] =
      GroupedRewrite.run(spark, "graft-rebucket", jobParallelism, groups, { g =>
        val bytes = g.map(_.bytes).sum
        splitFactor(g) match {
          case Some(k) => math.max(1L,
            math.ceil(bytes.toDouble / (k.toLong * targetFileBytes)).toLong)
          case None    =>
            n.toLong * math.max(1, math.ceil(bytes.toDouble / (n.toLong * targetFileBytes)).toInt)
        }
      })(rewriteGroup)

    // a fully-deleted group writes 0-row, bound-less files — drop them
    val added = perGroup.flatMap(_._1).filter(_.rows > 0)
    val removed = inputs.map(_.path).toSet
    val committed = table.replaceFiles(removed, added, "rebucket",
      Map("run-id" -> runId, "groups" -> groups.size.toString,
        "bucket-spec" -> sp.toString),
      expectedSnapshotId = Some(snap.id))
    Maintenance.markCommitted(table, log, committed.id)
    val sourcesPerOutput = perGroup
      .flatMap { case (outs, srcs) => outs.filter(_.rows > 0).map(o => o.path -> srcs) }.toMap
    Lineage.record(spark, table, runId, committed.id, "rebucket", added,
      sourcesPerOutput, (System.nanoTime() - t0) / 1000000)
    Some(committed)
  }
}
