package graft.ops

import java.nio.file.Paths
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{InputFile, LocalOutputFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.run.{Lineage, Maintenance}
import graft.table.{DataFileMeta, FileIO, GraftTable, PartitionSpec, Snapshot, StatsCollector, TableState}

/**
 * Bin-packing small-file compaction: groups undersized data files into
 * bins of ~targetBytes and replaces each bin with one file, shuffle-free.
 *
 * A bin whose rows need no change is COPIED: its files' parquet row groups
 * are concatenated without decoding (parquet-hadoop's `ParquetRewriter`,
 * page indexes and bloom filters included), and all such bins run as one
 * Spark job with one task per bin. That needs no DV rows in the bin's
 * files, all files in one partition dir of the
 * active spec, and every input footer equal to what [[rewriteBin]] would
 * write today (parquet schema, Spark row schema with field ids, codec,
 * bloom columns) — so the copy equals today's rewrite except for row-group
 * boundaries and row order. Every other bin is RE-ENCODED by [[rewriteBin]]:
 * read, apply deletes, write as one file in one task (the re-imagining of
 * the reference's partition-parallel row transfer,
 * `job/JobUtil.java:581-607`: one HBase region ≈ one task, here one bin ≈
 * one task), those bins running as concurrent Spark jobs via
 * [[GroupedRewrite]].
 *
 * Resumable: every bin writes to a staging directory keyed by
 * (runId, bin index); a rerun after a crash reuses any bin whose step the
 * run's log records as done and whose staged output is still there,
 * re-executes the rest, then commits once (checkpoint-resume per the north
 * rule).
 */
object Compact {

  /** Bins of `state`'s files; the run reads, rewrites and commits against
    * exactly that state. */
  final case class Plan(state: TableState, groups: Seq[Seq[DataFileMeta]]) {
    def snapshotId: Long = state.snapshot.get.id
  }

  /**
   * Deterministic plan against one pinned state: files smaller than
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
    val st = table.state
    if (st.snapshot.isEmpty) return None
    // WHERE-scoped maintenance: only files whose stats range intersects the
    // predicate are candidates — at 100 TB you compact the hot partition,
    // not the table. Rewrites are row-preserving for ANY file subset, so
    // scoping never affects correctness
    val all = st.planFiles(predicate)
    val threshold = (targetBytes * smallFileFraction).toLong
    // delete pressure: a file whose position-deleted row share reaches
    // `deleteRatioThreshold` is a rewrite candidate REGARDLESS of size —
    // every read pays the DV filter for a covered file until a rewrite
    // clears it, so compaction is what keeps DV accumulation bounded at
    // 100 TB (Iceberg's delete-file-threshold strategy). Counts are the
    // cached DV bitmaps' cardinalities; empty map when the snapshot has none.
    val dvCounts = st.posDeleteRowCounts
    val pressured: Set[String] = all.filter { f =>
      val d = dvCounts.getOrElse(f.path, 0L)
      d > 0 && f.rows > 0 && d.toDouble / f.rows >= deleteRatioThreshold
    }.map(_.path).toSet
    val small = (all.filter(_.bytes < threshold) ++
      all.filter(f => pressured.contains(f.path) && f.bytes >= threshold))
      .groupBy(_.path).map(_._2.head).toSeq
    // a one-file group has nothing to gain and is dropped — unless it is
    // delete-pressured (the rewrite clears its DV rows)
    if (small.isEmpty || (small.size < 2 && pressured.isEmpty)) return None
    val sortCol = orderBy.getOrElse(st.schema.fields.head.name)
    val dt = st.schema.fields.find(_.name == sortCol).map(_.dataType)
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
    val specs = st.allPartitionSpecs
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
    val useful = groups.filter(g => g.size >= 2 || g.exists(f => pressured.contains(f.path))).toSeq
    if (useful.isEmpty) None else Some(Plan(st, useful))
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

    val st = p.state
    val schema = st.schema
    def dirOf(i: Int) = s"${table.dataDir}/${commitUuid(runId, i)}"
    // a completed group of a crashed run: reuse its staged output. A step is
    // logged only after its bin's output is complete (a Spark job commit or
    // a copy's atomic rename), so the log entry plus the files suffice
    val staged = p.groups.indices.filter(i => log.doneSteps.contains(s"group$i"))
      .map(i => i -> FileIO.listFilesRecursively(dirOf(i), ".parquet"))
      .filter(_._2.nonEmpty).toMap
    val (resumed, pending) = p.groups.zipWithIndex.map(_.swap).partition(g => staged.contains(g._1))
    val reused = resumed.map { case (i, group) =>
      (StatsCollector.collect(spark, schema, table.root, staged(i), commitUuid(runId, i)), group)
    }
    val copied = copyBins(table, runId, p, pending)
    log = Maintenance.markDone(table, log, copied.keys.toSeq.sorted.map(i => s"group$i"): _*)
    val rewritten = GroupedRewrite.run(spark, "graft-compact", jobParallelism,
      pending.filterNot { case (i, _) => copied.contains(i) }, _ => 1L) { (i, group) =>
      val metas = rewriteBin(st, group, commitUuid(runId, i))
      synchronized { log = Maintenance.markDone(table, log, s"group$i") }
      metas
    }
    val finished = reused ++
      pending.collect { case (i, group) if copied.contains(i) => (Seq(copied(i)), group) } ++
      rewritten

    // drop all-empty outputs: a group whose every row was deleted
    // writes a 0-row, bound-less parquet file — unprunable manifest
    // noise (same rule as Merge/deleteWhere)
    val added = finished.flatMap(_._1).filter(_.rows > 0)
    val removed = p.groups.flatten.map(_.path).toSet
    val sourcesPerOutput = finished
      .flatMap { case (outs, srcs) => outs.filter(_.rows > 0).map(o => o.path -> srcs) }.toMap
    val snap = table.replaceFiles(removed, added, "compact",
      Map("run-id" -> runId, "groups" -> p.groups.size.toString),
      expectedSnapshotId = Some(p.snapshotId))
    Maintenance.markCommitted(table, log, snap.id)
    Lineage.record(spark, table, runId, snap.id, "compact", added, sourcesPerOutput,
      (System.nanoTime() - t0) / 1000000)
    Some(snap)
  }

  private def commitUuid(runId: String, group: Int) = s"compact-$runId-g$group"

  private[graft] def rewriteBin(table: GraftTable, group: Seq[DataFileMeta],
      commitUuid: String): Seq[DataFileMeta] = rewriteBin(table.state, group, commitUuid)

  /** Spark path for one bin of `st`: read → apply the files' deletion
    * vectors (cleared by replaceFiles) → write as one file (`coalesce(1)`:
    * one read→write task, no shuffle). */
  private def rewriteBin(st: TableState, group: Seq[DataFileMeta],
      commitUuid: String): Seq[DataFileMeta] = {
    val spark = st.table.spark
    FileIO.deleteRecursively(s"${st.table.dataDir}/$commitUuid") // partial attempt from a crashed run
    spark.sparkContext.setJobDescription(s"compact group $commitUuid (${group.size} files)")
    try st.writeDataFiles(st.readFiles(group).coalesce(1), commitUuid)
    finally spark.sparkContext.setJobDescription(null) // pool threads are reused across groups
  }

  /** What a copied file must look like to equal [[rewriteBin]]'s output,
    * computed once on the driver and checked against every input footer by
    * the copy task. */
  private final case class CopyExpect(
      root: String,
      schema: StructType,
      rowSchema: StructType,
      messageType: String,
      codec: String,
      bloomColumns: Set[String],
      specs: Seq[PartitionSpec])

  private final case class CopyTask(group: Int, inputs: Seq[String], dir: String,
      subPath: String, commitUuid: String)

  /** Copy every bin of `pending` whose rows need no change — no DV rows
    * in its files, all files in one
    * partition dir of the active spec, as planned in `plan` — by
    * concatenating its files' parquet row groups: ONE Spark job, one task
    * per bin, no decoding. Each task also checks its inputs' footers against
    * [[rewriteBin]]'s output schema and layout, and hands a mismatching bin
    * back. Returns the copied bins' output metas by group index; bins left
    * out take the Spark path. */
  private[graft] def copyBins(table: GraftTable, runId: String, plan: Plan,
      pending: Seq[(Int, Seq[DataFileMeta])]): Map[Int, DataFileMeta] = {
    val st = plan.state
    if (pending.isEmpty) return Map.empty
    val specs = st.partitionSpecs
    val tasks = pending.flatMap { case (i, group) =>
      val subs = group.map(f => subPathOf(specs, f)).distinct
      if (subs.size != 1 || subs.head.isEmpty ||
          group.exists(f => st.posDeleteRowCounts.getOrElse(f.path, 0L) > 0)) None
      else Some(CopyTask(i, group.map(table.absPath), s"${table.dataDir}/${commitUuid(runId, i)}",
        subs.head.get, commitUuid(runId, i)))
    }
    if (tasks.isEmpty) return Map.empty
    val spark = table.spark
    val sqlConf = spark.sessionState.conf
    val schema = st.schema
    // the exact frame rewriteBin writes, for its row schema (no job)
    val rowSchema = st.writeSchema(spark.read.schema(schema).parquet(tasks.head.inputs.head))
    val micros = sqlConf.clone()
    micros.setConfString("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val expect = CopyExpect(table.root, schema, rowSchema,
      new SparkToParquetSchemaConverter(micros).convert(rowSchema).toString,
      new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName,
      st.bloomColumns.toSet, specs)
    // partial attempts of a crashed run: one listing of data/ finds the bin
    // dirs that exist, and only those are deleted
    val existing = FileIO.listDirs(table.dataDir).map(d => d.substring(d.lastIndexOf('/') + 1)).toSet
    tasks.filter(t => existing.contains(t.commitUuid)).foreach(t => FileIO.deleteRecursively(t.dir))
    spark.sparkContext.setJobDescription(s"compact $runId copy ${tasks.size} bins")
    val results =
      try spark.sparkContext.parallelize(tasks, tasks.size).map(copyBin(expect, _)).collect()
      finally spark.sparkContext.setJobDescription(null)
    tasks.zip(results).collect { case (t, Some(meta)) => t.group -> meta }.toMap
  }

  /** The partition sub-path of `f` inside its commit dir (`""` when
    * unpartitioned) when it is laid out by exactly the active `specs`. */
  private def subPathOf(specs: Seq[PartitionSpec], f: DataFileMeta): Option[String] = {
    val prefix = s"data/${f.commitUuid}/"
    if (!f.path.startsWith(prefix)) return None
    val dirs = f.path.substring(prefix.length).split('/').dropRight(1).toSeq
    if (dirs.map(_.takeWhile(_ != '=')) == specs.map(_.name) && dirs.forall(_.contains('=')))
      Some(dirs.map(_ + "/").mkString)
    else None
  }

  /** Executor side of [[copyBins]]: concatenate one bin's row groups into a
    * new file, or None when an input footer differs from `expect`. */
  private def copyBin(expect: CopyExpect, task: CopyTask): Option[DataFileMeta] = {
    import scala.jdk.CollectionConverters._
    val matches = task.inputs.forall { in =>
      val reader = StatsCollector.openReader(in)
      try {
        val footer = reader.getFooter
        val meta = footer.getFileMetaData
        val rowMeta = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        meta.getSchema.toString == expect.messageType &&
          rowMeta.exists(j => DataType.fromJson(j) == expect.rowSchema) &&
          footer.getBlocks.asScala.forall(_.getColumns.asScala.forall { c =>
            c.getCodec.name == expect.codec &&
              (c.getBloomFilterOffset >= 0) == expect.bloomColumns.contains(c.getPath.toDotString)
          })
      } finally reader.close()
    }
    if (!matches) return None
    val codec = CompressionCodecName.valueOf(expect.codec)
    // java.nio's normal form, like FileIO listings: a table root given as
    // `/t/` or `/a//t` must still yield a `data/…` meta path
    val outDir = Paths.get(task.dir, task.subPath)
    FileIO.mkdirs(outDir.toString)
    // one name per bin, whichever attempt writes it: each attempt writes a
    // private temp file (not `.parquet`, so never listed as data) and
    // renames it atomically onto the name, so the bin dir never holds a
    // partial file or a second data file from a failed or speculative
    // attempt — the rename alone makes the bin's output all-or-nothing
    val out = GraftTable.bucketStamped(expect.specs,
      outDir.resolve(s"part-00000-${task.commitUuid}.c000${codec.getExtension}.parquet").toString)
    val tmp = s"$out.${UUID.randomUUID}.tmp"
    // written through java.nio, like FileIO: Hadoop's local FS forks a
    // `chmod` per created file when its native library is absent
    val conf = StatsCollector.hadoopConf
    val rewriter = new ParquetRewriter(new RewriteOptions.Builder(new HadoopParquetConfiguration(conf),
      task.inputs.map(p => HadoopInputFile.fromPath(new Path(p), conf): InputFile).asJava,
      new LocalOutputFile(Paths.get(tmp))).build())
    try rewriter.processBlocks() finally rewriter.close()
    FileIO.rename(tmp, out)
    Some(StatsCollector.readOne(expect.schema, expect.root, out, task.commitUuid))
  }
}
