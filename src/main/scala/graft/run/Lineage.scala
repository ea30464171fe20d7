package graft.run

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.graftshim.LocalParquet
import org.apache.spark.sql.types.StructType

import graft.table.{DataFileMeta, FileIO, GraftTable, MetaJson, StepLog}

/**
 * Per-partition lineage + metrics rows for every maintenance pass — the
 * engine's replacement for the reference's recon report
 * (`entity/ReconEntity.java:30-42`, printed at
 * `job/TableLoadRunner.java:243-286`): instead of a driver printout, an
 * appendable metrics table (`<root>/metrics/`) holding one row per output
 * file with source-file accounting and the commit snapshot id, so any run is
 * auditable after the fact.
 */
object Lineage {
  final case class LineageRow(
      run_id: String,
      snapshot_id: Long,
      op: String,
      out_path: String,
      rows: Long,
      bytes: Long,
      source_files: Seq[String],
      source_bytes: Long,
      wall_ms: Long,
      committed_ts: java.sql.Timestamp)

  /** The lineage file schema: [[LineageRow]]'s columns, `committed_ts`
    * non-nullable as the files have always had it. */
  private lazy val lineageSchema: StructType = {
    val enc = Encoders.product[LineageRow].schema
    StructType(enc.fields.map(f => if (f.name == "committed_ts") f.copy(nullable = false) else f))
  }

  /** Append one lineage row per output file (plus an op-summary row with
    * out_path = ""). Driver-side: row count == output file count, so
    * Spark's parquet writer writes the file in this thread
    * ([[LocalParquet]]) instead of a Spark write job per maintenance
    * commit. */
  def record(
      spark: SparkSession,
      table: GraftTable,
      runId: String,
      snapshotId: Long,
      op: String,
      outputs: Seq[DataFileMeta],
      sourcesPerOutput: Map[String, Seq[DataFileMeta]],
      wallMs: Long): Unit = {
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    val allSources = sourcesPerOutput.values.flatten.toSeq.distinctBy(_.path)
    def row(outPath: String, rows: Long, bytes: Long, srcs: Seq[DataFileMeta]) =
      LineageRow(runId, snapshotId, op, outPath, rows, bytes, srcs.map(_.path), srcs.map(_.bytes).sum, wallMs, ts)
    val rows = outputs.map(o => row(o.path, o.rows, o.bytes, sourcesPerOutput.getOrElse(o.path, Seq.empty))) :+
      row("", outputs.map(_.rows).sum, outputs.map(_.bytes).sum, allSources)
    val writer = new LocalParquet(spark, lineageSchema, Map.empty)
    writer.write(s"${table.metricsDir}/lineage-${java.util.UUID.randomUUID}${writer.extension}",
      LocalParquet.internal(lineageSchema, rows).iterator)
  }

  def metrics(spark: SparkSession, table: GraftTable) =
    spark.read.parquet(table.metricsDir)
}

/** Checkpoint-resume for maintenance passes: a step log per runId under
  * `<root>/maintenance/`, the analog of the reference's timestamp-checkpoint
  * row (`util/TimeStampUtil.java:53-109`) generalized to arbitrary steps. */
object Maintenance {
  private def logPath(table: GraftTable, runId: String) =
    s"${table.root}/maintenance/$runId.json"

  def load(table: GraftTable, runId: String): Option[StepLog] = {
    val p = logPath(table, runId)
    if (FileIO.exists(p)) Some(MetaJson.readStepLog(FileIO.readString(p))) else None
  }

  /** The run's stored log on a resume, else a fresh one. A fresh log is
    * first written with its first done step: a log without steps records
    * nothing a rerun could use. */
  def start(table: GraftTable, runId: String, op: String): StepLog =
    load(table, runId).getOrElse(StepLog(runId, op, System.currentTimeMillis(), Seq.empty, None))

  def save(table: GraftTable, log: StepLog): Unit =
    FileIO.writeString(logPath(table, log.runId), MetaJson.write(log))

  /** `log` with `steps` done, written once (not at all for no steps). */
  def markDone(table: GraftTable, log: StepLog, steps: String*): StepLog =
    if (steps.isEmpty) log
    else {
      val next = log.copy(doneSteps = (log.doneSteps ++ steps).distinct)
      save(table, next); next
    }

  def markCommitted(table: GraftTable, log: StepLog, snapshotId: Long): StepLog = {
    val next = log.copy(committedSnapshotId = Some(snapshotId))
    save(table, next); next
  }
}
