package graft.run

import org.apache.spark.sql.{SaveMode, SparkSession}

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

  /** Parquet message type mirroring the Dataset[LineageRow] layout Spark
    * wrote before (same column names/types, standard 3-level LIST,
    * TIMESTAMP_MICROS), so [[metrics]] and the `.lineage` SQL relation read
    * files from either writer interchangeably. */
  private lazy val lineageParquetType: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .optional(BINARY).as(L.stringType()).named("run_id")
      .required(INT64).named("snapshot_id")
      .optional(BINARY).as(L.stringType()).named("op")
      .optional(BINARY).as(L.stringType()).named("out_path")
      .required(INT64).named("rows")
      .required(INT64).named("bytes")
      .optionalList().optionalElement(BINARY).as(L.stringType()).named("source_files")
      .required(INT64).named("source_bytes")
      .required(INT64).named("wall_ms")
      .required(INT64).as(L.timestampType(true, L.TimeUnit.MICROS)).named("committed_ts")
      .named("spark_schema")
  }

  /** Append one lineage row per output file (plus an op-summary row with
    * out_path = ""). Driver-side: row count == output file count — which is
    * exactly why this writes the parquet file DIRECTLY on the driver
    * (parquet-hadoop Group API) instead of the previous
    * `spark.createDataset(rows).write`: the rows already live on the
    * driver, and the Spark write was one full job submission + task
    * round-trip per maintenance commit just to serialize them back out. */
  def record(
      spark: SparkSession,
      table: GraftTable,
      runId: String,
      snapshotId: Long,
      op: String,
      outputs: Seq[DataFileMeta],
      sourcesPerOutput: Map[String, Seq[DataFileMeta]],
      wallMs: Long): Unit = {
    val tsMicros = System.currentTimeMillis() * 1000L
    val allSources = sourcesPerOutput.values.flatten.toSeq.distinctBy(_.path)
    // (out_path, rows, bytes, sources, source_bytes) — summary row last
    val rows: Seq[(String, Long, Long, Seq[String], Long)] =
      outputs.map { o =>
        val srcs = sourcesPerOutput.getOrElse(o.path, Seq.empty)
        (o.path, o.rows, o.bytes, srcs.map(_.path), srcs.map(_.bytes).sum)
      } :+ (("", outputs.map(_.rows).sum, outputs.map(_.bytes).sum,
        allSources.map(_.path), allSources.map(_.bytes).sum))
    val dir = table.metricsDir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val file = s"$dir/lineage-${java.util.UUID.randomUUID}.snappy.parquet"
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(lineageParquetType)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(lineageParquetType)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (outPath, nRows, nBytes, srcs, srcBytes) =>
      val g = factory.newGroup()
      g.append("run_id", runId)
      g.append("snapshot_id", snapshotId)
      g.append("op", op)
      g.append("out_path", outPath)
      g.append("rows", nRows)
      g.append("bytes", nBytes)
      val lst = g.addGroup("source_files")
      srcs.foreach(s => lst.addGroup("list").append("element", s))
      g.append("source_bytes", srcBytes)
      g.append("wall_ms", wallMs)
      g.append("committed_ts", tsMicros)
      writer.write(g)
    } finally writer.close()
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

  def start(table: GraftTable, runId: String, op: String): StepLog =
    load(table, runId).getOrElse {
      val log = StepLog(runId, op, System.currentTimeMillis(), Seq.empty, None)
      save(table, log); log
    }

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
