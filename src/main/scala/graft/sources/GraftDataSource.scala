package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.graftshim.GraftRelation
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.streaming.{GraftStreamSink, GraftStreamSource}
import graft.table.GraftTable

/**
 * `spark.read.format("graft").load(root)` — the SQL-facing front door of the
 * table format (registered via META-INF/services). Options:
 *
 *   - `snapshot-id`: time travel — read a historical snapshot (the engine's
 *     answer to the reference's active/DR timestamp fencing,
 *     `util/TimeStampUtil.java:111-152`: readers only ever see committed
 *     snapshots, and any retained one is addressable).
 *
 * The returned relation is a [[org.apache.spark.sql.graftshim.GraftFileIndex]]-backed
 * HadoopFsRelation, so WHERE clauses in SQL over this source prune data
 * files from snapshot min/max metadata before the scan is planned.
 */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- streaming sink: df.writeStream.format("graft").start(root) ----------

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append,
      s"graft streaming sink appends atomic snapshots; got OutputMode $outputMode " +
        "(aggregations: use foreachBatch + MERGE)")
    require(partitionColumns.isEmpty,
      "partition the TABLE (hidden-partitioning 'partition-spec' property), not the sink")
    def opt(key: String): Option[String] = GraftStreamSource.opt(parameters, key)
    val root = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft streaming sink requires a path: …writeStream.format(\"graft\").start(<table root>)"))
    // deliberately NOT falling back to the spark.sql.streaming.checkpointLocation
    // session default: Spark resolves that root to a per-query subdir the sink
    // cannot see, and keying idempotence off the shared root would make two
    // queries feeding one table skip each other's batch ids
    val ckpt = opt("checkpointLocation").getOrElse(throw new IllegalArgumentException(
      "graft streaming sink requires an EXPLICIT option(\"checkpointLocation\", …) — " +
        "the option string keys batch idempotence, and the session-default " +
        "checkpoint root resolves to a per-query subdir the sink cannot observe"))
    new GraftStreamSink(sqlContext.sparkSession, root, ckpt)
  }

  // ---- streaming CDC read: spark.readStream.format("graft").load(root) -----
  // (see graft.streaming.GraftStreamSource for offset/batch semantics)

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft streaming source derives its schema from table metadata; " +
      "do not pass a schema to readStream")
    val root = GraftStreamSource.opt(parameters, "path")
      .getOrElse(throw new IllegalArgumentException(
        "graft streaming source requires a path: spark.readStream.format(\"graft\").load(<table root>)"))
    val tableSchema = GraftTable.load(sqlContext.sparkSession, root).schema
    // change-rows mode appends the _change_type/_commit_snapshot_id columns
    // (must match GraftStreamSource.schema exactly, or the micro-batch plan
    // fails the runner's output-arity assertion)
    val changeRows = GraftStreamSource.opt(parameters, "change-rows").exists(_.toBoolean)
    (shortName(),
      if (changeRows) graft.table.Changelog.schemaFor(tableSchema) else tableSchema)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new GraftStreamSource(sqlContext.sparkSession, parameters)

  /**
   * `df.write.format("graft").mode(...).save(root)`:
   *   - Append    → append snapshot (creates the table on first write);
   *   - Overwrite → single atomic replace-files commit (all previous files
   *     out, new files in) — readers holding the old snapshot keep reading
   *     it, the reference's DROP/RENAME swap (`hive/HiveTableIR.java:296-299`)
   *     done as a metadata pointer move.
   */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft sink requires a path: df.write.format(\"graft\").save(<table root>)"))
    val spark = sqlContext.sparkSession
    val exists = GraftTable.exists(root)
    // table properties honored when THIS write creates the table (e.g.
    // .option("partition-spec", "bucket(64, url), days(warc_ts)")); on an
    // existing table a DIFFERENT requested spec is an error, not a silent
    // ignore — evolution goes through setPartitionSpec / ALTER TABLE
    def createProps: Map[String, String] =
      parameters.get(graft.table.PartitionSpec.Property)
        .map(s => Map(graft.table.PartitionSpec.Property -> s)).getOrElse(Map.empty)
    def checkSpecUnchanged(tbl: GraftTable): GraftTable = {
      for (want <- parameters.get(graft.table.PartitionSpec.Property)) {
        // compare parsed forms, not spellings ("bucket(8,url)" == "bucket(8, url)")
        def norm(s: String): String = scala.util.Try(
          graft.table.PartitionSpec.parseMulti(s).map(_.toString).mkString(", ")).getOrElse(s)
        val have = tbl.metadata.properties.get(graft.table.PartitionSpec.Property)
        require(have.map(norm).contains(norm(want)),
          s"table at $root has partition-spec ${have.getOrElse("<none>")}, write requested " +
            s"'$want' — evolve via ALTER TABLE ... SET PARTITION SPEC, not a write option")
      }
      tbl
    }
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $root")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append | SaveMode.ErrorIfExists | SaveMode.Ignore =>
        val tbl = if (exists) checkSpecUnchanged(GraftTable.load(spark, root))
                  else GraftTable.create(spark, root, data.schema, createProps)
        tbl.append(data,
          mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean))
      case SaveMode.Overwrite if parameters.contains("replaceWhere") =>
        // predicate-scoped overwrite (Delta's replaceWhere): only files
        // intersecting the predicate are replaced; incoming rows must
        // match it (replaceWhereValidate=false opts out)
        require(exists, s"replaceWhere needs an existing graft table at $root")
        val tbl = GraftTable.load(spark, root)
        graft.ops.Merge.replaceWhere(tbl,
          org.apache.spark.sql.functions.expr(parameters("replaceWhere")), data,
          validate = parameters.get("replaceWhereValidate").forall(_.toBoolean))
      case SaveMode.Overwrite =>
        val tbl = if (exists) checkSpecUnchanged(GraftTable.load(spark, root))
                  else GraftTable.create(spark, root, data.schema, createProps)
        val st = tbl.state
        // nothing to replace: a plain append keeps the genesis snapshot
        // incremental-read-friendly. Else the copy-on-write writer pins the
        // planned snapshot: a concurrent append must force a replan, not
        // survive inside the "overwritten" table
        if (st.files.isEmpty) tbl.append(data)
        else graft.ops.RowLevel.rewrite(st, "overwrite", java.util.UUID.randomUUID.toString,
          st.files, Map.empty, System.nanoTime())(st.writeDataFiles(data, _))
    }
    val st = GraftTable.load(spark, root).state
    // no delete guard here: Spark's SaveIntoDataSourceCommand discards
    // this relation (the write already committed; throwing would fail a
    // successful append) — readers come back through the RelationProvider
    // path above, which enforces it
    GraftRelation.relation(spark, st.schema, root, st.files, st.allPartitionSpecs)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path: spark.read.format(\"graft\").load(<table root>)"))
    val spark = sqlContext.sparkSession
    val table = GraftTable.load(spark, root)
    val snapshotId = parameters.get("snapshot-id").map(_.toLong)
      .orElse(parameters.get("as-of-timestamp").map { ts =>
        table.snapshotAsOf(ts.toLong).getOrElse(throw new IllegalArgumentException(
          s"no snapshot committed at or before $ts")).id
      })
    val st = table.state.at(snapshotId)
    require(st.dvEntries.isEmpty,
      "snapshot has live position deletes (deletion vectors), which a raw file relation " +
        "cannot apply; read via GraftTable.read / SQL (applies them) or compact the files")
    GraftRelation.relation(spark, st.schema, root, st.files, st.allPartitionSpecs,
      st.bucketSpec(st.files))
  }
}
