package org.apache.spark.sql.graftshim

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.table.{DataFileMeta, PartitionSpec, PredicatePrune}

/**
 * Catalyst-integrated scan path for graft tables: a custom [[FileIndex]]
 * whose `listFiles` applies the engine's min/max metadata pruning to the
 * *data filters Catalyst itself pushed down*. This is the idiomatic way a
 * table format joins Spark's planner (the same integration point
 * Delta/Iceberg use): the query's own WHERE clause — including through SQL
 * views — becomes file skipping, with the vectorized Parquet reader,
 * row-group pushdown, and whole-stage codegen all unchanged downstream.
 *
 * Replaces the reference's hand-built scan construction
 * (`sql/HQLEngine.java:105-175`: predicate → HBase Scan with start/stop key)
 * with planner-driven pruning over snapshot metadata.
 *
 * Scale note: `listFiles` never lists the filesystem — `FileStatus` rows are
 * fabricated from snapshot metadata (exact byte sizes recorded at commit
 * time), so planning cost is O(live files) driver-side memory and zero
 * storage round-trips, which is what keeps a 10^5-file / 100 TB table
 * plannable.
 */
class GraftFileIndex(
    tableSchema: StructType,
    rootDir: String,
    val metas: Seq[DataFileMeta],
    specs: Seq[PartitionSpec] = Seq.empty)
  extends FileIndex {

  /** files surviving the last prune — observable for plan audits/tests */
  @volatile var lastListedFiles: Int = -1

  override def rootPaths: Seq[Path] = Seq(new Path(new File(rootDir).toURI))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (dataFilters.isEmpty) metas
      else {
        // fold constant subtrees (planner may push `cast('2024-01-01' as ts)`)
        val folded = dataFilters.map(_.transformUp {
          case e if e.foldable => Literal.create(e.eval(null), e.dataType)
        })
        metas.filter { m =>
          !folded.exists(f => PredicatePrune.evalFile(f, m, tableSchema, specs).contains(false))
        }
      }
    lastListedFiles = pruned.size
    val statuses = pruned.map { m =>
      new FileStatus(m.bytes, false, 1, 128L << 20, 0L,
        new Path(new File(s"$rootDir/${m.path}").toURI))
    }.toArray
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }

  override def inputFiles: Array[String] =
    metas.map(m => new File(s"$rootDir/${m.path}").toURI.toString).toArray

  override def refresh(): Unit = () // snapshot-pinned: files are immutable

  override def sizeInBytes: Long = metas.map(_.bytes).sum

  override def partitionSchema: StructType = new StructType()
}

object GraftRelation {

  /** Spark's bucket-file naming convention (`..._00007.parquet`), parsed
    * with Spark's OWN parser so the write-side stamp and the read-side scan
    * can never drift. `BucketingUtils` is `private[sql]` — this shim package
    * is the sanctioned access point. */
  def bucketIdOf(fileName: String): Option[Int] = BucketingUtils.getBucketId(fileName)

  /** The `_%05d` suffix [[bucketIdOf]] parses back. */
  def bucketIdSuffix(id: Int): String = BucketingUtils.bucketIdToString(id)

  /** HadoopFsRelation over a snapshot's files with metadata file skipping.
    * `bucketSpec`: when the caller can PROVE every file is bucket-pure and
    * bucket-stamped (see `TableState.bucketSpec`), the scan reports
    * `HashPartitioning(col, n)` — joins/aggregations on the bucket column
    * skip their shuffle entirely (storage-partitioned join). */
  def relation(
      spark: SparkSession,
      tableSchema: StructType,
      rootDir: String,
      metas: Seq[DataFileMeta],
      specs: Seq[PartitionSpec] = Seq.empty,
      bucketSpec: Option[BucketSpec] = None): HadoopFsRelation =
    relation(spark, new GraftFileIndex(tableSchema, rootDir, metas, specs), tableSchema, bucketSpec)

  def relation(
      spark: SparkSession,
      index: GraftFileIndex,
      tableSchema: StructType): HadoopFsRelation =
    relation(spark, index, tableSchema, None)

  def relation(
      spark: SparkSession,
      index: GraftFileIndex,
      tableSchema: StructType,
      bucketSpec: Option[BucketSpec]): HadoopFsRelation =
    HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = tableSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)

  /** DataFrame whose scan prunes files from Catalyst's pushed-down filters.
    * `isStreaming = true` marks the plan as a streaming micro-batch leaf —
    * required of DataFrames a DSv1 streaming `Source.getBatch` returns
    * (MicroBatchExecution splices the plan into the streaming query). */
  def dataFrame(
      spark: SparkSession,
      tableSchema: StructType,
      rootDir: String,
      metas: Seq[DataFileMeta],
      specs: Seq[PartitionSpec] = Seq.empty,
      isStreaming: Boolean = false,
      bucketSpec: Option[BucketSpec] = None): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(
      classic,
      LogicalRelation(relation(spark, tableSchema, rootDir, metas, specs, bucketSpec),
        isStreaming = isStreaming))
  }
}
