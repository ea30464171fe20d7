package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/**
 * Spark's own parquet writer over rows the driver already holds, run in the
 * calling thread: `ParquetUtils.prepareWrite` configures the write exactly
 * as a Spark write job does (write support, codec, field ids, the options
 * in the Hadoop conf), and the factory's `OutputWriter` writes each file.
 * No job, no task and no commit protocol run. Timestamps are written
 * TIMESTAMP_MICROS (they carry min/max statistics; INT96 does not).
 * `execution.datasources` is internal API; this package is its access point.
 */
final class LocalParquet(spark: SparkSession, schema: StructType, options: Map[String, String]) {

  private val conf: SQLConf = {
    val c = spark.sessionState.conf.clone()
    c.setConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE, SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS)
    c
  }
  private val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
  private val factory = ParquetUtils.prepareWrite(conf, job, schema, new ParquetOptions(options, conf))
  private val context = new TaskAttemptContextImpl(job.getConfiguration,
    new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))

  /** The file name suffix a Spark task would give these files
    * (`.snappy.parquet` under the default codec). */
  val extension: String = factory.getFileExtension(context)

  /** The `_SUCCESS` marker a Spark job commit leaves in `dir`. */
  def markSuccess(dir: String): Unit = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(job.getConfiguration).create(p, true).close()
  }

  /** Write `rows` (of the schema) as one parquet file at `path`. */
  def write(path: String, rows: Iterator[InternalRow]): Unit = {
    val w = factory.newInstance(path, schema, context)
    try rows.foreach(w.write)
    finally w.close()
  }
}

object LocalParquet {

  /** The schema and rows of `df` when its optimized plan is a
    * `LocalRelation` (ConvertToLocalRelation folds each Filter and Project
    * over rows of a `createDataFrame` into a new `LocalRelation`), else
    * None. Optimizing evaluates those expressions: an `assert_true` over
    * the rows raises here. */
  def rows(df: DataFrame): Option[(StructType, Seq[InternalRow])] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((l.schema, l.data))
      case _ => None
    }

  /** `rows` — external `Row`s or case class instances of `schema` — as
    * the rows [[LocalParquet.write]] takes, converted as `createDataFrame`
    * converts them, without a plan. */
  def internal(schema: StructType, rows: Seq[Any]): Seq[InternalRow] = {
    val convert = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(convert(_).asInstanceOf[InternalRow])
  }

  /** `rows` of `schema` in the order `sortWithinPartitions(by)` writes:
    * ascending by each column of `by`, nulls first, compared by Spark's
    * ordering for the column's type. */
  def sorted(schema: StructType, rows: Seq[InternalRow], by: Seq[String]): Seq[InternalRow] =
    if (by.isEmpty) rows
    else rows.sorted(new InterpretedOrdering(by.map { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(i >= 0, s"no column $c")
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable), Ascending)
    }))
}
