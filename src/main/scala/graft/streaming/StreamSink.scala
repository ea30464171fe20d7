package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftshim.Shims

import graft.table.GraftTable

/**
 * DSv1 streaming sink: `df.writeStream.format("graft").option(
 * "checkpointLocation", …).start(root)` — each micro-batch becomes one
 * atomic table snapshot, exactly once across restarts.
 *
 * The mirror image of [[GraftStreamSource]]: together they make a graft
 * table a full streaming citizen (`readStream` a live table, transform,
 * `writeStream` into another) — the continuous, both-ends form of the
 * reference's batch transfer job. Batch idempotence shares
 * [[StreamIngest.appendBatch]]'s high-watermark property (keyed by the
 * query's checkpoint dir, so several streams can feed one table), so the
 * format-based sink and the programmatic `StreamIngest.start` ingestion
 * are interchangeable mid-flight.
 *
 * The table is created from the first batch's schema when absent —
 * streaming-friendly bootstrap, same as `df.write.format("graft")`.
 */
class GraftStreamSink(
    spark: SparkSession,
    root: String,
    checkpointDir: String) extends Sink {

  private val prop = StreamIngest.batchProperty(checkpointDir)
  private val legacyProps = StreamIngest.legacyBatchProperties(checkpointDir)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame carries a streaming-tagged plan that must not be
    // re-analyzed by a batch writer — re-plan over the computed rows
    val batch = Shims.batchDataFrame(data)
    val table =
      if (GraftTable.exists(root)) GraftTable.load(spark, root)
      else try GraftTable.create(spark, root, batch.schema) catch {
        // two queries bootstrapping one new table: the create CAS loser
        // must fall back to load, not fail its batch
        case e: Exception if GraftTable.exists(root) =>
          GraftTable.load(spark, root)
      }
    StreamIngest.appendBatch(table, batch, batchId, prop, legacyProps)
  }

  override def toString: String = s"GraftStreamSink[$root]"
}
