package graft.ops

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.table.DataFileMeta

/**
 * Shared orchestration for grouped maintenance rewrites (Cluster, Rebucket,
 * and the bins Compact cannot copy):
 * run `rewriteGroup` over every (index, files) group, concurrently when
 * there are several.
 *
 * Groups are independent pipelines; the pool is sized from the groups
 * themselves (unless `jobParallelism` pins it): each group's rewrite fans
 * out to ~`widthOf(group)` tasks (capped at the cluster-scaled shuffle
 * width), so `defaultParallelism / avgWidth` concurrent groups keep
 * in-flight tasks ≈ the cluster's task slots — a bucketed layout (one
 * small group per bucket dir) gets MANY concurrent groups where a fixed
 * pool of 4 was measured to cap occupancy at 0.32 on 32 cores, while a
 * handful of huge groups run almost serially and write-memory pressure
 * matches a single cluster-wide job.
 *
 * Fails fast on the first group error, but drains sibling group jobs
 * before rethrowing — a same-runId retry deletes staging dirs, which must
 * not happen under a still-writing job.
 */
private[ops] object GroupedRewrite {

  def run(
      spark: SparkSession,
      threadName: String,
      jobParallelism: Int,
      groups: Seq[(Int, Seq[DataFileMeta])],
      widthOf: Seq[DataFileMeta] => Long)(
      rewriteGroup: (Int, Seq[DataFileMeta]) => Seq[DataFileMeta])
      : Seq[(Seq[DataFileMeta], Seq[DataFileMeta])] = {
    if (groups.isEmpty) return Seq.empty
    if (groups.size == 1)
      // inline on the caller thread — clear the group's job description
      // afterwards or it leaks onto every later job of the session
      try return Seq((rewriteGroup(groups.head._1, groups.head._2), groups.head._2))
      finally spark.sparkContext.setJobDescription(null)
    val poolSize = {
      val wanted =
        if (jobParallelism > 0) jobParallelism
        else {
          val cap = Cluster.maxShufflePartitions(spark)
          val widths = groups.map { case (_, g) =>
            math.max(1L, math.min(widthOf(g), cap.toLong)) }
          val avgWidth = widths.sum.toDouble / widths.size
          math.max(4, math.ceil(spark.sparkContext.defaultParallelism / avgWidth).toInt)
        }
      math.min(wanted, groups.size)
    }
    val pool = Executors.newFixedThreadPool(poolSize,
      r => { val t = new Thread(r, threadName); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fut = Future.sequence(groups.map { case (gi, g) =>
      Future((rewriteGroup(gi, g), g))
    })
    try {
      val r = Await.result(fut, Duration.Inf)
      pool.shutdown()
      r
    } catch { case e: Throwable =>
      pool.shutdownNow()
      pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
      throw e
    }
  }
}
