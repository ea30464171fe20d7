package graft.ops

import graft.SparkSuite
import graft.run.Synth
import graft.table.GraftTable

/**
 * The Spark-job budget of a Z-order rewrite group: one sketch aggregate over
 * an uncached key sample (its map and result stages) plus the write (the
 * range exchange and the write stage) — four jobs, no cached RDD at any
 * point. A group that writes one file runs no sketch at all.
 */
class ClusterJobsSpec extends SparkSuite {

  private def pagesTable(name: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(name), Synth.pageSchema)
    t.append(Synth.pages(spark, 3000, partitions = 6))
    t
  }

  test("a single-group z-order rewrite runs at most 4 Spark jobs and caches nothing") {
    val t = pagesTable("graft-cluster-jobs")
    val expected = t.read().localCheckpoint(true)
    val target = t.files().map(_.bytes).sum / 6
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (descs, rddBlocks) = sparkJobs(assert(Cluster.zorderRewrite(t, targetFileBytes = target,
      runId = "jobs").nonEmpty))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore, "no RDD left persisted")
    assert(rddBlocks == 0, s"$rddBlocks RDD blocks cached during the rewrite")
    assert(descs.size <= 4, s"${descs.size} jobs:\n${descs.mkString("\n")}")
    assert(descs.count(_.startsWith("zorder-sketch jobs")) <= 2, descs.mkString("\n"))
    assert(t.files().size > 1, "the group writes several files, so it needs boundaries")
    assertSameRows(t.read(), expected, "read after the rewrite")
  }

  test("a one-file group runs only its write jobs") {
    val t = pagesTable("graft-cluster-jobs-one")
    val expected = t.read().localCheckpoint(true)
    val (descs, _) = sparkJobs(assert(Cluster.zorderRewrite(t, runId = "one").nonEmpty))
    assert(t.files().size == 1)
    assert(descs.nonEmpty && descs.forall(_.startsWith("zorder-rewrite one")),
      s"jobs:\n${descs.mkString("\n")}")
    assertSameRows(t.read(), expected, "read after the rewrite")
  }
}
