package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.{Lineage, Synth}
import graft.table.GraftTable

/**
 * The Spark-job budget of a MERGE of a small change batch, read from
 * parquet like a CDC landing zone. Both modes plan on the driver: collect
 * the source, scan the touched files (merge-on-read: the matched rows;
 * copy-on-write: every live row), then pair, apply the clauses and write
 * on the driver — two jobs, no cached RDD. With
 * `spark.sql.autoBroadcastJoinThreshold = -1` both take the join plan,
 * with the same result.
 */
class MergeJobsSpec extends SparkSuite {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private lazy val data: DataFrame = Synth.pages(spark, 600, partitions = 4).localCheckpoint(true)

  private def table(name: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(name), Synth.pageSchema)
    t.append(data.repartition(6))
    t
  }

  /** 30 re-crawled urls, 10 of them deletes, plus 5 new urls, as parquet. */
  private def changes(): DataFrame = {
    val dir = tmpDir("graft-merge-jobs-src")
    data.filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") % 20 === 0)
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 DAYS"))
      .withColumn("text", concat(col("text"), lit("#1")))
      .withColumn("_deleted", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") % 60 === 0)
      .unionByName(data.limit(5).withColumn("url", concat(col("url"), lit("/new")))
        .withColumn("_deleted", lit(false)))
      .coalesce(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def dvRows(t: GraftTable): Long = t.positionDeletes().map(_.rows).sum

  /** A small-source merge in `mode` on the driver plan: at most 2 jobs, no
    * cached RDD, and the rows and DV rows of the join plan. */
  private def driverPlanJobs(mode: String, dvs: Long): Unit = {
    val (driver, join) = (table(s"graft-merge-jobs-$mode-driver"), table(s"graft-merge-jobs-$mode-join"))
    val src = changes()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (descs, rddBlocks) = sparkJobs {
      assert(Merge.into(driver, src, mode = mode).summary("merge-plan") == "driver")
    }
    assert(descs.size <= 2, s"${descs.size} jobs:\n${descs.mkString("\n")}")
    assert(rddBlocks == 0, s"$rddBlocks RDD blocks cached during the merge")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore, "no RDD left persisted")
    spark.conf.set(Threshold, "-1")
    try assert(Merge.into(join, src, mode = mode).summary("merge-plan") == "join")
    finally spark.conf.unset(Threshold)
    assertSameRows(driver.read(), join.read(), "driver plan vs join plan")
    assert(driver.read().count() == 600 - 10 + 5)
    assert(dvRows(driver) == dvRows(join) && dvRows(driver) == dvs)
  }

  test("a small-source merge-on-read merge runs at most 2 jobs, caches nothing, and equals the join plan") {
    driverPlanJobs("merge-on-read", dvs = 30)
  }

  test("a small-source copy-on-write merge runs at most 2 jobs, caches nothing, and equals the join plan") {
    driverPlanJobs("copy-on-write", dvs = 0)
  }

  /** The changes of [[changes]] as a SQL view with an `op` column instead of
    * `_deleted`. */
  private def sqlChanges(view: String): Unit =
    changes().withColumn("op", when(col("_deleted"), "D").otherwise("U")).drop("_deleted")
      .createOrReplaceTempView(view)

  /** q30's statement shape: a conditional DELETE, an UPDATE of one column
    * from its source value, and INSERT *. */
  private def q30(t: GraftTable, view: String): Unit = {
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING $view s ON t.url = s.url
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET text = s.text || '#2'
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    ()
  }

  test("a copy-on-write SQL MERGE of q30's shape takes the driver plan in at most 2 jobs") {
    val t = table("graft-merge-jobs-sql-cow")
    sqlChanges("merge_jobs_cow")
    val (descs, _) = sparkJobs(q30(t, "merge_jobs_cow"))
    assert(t.currentSnapshot.get.summary("merge-plan") == "driver")
    assert(descs.size <= 2, s"${descs.size} jobs:\n${descs.mkString("\n")}")
    assert(t.read().count() == 600 - 10 + 5)
    assert(t.read().filter(col("text").endsWith("#1#2")).count() == 20)
  }

  test("a merge-on-read SQL MERGE of q30's shape takes the driver plan in at most 2 jobs") {
    val t = table("graft-merge-jobs-sql-mor")
    spark.sql(s"ALTER TABLE graft.`${t.root}` SET TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    sqlChanges("merge_jobs_mor")
    val (descs, _) = sparkJobs(q30(t, "merge_jobs_mor"))
    assert(t.currentSnapshot.get.summary("merge-plan") == "driver")
    assert(descs.size <= 2, s"${descs.size} jobs:\n${descs.mkString("\n")}")
    assert(t.read().count() == 600 - 10 + 5)
    assert(dvRows(t) == 30)
  }

  /** Summary rows of `t`'s lineage, by op. */
  private def lineageRuns(t: GraftTable): Map[String, Long] =
    if (!new java.io.File(t.metricsDir).exists) Map.empty
    else Lineage.metrics(spark, t).filter(col("out_path") === "").groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("the row-level writers: one lineage run per DML commit, equal updates in both modes, no extra jobs") {
    val (cow, mor) = (table("graft-dml-writer-cow"), table("graft-dml-writer-mor"))
    val upd = Map("text" -> concat(col("text"), lit("#u")))
    // job budgets: a positional delete is its position scan; an update adds
    // the image write over the same persisted rows; a key delete evaluates
    // its keys (here a read of the table), probes and scans
    val (delJobs, _) = sparkJobs(assert(mor.deleteWherePositional(col("lang") === "de").nonEmpty))
    val (updJobs, _) = sparkJobs(assert(mor.updateWherePositional(col("lang") === "en", upd).nonEmpty))
    val (keyJobs, _) = sparkJobs(
      assert(mor.deleteByKeysMoR(mor.read().filter(col("lang") === "fr").select("url")).nonEmpty))
    info(s"delete-pos ${delJobs.size} jobs, update-pos ${updJobs.size}, key delete ${keyJobs.size}")
    for ((op, jobs, bound) <- Seq(("delete-pos", delJobs, 1), ("update-pos", updJobs, 2), ("key delete", keyJobs, 5)))
      assert(jobs.size <= bound, s"$op: ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(lineageRuns(mor) == Map("delete-pos" -> 2L, "update-pos" -> 1L))

    Merge.deleteWhere(cow, col("lang") === "de")
    Merge.updateWhere(cow, col("lang") === "en", upd)
    Merge.deleteWhere(cow, col("lang") === "fr")
    assert(lineageRuns(cow) == Map("delete" -> 2L, "update" -> 1L))
    assertSameRows(cow.read(), mor.read(), "copy-on-write vs merge-on-read DML")
  }

  test("the touched-file probe of a 4-partition source runs one job") {
    val t = table("graft-merge-jobs-probe")
    val keys = data.select("url")
    assert(keys.rdd.getNumPartitions == 4)
    val (descs, _) = sparkJobs(assert(Merge.touchedFiles(t, keys, "url").size == t.files().size))
    assert(descs.size == 1, s"${descs.size} jobs:\n${descs.mkString("\n")}")
  }
}
