package graft.table

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.Compact
import graft.run.Synth

/**
 * A commit is metadata only: rewriting files that carry live deletion
 * vectors drops their DV entries with a manifest edit, and a key delete
 * commits the DV blob it already wrote, so no Spark job starts inside
 * [[GraftTable.commitFull]] — not once per CAS attempt, not at all.
 */
class CommitJobsSpec extends SparkSuite {

  /** Call sites of the Spark jobs `body` starts: all of them, and those
    * submitted from inside `commitFull`. A SQL job may run on a pool thread
    * (broadcasts, writes), so it counts as inside when the call site of its
    * SQL execution — recorded on the thread that ran the query — passes
    * through `commitFull`; any other job, when its own call site does. */
  private def jobs(body: => Any): (Seq[String], Seq[String]) = {
    val all = new ConcurrentLinkedQueue[String]()
    val inside = new ConcurrentLinkedQueue[String]()
    val commitExecutions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def inCommit(callSite: String) = callSite.contains("GraftTable.commitFull")
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if inCommit(x.details) =>
          commitExecutions.add(x.executionId.toString); ()
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.map(_.details).mkString("\n")
        all.add(site)
        val execs = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
        if (inCommit(site) || execs.exists(commitExecutions.contains)) inside.add(site)
        ()
      }
    }
    val depth = Option(System.getProperty("spark.callstack.depth"))
    System.setProperty("spark.callstack.depth", "1000") // whole stacks, not the top 20 frames
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) }
    finally {
      spark.sparkContext.removeSparkListener(listener)
      depth.fold(System.clearProperty("spark.callstack.depth"))(
        System.setProperty("spark.callstack.depth", _))
    }
    import scala.jdk.CollectionConverters._
    (all.asScala.toSeq, inside.asScala.toSeq)
  }

  /** A table of 8 files whose `en` and `de` rows are position-deleted. */
  private def dvTable(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("graft-commit-jobs"), Synth.pageSchema)
    t.append(Synth.pages(spark, 2000, partitions = 8))
    assert(t.deleteWherePositional(col("lang") === "en").nonEmpty)
    assert(t.deleteWherePositional(col("lang") === "de").nonEmpty)
    t
  }

  test("replaceFiles over DV-carrying files with pre-staged outputs starts no Spark job") {
    val t = dvTable()
    val st = t.state
    val expected = t.read().localCheckpoint(true)
    val covered = st.files.filter(f => st.posDeleteRowCounts.contains(f.path)).take(3)
    assert(covered.size == 3)
    val staged = st.writeDataFiles(st.readFiles(covered).coalesce(1))
    val (all, inside) = jobs(t.replaceFiles(covered.map(_.path).toSet, staged, "compact",
      expectedSnapshotId = st.snapshot.map(_.id)))
    assert(all.isEmpty && inside.isEmpty, s"${all.size} jobs in replaceFiles:\n${all.mkString("\n\n")}")
    assert(covered.forall(f => !t.posDeleteRowCounts().contains(f.path)), "rewritten files' DVs cleared")
    assert(t.positionDeletes().nonEmpty, "untouched files keep theirs")
    assertSameRows(t.read(), expected, "read after the rewrite")
  }

  test("a Compact.run commit over DV-carrying files starts no Spark job") {
    val t = dvTable()
    val expected = t.read().localCheckpoint(true)
    val (all, inside) = jobs(assert(Compact.run(t, targetBytes = 256L * 1024 * 1024).nonEmpty))
    assert(all.nonEmpty, "the listener sees the rewrite's jobs")
    assert(inside.isEmpty, s"${inside.size} jobs inside commitFull:\n${inside.mkString("\n\n")}")
    assert(t.positionDeletes().isEmpty)
    assertSameRows(t.read(), expected, "read after compaction")
  }

  test("a second deleteByKeysMoR over a live key delete starts no Spark job inside commitFull") {
    val t = GraftTable.create(spark, tmpDir("graft-commit-jobs-keys"), Synth.pageSchema)
    t.append(Synth.pages(spark, 2000, partitions = 8))
    import spark.implicits._
    val urls = t.read().select("url").orderBy("url").limit(20).as[String].collect().toSeq
    val expected = t.read().filter(!col("url").isin(urls: _*)).localCheckpoint(true)
    t.deleteByKeysMoR(urls.take(10).toDF("url"))
    val (all, inside) = jobs(t.deleteByKeysMoR(urls.drop(10).toDF("url")))
    assert(all.nonEmpty, "the listener sees the key delete's jobs")
    assert(inside.isEmpty, s"${inside.size} jobs inside commitFull:\n${inside.mkString("\n\n")}")
    assertSameRows(t.read(), expected, "read after both key deletes")
  }
}
