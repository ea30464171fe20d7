package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.{Changelog, GraftTable}

/**
 * Merge-on-read MERGE (`mode = "merge-on-read"`): identical semantics to the
 * copy-on-write path — asserted by running both against twin tables — with
 * zero touched-file rewrites (changed rows land as DV entries + appended
 * images).
 */
class MergeMorSpec extends SparkSuite {

  private def twin(n: Long): (GraftTable, GraftTable, DataFrame) = {
    val data = Synth.pages(spark, n, partitions = 4).localCheckpoint(true)
    val a = GraftTable.create(spark, tmpDir("mor-a"), Synth.pageSchema)
    val b = GraftTable.create(spark, tmpDir("mor-b"), Synth.pageSchema)
    a.append(data); b.append(data)
    (a, b, data)
  }

  /** CDC-style source: updates (newer ts), deletes, inserts, one late row. */
  private def cdcSource(t: GraftTable): DataFrame = {
    import spark.implicits._
    val cur = t.read().as[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .collect().map(r => r._1 -> r).toMap
    val ks = cur.keys.toSeq.sorted
    val html = Array[Byte](9)
    (ks.take(12).map { u => val o = cur(u)
        (u, new java.sql.Timestamp(o._2.getTime + 5000L), html, s"UPD-${o._4}", o._5, false) } ++
      ks.slice(20, 26).map { u => val o = cur(u)
        (u, new java.sql.Timestamp(o._2.getTime + 5000L), html, "D", o._5, true) } ++
      Seq((ks(30), new java.sql.Timestamp(cur(ks(30))._2.getTime - 5000L), html, "LATE", "en", false)) ++
      (0 until 5).map(i => (s"https://new.example.com/$i",
        new java.sql.Timestamp(1735689600000L), html, s"NEW$i", "en", false)))
      .toDF("url", "warc_ts", "html", "text", "lang", "_deleted")
      .localCheckpoint(true)
  }

  test("latest-wins CDC merge: MoR equals CoW, rewrites nothing") {
    val (cow, mor, _) = twin(600)
    val src = cdcSource(cow)
    Merge.into(cow, src)
    val preFiles = mor.files().map(_.path).toSet
    val snap = Merge.into(mor, src, mode = "merge-on-read")
    assert(snap.operation == "merge-pos")
    assert(preFiles.subsetOf(mor.files().map(_.path).toSet),
      "MoR merge must not rewrite any touched file")
    assert(mor.positionDeletes().nonEmpty)
    assertSameRows(mor.read(), cow.read(), "MoR vs CoW merge result")
    // update (12) + delete (6) changed rows become DV entries; the late row
    // and absent-key deletes change nothing
    assert(mor.positionDeletes().map(_.rows).sum == 18)
  }

  test("ANSI merge with NOT MATCHED BY SOURCE: MoR equals CoW") {
    val (cow, mor, _) = twin(300)
    val src = cdcSource(cow).filter(!col("_deleted")).drop("_deleted")
      .localCheckpoint(true)
    val row = src.columns.map(c => c -> col(s"s.$c")).toMap
    def run(t: GraftTable, mode: String) =
      Merge.into(t, src, Seq("url"), latestWins = false, mode = mode, clauses = Seq(
        Merge.WhenMatched(Merge.Update(row - "url")),
        Merge.WhenNotMatched(Merge.Insert(row)),
        Merge.WhenNotMatchedBySource(Merge.Delete, Some(col("t.lang") === "fr")),
        Merge.WhenNotMatchedBySource(Merge.Update(Map("text" -> lit("NMBS"))), Some(col("t.lang") === "de"))))
    run(cow, "copy-on-write")
    run(mor, "merge-on-read")
    assertSameRows(mor.read(), cow.read(), "ANSI NMBS MoR vs CoW")
    assert(mor.positionDeletes().nonEmpty)
  }

  test("chained MoR merges: the second reads through the first's DVs") {
    val (cow, mor, _) = twin(400)
    val src1 = cdcSource(cow)
    Merge.into(cow, src1); Merge.into(mor, src1, mode = "merge-on-read")
    // second batch updates some rows the first batch already updated
    val src2 = cdcSource(cow)
    Merge.into(cow, src2)
    Merge.into(mor, src2, mode = "merge-on-read")
    assertSameRows(mor.read(), cow.read(), "chained MoR merges")
    // compaction materializes everything; parity holds after
    Compact.run(mor, targetBytes = 256L * 1024 * 1024, deleteRatioThreshold = 1e-9)
    assert(mor.positionDeletes().isEmpty)
    assertSameRows(mor.read(), cow.read(), "post-compact parity")
  }

  test("changelog of a merge-pos commit folds back to read()") {
    import Changelog.{ChangeTypeCol, CommitCol}
    val (_, mor, _) = twin(300)
    val from = mor.currentSnapshot.get.id
    val pre = mor.read()
    Merge.into(mor, cdcSource(mor), mode = "merge-on-read")
    val ch = mor.changes(from)
    val folded = pre
      .exceptAll(ch.filter(col(ChangeTypeCol) === "delete").drop(ChangeTypeCol, CommitCol))
      .unionByName(ch.filter(col(ChangeTypeCol) === "insert").drop(ChangeTypeCol, CommitCol))
    assertSameRows(folded, mor.read(), "merge-pos changelog fold")
  }

  test("no-op MoR merge commits an empty snapshot like CoW; staging dirs cleaned") {
    import spark.implicits._
    val html = Array[Byte](1)
    val ts = new java.sql.Timestamp(1735689600000L)
    // delete-only source over absent keys = nothing to write in either mode
    val noopSrc = Seq(("https://absent.example.com/x", ts, html, "T", "en", true))
      .toDF("url", "warc_ts", "html", "text", "lang", "_deleted")
    // empty table: must commit (CoW does), not throw
    val e = GraftTable.create(spark, tmpDir("mor-noop-empty"), Synth.pageSchema)
    val s1 = Merge.into(e, noopSrc, Seq("url"), mode = "merge-on-read")
    assert(s1.operation === "merge-pos" && e.read().count() === 0)
    // re-run with the same runId short-circuits idempotently (markCommitted)
    val s1b = Merge.into(e, noopSrc, Seq("url"), mode = "merge-on-read",
      runId = "noop-rerun")
    assert(Merge.into(e, noopSrc, Seq("url"), mode = "merge-on-read",
      runId = "noop-rerun").id === s1b.id)
    // non-empty table: no-op commits, rows unchanged, no staging dirs leak
    val t = GraftTable.create(spark, tmpDir("mor-noop"), Synth.pageSchema)
    t.append(Synth.pages(spark, 100, partitions = 2))
    val pre = t.read().count()
    val s2 = Merge.into(t, noopSrc, Seq("url"), mode = "merge-on-read",
      runId = "noop-nonempty")
    assert(s2.operation === "merge-pos" && t.read().count() === pre)
    val leftovers = new java.io.File(s"${t.root}/data").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(n => n.startsWith("dvm-noop-nonempty") || n.startsWith("merge-noop-nonempty"))
    assert(leftovers.isEmpty, s"no-op MoR merge left staging dirs: ${leftovers.mkString(",")}")
  }

  test("SQL MERGE honors write.merge.mode=merge-on-read") {
    val (cow, mor, _) = twin(300)
    spark.sql(s"ALTER TABLE graft.`${mor.root}` SET TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    val src = cdcSource(cow).filter(!col("_deleted"))
      .select("url", "warc_ts", "html", "text", "lang").localCheckpoint(true)
    src.createOrReplaceTempView("mor_src")
    def stmt(root: String) =
      s"""MERGE INTO graft.`$root` t USING mor_src s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    val preFiles = mor.files().map(_.path).toSet
    spark.sql(stmt(cow.root)).collect()
    spark.sql(stmt(mor.root)).collect()
    assert(preFiles.subsetOf(mor.files().map(_.path).toSet), "SQL MoR merge rewrote a file")
    assert(mor.positionDeletes().nonEmpty)
    assertSameRows(mor.read(), cow.read(), "SQL MoR vs CoW")
  }
}
