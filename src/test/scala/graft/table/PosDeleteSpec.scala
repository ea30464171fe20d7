package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.SparkSuite
import graft.ops.{Cluster, Compact, Expire, Merge}
import graft.run.Synth

/**
 * Merge-on-read POSITION deletes (deletion vectors): file-scoped row
 * deletes committed without rewriting data files, applied on every read
 * path, and cleared EXACTLY per rewritten file by every maintenance op.
 */
class PosDeleteSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def freshTable(n: Long, parts: Int = 8) = {
    val t = GraftTable.create(spark, tmpDir("graft-dv"), Synth.pageSchema)
    t.append(Synth.pages(spark, n, partitions = parts))
    t
  }

  /** deterministic, non-empty, disjoint row buckets */
  private def bucket(k: Int) = pmod(xxhash64(col("url")), lit(7)) === k

  /** The table's raw files with each row's DV entry `(_file, _pos)`. */
  private def rawWithPos(t: GraftTable): DataFrame =
    org.apache.spark.sql.graftshim.GraftRelation.dataFrame(spark, t.schema, t.root, t.files())
      .withColumn("_file", DeletionVectors.relPathColumn)
      .withColumn("_pos", col("_metadata.row_index"))

  /** Every live DV entry's positions as `(_file, _pos)` rows, each entry
    * read on its own: positions repeated across entries stay repeated. */
  private def dvRows(t: GraftTable): DataFrame = {
    import spark.implicits._
    t.state.dvEntries.flatMap(e => DeletionVectors.load(t.root, Seq(e)).toSeq.flatMap {
      case (f, b) => b.toArray.toSeq.map(f -> _)
    }).toDF("_file", "_pos")
  }

  /** Commit one more DV blob that repeats every live DV entry, plus a
    * second blob with the positions of `extra`'s rows, which the first one
    * also holds — overlapping entries across and within one commit. */
  private def commitOverlappingDvs(t: GraftTable, extra: org.apache.spark.sql.Column): Unit = {
    val more = DeletionVectors.collect(rawWithPos(t).filter(extra)
      .select(col("_file").as("_gdv_rel"), col("_pos").as("_gdv_idx")))
    val live = DeletionVectors.load(t.root, t.state.dvEntries)
    val all = (live.keySet ++ more.keySet).map { f =>
      val b = new Roaring64Bitmap()
      (live.get(f) ++ more.get(f)).foreach(b.or)
      f -> b
    }.toMap
    val entries = DeletionVectors.write(t.root, s"dv-${java.util.UUID.randomUUID}", all) ++
      DeletionVectors.write(t.root, s"dv-${java.util.UUID.randomUUID}", more)
    t.commitFull("delete-pos") { parent =>
      (parent.map(_.manifests).getOrElse(Seq.empty),
        Some(parent.map(_.posDeleteList).getOrElse(Seq.empty) :+ t.writeDvManifest(entries)), Map.empty)
    }
  }

  test("a DV-covered read filters in the scan: no Join, no Exchange on the DV side") {
    val t = freshTable(2000)
    val pre = t.read()
    assert(t.deleteWherePositional(col("lang") === "en").nonEmpty)
    val df = t.read()
    assertSameRows(df, pre.filter(col("lang") =!= "en"), "bitmap-filtered read")
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"no DV join:\n$plan")
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"no DV exchange:\n$plan")
    // the bitmap probe runs inside whole-stage codegen, right above the scan
    val dvFilters = collect(plan) {
      case w: WholeStageCodegenExec => w.child.collect {
        case f: FilterExec if f.condition.exists(_.isInstanceOf[DvKeep]) &&
          f.exists(_.isInstanceOf[FileSourceScanExec]) => f
      }
    }.flatten
    assert(dvFilters.nonEmpty, s"dv_keep must be a codegen'd scan filter:\n$plan")
  }

  test("overlapping DV files repeating (_file, _pos) read like the distinct anti-join") {
    val t = freshTable(3000)
    val pre = t.read().localCheckpoint(true)
    assert(t.deleteWherePositional(bucket(0)).nonEmpty)
    commitOverlappingDvs(t, bucket(1))
    assert(t.positionDeletes().size >= 2)
    // the anti-join over distinct DV rows every read used before the bitmaps
    val antiJoined = rawWithPos(t).join(dvRows(t).distinct(), Seq("_file", "_pos"), "left_anti")
      .drop("_file", "_pos")
    assertSameRows(t.read(), antiJoined, "bitmap read vs distinct anti-join")
    assertSameRows(t.read(), pre.filter(!(bucket(0) || bucket(1))), "overlapping DVs")
    // the interpreted path agrees with the codegen'd one
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assertSameRows(t.read(), antiJoined, "interpreted dv_keep")
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("a table dropped and recreated at the same root never sees the old bitmaps") {
    val root = tmpDir("graft-dvre")
    val t1 = GraftTable.create(spark, root, Synth.pageSchema)
    t1.append(Synth.pages(spark, 1000, partitions = 4))
    val all = t1.read().localCheckpoint(true)
    assert(t1.deleteWherePositional(col("lang") === "en").nonEmpty)
    assert(t1.read().count() == all.filter(col("lang") =!= "en").count()) // caches t1's bitmaps
    FileIO.deleteRecursively(root)
    val t2 = GraftTable.create(spark, root, Synth.pageSchema)
    t2.append(Synth.pages(spark, 1000, partitions = 4))
    assert(t2.deleteWherePositional(col("lang") === "de").nonEmpty)
    assertSameRows(t2.read(), all.filter(col("lang") =!= "de"), "recreated table")
    assert(t2.posDeleteRowCounts().values.sum == all.filter(col("lang") === "de").count())
  }

  test("DV bitmaps round-trip positions at and above 2^31") {
    import spark.implicits._
    val root = tmpDir("graft-dvbig")
    val big = Seq(0L, 7L, (1L << 31) - 1, 1L << 31, (1L << 31) + 5, (1L << 40) + 3, Long.MaxValue)
    val entries = DeletionVectors.write(root, "dv-big", DeletionVectors.collect(
      (big.map(p => ("data/a.parquet", p)) :+ (("data/b.parquet", 1L << 32)))
        .toDF("_gdv_rel", "_gdv_idx").repartition(3)))
    val bms = DeletionVectors.load(root, entries)
    assert(bms("data/a.parquet").toArray.toSeq == big)
    assert(bms("data/b.parquet").toArray.toSeq == Seq(1L << 32))
    // the probe sees the same positions
    val keep = DvKeep(BoundReference(0, StringType, nullable = false),
      BoundReference(1, LongType, nullable = false), new DvSet(entries.map(_.blob), bms))
    def kept(path: String, pos: Long) = keep.eval(InternalRow(UTF8String.fromString(path), pos))
    assert(kept("file:/x/t/data/a.parquet", (1L << 31) + 5) == false)
    assert(kept("file:/x/t/data/a.parquet", (1L << 31) + 6) == true)
    assert(kept("file:/x/t/data/b.parquet", 1L << 32) == false)
    assert(kept("file:/x/t/data/c.parquet", 1L << 32) == true)
  }

  test("dense DV runs above the old 4M-row join cap load as compact bitmaps") {
    // one memory policy for every DV consumer: the per-file bitmaps, at any
    // DV row count — Roaring run containers keep dense deletes small
    val root = tmpDir("graft-dvdense")
    val n = 5L * 1000 * 1000
    val bms = DeletionVectors.load(root, DeletionVectors.write(root, "dv-dense", DeletionVectors.collect(
      spark.range(n).select(lit("data/a.parquet").as("_gdv_rel"), col("id").as("_gdv_idx")))))
    assert(bms("data/a.parquet").getLongCardinality == n)
    assert(bms("data/a.parquet").serializedSizeInBytes() < 4096)
  }

  test("DV entries and the scan probe agree on roots and partitions that URL-encode") {
    import spark.implicits._
    val root = tmpDir("graft dv%root") + " b"
    val keys = Seq("a b", "c%d", "e=f", "g/h", "i#j")
    val df = (0 until 500).map(i => (keys(i % keys.size), i.toLong)).toDF("k", "v")
    val t = GraftTable.create(spark, root, df.schema)
    t.setPartitionSpec(Some("identity(k)"))
    t.append(df.repartition(2))
    val gone = col("v") % 3 === 0
    assert(t.deleteWherePositional(gone).nonEmpty)
    // the writer's `_file` values and the read probe's key derivation agree
    assertSameRows(t.read(), df.filter(!gone), "encoded-path read")
    // …and name the table's data files as compaction and the changelog key them
    val counts = t.posDeleteRowCounts()
    assert(counts.keySet.subsetOf(t.files().map(_.path).toSet), s"unmatched DV paths: ${counts.keySet}")
    assert(counts.values.sum == df.filter(gone).count())
    assertSameRows(t.state.rowsAtPositions(t.files(), t.state.dvEntries),
      df.filter(gone), "rows at the deleted positions")
    Compact.run(t, targetBytes = 256L * 1024 * 1024, deleteRatioThreshold = 0.1)
    assert(t.posDeleteRowCounts().isEmpty, "compaction clears every covered file's DV rows")
    assertSameRows(t.read(), df.filter(!gone), "compacted read")
  }

  test("posDeleteRowCounts equals the distinct groupBy count over several DV files") {
    val t = freshTable(3000)
    (0 to 2).foreach(k => assert(t.deleteWherePositional(bucket(k)).nonEmpty))
    commitOverlappingDvs(t, bucket(3))
    assert(t.positionDeletes().size >= 4)
    val want = dvRows(t).distinct().groupBy("_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.values.sum > 0)
    assert(t.posDeleteRowCounts() == want)
  }

  test("positional delete hides matching rows without touching data files") {
    val t = freshTable(4000)
    val pre = t.read()
    val preFiles = t.files().map(_.path).toSet
    val pred = col("lang") === "en"
    val expectDeleted = pre.filter(pred).count()
    assert(expectDeleted > 0)

    val snap = t.deleteWherePositional(pred)
    assert(snap.nonEmpty && snap.get.operation == "delete-pos")
    // zero write amplification: the data file set is IDENTICAL
    assert(t.files().map(_.path).toSet == preFiles)
    assert(t.positionDeletes().nonEmpty)
    // DV _file values name real data files (the rel-path expression matches
    // DataFileMeta.path exactly — the invariant every join/prune rests on)
    val dvFiles = dvRows(t).select("_file").distinct().collect().map(_.getString(0)).toSet
    assert(dvFiles.nonEmpty && dvFiles.subsetOf(preFiles), s"unmatched DV paths: ${dvFiles -- preFiles}")

    // full scan = pre-delete scan minus matching rows
    assertSameRows(t.read(), pre.filter(!pred), "dv full scan")
    // predicate scans keep working (incl. one that prunes to DV-free files)
    assertSameRows(t.read(Some(col("lang") === "de")),
      pre.filter(col("lang") === "de"), "dv predicate scan")
    // old snapshot still sees everything (snapshot isolation)
    assert(t.readSnapshot(snap.get.parentId.get).count() == pre.count())
    // deleting rows that are already gone is a no-op commit
    assert(t.deleteWherePositional(col("lang") === "en").isEmpty)
  }

  test("position deletes are FILE-scoped: later appends are unaffected") {
    val t = freshTable(2000)
    val pred = col("lang") === "en"
    val survivors = t.read().filter(!pred).count()
    assert(t.deleteWherePositional(pred).nonEmpty)
    // new rows matching the same predicate land AFTER the delete — they stay
    // (equality tombstones would suppress them; DVs must not)
    val more = Synth.pages(spark, 500, seed = 99L)
    val moreEn = more.filter(pred).count()
    assert(moreEn > 0)
    t.append(more)
    assert(t.read().filter(pred).count() == moreEn, "appended rows must survive the earlier DV")
    assert(t.read().count() == survivors + more.count())
  }

  test("compaction applies DVs to rewritten files and clears exactly those") {
    val t = freshTable(6000, parts = 12)
    val pred = col("lang") === "en"
    val expected = t.read().filter(!pred)
    val expectedCount = expected.count()
    assert(t.deleteWherePositional(pred).nonEmpty)
    val dvRowsPre = t.positionDeletes().map(_.rows).sum

    val snap = Compact.run(t, targetBytes = 256L * 1024 * 1024)
    assert(snap.nonEmpty)
    // full coverage here → every DV row cleared, not carried
    assert(t.positionDeletes().isEmpty,
      s"DV rows must clear with their files (was $dvRowsPre)")
    assert(snap.get.summary.get("materialized-position-deletes").exists(_.toLong == dvRowsPre))
    assertSameRows(t.read(), expected, "post-compact scan")
    assert(t.read().count() == expectedCount)
  }

  test("PARTIAL rewrite clears only the rewritten files' DV rows") {
    val t = freshTable(4000, parts = 8)
    val pred = col("lang") === "en"
    val expected = t.read().filter(!pred)
    assert(t.deleteWherePositional(pred).nonEmpty)
    val dvRowsPre = t.positionDeletes().map(_.rows).sum
    assert(dvRowsPre > 0)

    // rewrite a strict subset of the DV'd files via predicate-scoped cluster
    val someFiles = t.files().sortBy(_.path).take(2)
    val snap = Cluster.zorderRewrite(t, onlyFiles = Some(someFiles))
    assert(snap.nonEmpty)
    val dvRowsPost = t.positionDeletes().map(_.rows).sum
    assert(dvRowsPost < dvRowsPre, "rewritten files' DV rows must clear")
    assert(dvRowsPost > 0, "untouched files' DV rows must survive")
    assertSameRows(t.read(), expected, "post-partial-rewrite scan")
  }

  test("MERGE runs with live DVs: deleted target rows are NOT MATCHED") {
    val t = freshTable(1000)
    // delete one specific url's row positionally
    val victim = t.read().select("url").orderBy("url").limit(1).collect()(0).getString(0)
    assert(t.deleteWherePositional(col("url") === victim).nonEmpty)
    assert(t.read().filter(col("url") === victim).count() == 0)

    // merge a new image of that url: must INSERT (not update a dead row)
    val src = t.readSnapshot(t.currentSnapshot.get.parentId.get)
      .filter(col("url") === victim)
      .withColumn("lang", lit("merged"))
    Merge.into(t, src, Seq("url"))
    val after = t.read().filter(col("url") === victim).collect()
    assert(after.length == 1 && after(0).getAs[String]("lang") == "merged")
    // the touched file's DV rows cleared; scans stay consistent
    assertSameRows(t.read().filter(col("url") =!= victim),
      t.readSnapshot(1).filter(col("url") =!= victim), "untouched rows")
  }

  test("CoW delete/update/replaceWhere do not resurrect DV-deleted rows") {
    val t = freshTable(2000)
    val pred = col("lang") === "en"
    val expected = t.read().filter(!pred)
    assert(t.deleteWherePositional(pred).nonEmpty)

    // CoW update touching files that hold DV'd rows
    Merge.updateWhere(t, col("lang") === "de", Map("text" -> lit("updated")))
    assert(t.read().filter(pred).count() == 0, "update must not resurrect DV-deleted rows")
    assert(t.read().count() == expected.count())

    // CoW delete on another predicate
    Merge.deleteWhere(t, col("lang") === "fr")
    assert(t.read().filter(pred).count() == 0)
    assertSameRows(t.read(),
      expected.filter(col("lang") =!= "fr")
        .withColumn("text", when(col("lang") === "de", lit("updated")).otherwise(col("text"))),
      "post CoW ops scan")
  }

  test("expire GC keeps live DV files, collects cleared ones") {
    val t = freshTable(2000)
    assert(t.deleteWherePositional(col("lang") === "en").nonEmpty)
    val dvPaths = t.positionDeletes().map(t.absPath)
    assert(dvPaths.forall(p => new java.io.File(p).exists))
    val expected = t.read()
    val expectedCount = expected.count()

    // expire history: live snapshot still references the DV files
    Expire.expire(t, retainLast = 1, olderThanMs = Long.MaxValue)
    assert(dvPaths.forall(p => new java.io.File(p).exists), "live DV files must survive GC")
    assert(t.read().count() == expectedCount)

    // full compaction clears DVs; expiring the pre-compact snapshot GCs them
    Compact.run(t, targetBytes = 256L * 1024 * 1024)
    Expire.expire(t, retainLast = 1, olderThanMs = Long.MaxValue)
    assert(dvPaths.forall(p => !new java.io.File(p).exists), "cleared DV files must GC")
    assert(t.read().count() == expectedCount)
  }

  test("orphan GC collects a never-committed DV blob and keeps the live one") {
    val t = freshTable(1000)
    assert(t.deleteWherePositional(col("lang") === "en").nonEmpty)
    val live = t.positionDeletes().map(t.absPath)
    val expected = t.read().localCheckpoint(true)
    // a delete that wrote its blob and died before committing
    val staged = DeletionVectors.write(t.root, "dv-crashed",
      Map(t.files().head.path -> Roaring64Bitmap.bitmapOf(0L, 1L)))
    val stagedPath = s"${t.root}/${staged.head.blob}"
    assert(new java.io.File(stagedPath).exists)
    val removed = Expire.removeOrphans(t, olderThanMs = -1000)
    assert(removed == Seq(stagedPath), s"removed $removed")
    assert(!new java.io.File(stagedPath).exists, "the uncommitted blob must be collected")
    assert(live.forall(p => new java.io.File(p).exists), "the live blob must survive")
    assertSameRows(t.read(), expected, "read after orphan GC")
  }

  test("a snapshot holding parquet-format DV entries fails loudly, never reads as no deletes") {
    val t = freshTable(500)
    // a DV manifest line of the old format: a DataFileMeta naming a
    // (_file, _pos) parquet file, with no blob fields
    val old = DataFileMeta("data/dv-old/part-00000.parquet", 3L, 900L,
      Map("_file" -> "data/a", "_pos" -> "0"), Map("_file" -> "data/z", "_pos" -> "9"),
      Map("_file" -> 0L, "_pos" -> 0L), "dv-old")
    t.commitFull("delete-pos") { parent =>
      (parent.map(_.manifests).getOrElse(Seq.empty),
        Some(Seq(t.writeManifest(Seq(old)))), Map.empty)
    }
    for ((what, attempt) <- Seq[(String, () => Any)](
        "read" -> (() => t.read().count()),
        "position deletes" -> (() => t.positionDeletes()),
        "compaction plan" -> (() => Compact.plan(t, 256L * 1024 * 1024)),
        "expiry" -> (() => Expire.expire(t, retainLast = 1)))) {
      val e = intercept[IllegalStateException](attempt())
      assert(e.getMessage.contains("old parquet deletion-vector format"), s"$what: ${e.getMessage}")
    }
  }

  test("raw graft-format relation refuses a DV snapshot; SQL read applies it") {
    val t = freshTable(1000)
    assert(t.deleteWherePositional(col("lang") === "en").nonEmpty)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(t.root).count()
    }
    assert(e.getMessage.contains("position deletes"))
    // the SQL front door goes through table.read() and is exact
    val viaSql = spark.sql(s"SELECT count(*) AS c FROM graft.`${t.root}`").collect()(0).getLong(0)
    assert(viaSql == t.read().count())
  }

  test("rewriteDeleteFiles merges DV files, dedupes, stays row-preserving") {
    val t = freshTable(4000)
    // several MoR commits, each its own DV file(s) — the per-commit DV
    // accumulation this op exists to merge
    assert(t.deleteWherePositional(bucket(0)).nonEmpty)
    assert(t.deleteWherePositional(bucket(1)).nonEmpty)
    assert(t.deleteWherePositional(bucket(2)).nonEmpty)
    val dvsIn = t.positionDeletes()
    assert(dvsIn.size >= 3, s"expected ≥3 DV files, got ${dvsIn.size}")
    val preRead = t.read().localCheckpoint(true)
    val preFiles = t.files().map(_.path).toSet
    val distinctEntries = dvRows(t).distinct().count()
    val from = t.currentSnapshot.get.id

    val snap = t.rewriteDeleteFiles()
    assert(snap.nonEmpty && snap.get.operation == "rewrite-deletes")
    val dvsOut = t.positionDeletes()
    assert(dvsOut.size < dvsIn.size, s"${dvsIn.size} -> ${dvsOut.size}")
    // deduped: output rows = distinct (file, pos) entries
    assert(dvsOut.map(_.rows).sum === distinctEntries)
    // no data file touched; reads identical; old snapshot still consistent
    assert(t.files().map(_.path).toSet === preFiles)
    assertSameRows(t.read(), preRead, "post-rewrite read")
    assertSameRows(t.readSnapshot(from), preRead, "time travel across rewrite")
    // row-preserving: changelog emits nothing, incremental passes through
    assert(t.changes(from).count() === 0L)
    assert(t.incrementalFiles(from)._1.isEmpty)
    // a second pass is a no-op (single DV file left — nothing to merge)
    if (dvsOut.size < 2) assert(t.rewriteDeleteFiles().isEmpty)
    // SQL spelling
    assert(t.deleteWherePositional(bucket(3)).nonEmpty)
    val row = spark.sql(s"OPTIMIZE graft.`${t.root}` REWRITE DELETES").head()
    assert(row.getLong(0) > 0 && row.getLong(2) <= row.getLong(1))
    assertSameRows(t.read(), preRead.filter(!bucket(3)), "post-SQL-rewrite read")
  }

  test("changelog of a delete-pos commit emits exactly the deleted row images") {
    import Changelog.{ChangeTypeCol, CommitCol}
    val t = freshTable(1500)
    val from = t.currentSnapshot.get.id
    val pre = t.read()
    val pred = col("lang") === "en"
    assert(t.deleteWherePositional(pred).nonEmpty)
    t.append(Synth.pages(spark, 300, seed = 5L))

    val ch = t.changes(from)
    assertSameRows(
      ch.filter(col(ChangeTypeCol) === "delete").drop(ChangeTypeCol, CommitCol),
      pre.filter(pred), "delete-pos changelog images")
    // fold invariant: pre \ deletes ∪ inserts == read()
    val folded = pre
      .exceptAll(ch.filter(col(ChangeTypeCol) === "delete").drop(ChangeTypeCol, CommitCol))
      .unionByName(ch.filter(col(ChangeTypeCol) === "insert").drop(ChangeTypeCol, CommitCol))
    assertSameRows(folded, t.read(), "changelog fold across delete-pos")
  }

  test("changelog of a merge AFTER a positional delete emits no spurious deletes") {
    import Changelog.{ChangeTypeCol, CommitCol}
    val t = freshTable(800)
    val pred = col("lang") === "en"
    assert(t.deleteWherePositional(pred).nonEmpty)
    val from = t.currentSnapshot.get.id
    val pre = t.read()
    // CoW update rewrites files that still carry DV rows: the diff must not
    // re-emit the DV-dead rows as deletes (their events belong to delete-pos)
    Merge.updateWhere(t, col("lang") === "de", Map("text" -> lit("u")))
    val ch = t.changes(from)
    val deletes = ch.filter(col(ChangeTypeCol) === "delete").drop(ChangeTypeCol, CommitCol)
    assert(deletes.filter(pred).count() == 0,
      "DV-dead rows must not re-surface as CoW diff deletes")
    val folded = pre.exceptAll(deletes)
      .unionByName(ch.filter(col(ChangeTypeCol) === "insert").drop(ChangeTypeCol, CommitCol))
    assertSameRows(folded, t.read(), "changelog fold across DV + CoW update")
  }

  test("SQL DELETE honors write.delete.mode=merge-on-read (no file rewrites)") {
    val t = freshTable(1000)
    spark.sql(s"ALTER TABLE graft.`${t.root}` SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val preFiles = t.files().map(_.path).toSet
    val pre = t.read()
    spark.sql(s"DELETE FROM graft.`${t.root}` WHERE lang = 'en'")
    assert(t.files().map(_.path).toSet == preFiles, "MoR SQL DELETE must not rewrite data files")
    assert(t.positionDeletes().nonEmpty)
    assertSameRows(t.read(), pre.filter(col("lang") =!= "en"), "sql mor delete")
    // flipping the property back routes DELETE through copy-on-write again
    spark.sql(s"ALTER TABLE graft.`${t.root}` UNSET TBLPROPERTIES ('write.delete.mode')")
    spark.sql(s"DELETE FROM graft.`${t.root}` WHERE lang = 'de'")
    assert(t.files().map(_.path).toSet != preFiles)
    assertSameRows(t.read(), pre.filter(col("lang") =!= "en").filter(col("lang") =!= "de"),
      "sql cow delete after mode unset")
  }

  test("MoR UPDATE: one commit, no file rewrites, ANSI pre-update semantics") {
    val t = freshTable(2000)
    val pre = t.read()
    val preFiles = t.files().map(_.path).toSet
    val pred = col("lang") === "en"
    val nHit = pre.filter(pred).count()
    assert(nHit > 0)

    val snap = t.updateWherePositional(pred, Map("text" -> concat(col("text"), lit("!"))))
    assert(snap.nonEmpty && snap.get.operation == "update-pos")
    // old files untouched; exactly the new-image files were added
    assert(preFiles.subsetOf(t.files().map(_.path).toSet))
    assert(t.positionDeletes().map(_.rows).sum == nHit)
    // scan equality vs the CoW-equivalent result (assignment on PRE row)
    assertSameRows(t.read(),
      pre.withColumn("text", when(pred, concat(col("text"), lit("!"))).otherwise(col("text"))),
      "MoR update scan")
    // snapshot isolation
    assertSameRows(t.readSnapshot(snap.get.parentId.get), pre, "pre-update snapshot")
    // no-match predicate → no commit
    assert(t.updateWherePositional(col("lang") === "zz-never", Map("text" -> lit("x"))).isEmpty)
    // compaction materializes: DVs clear, scans unchanged
    val expected = t.read()
    Compact.run(t, targetBytes = 256L * 1024 * 1024)
    assert(t.positionDeletes().isEmpty)
    assertSameRows(t.read(), expected, "post-compact MoR-update scan")
  }

  test("changelog of a MoR update pairs pre/post images; fold reconstructs read()") {
    import Changelog.{ChangeTypeCol, CommitCol, UpdatePostimage, UpdatePreimage}
    val t = freshTable(1200)
    val from = t.currentSnapshot.get.id
    val pre = t.read()
    val pred = col("lang") === "en"
    assert(t.updateWherePositional(pred, Map("text" -> lit("updated"))).nonEmpty)

    val ch = t.changes(from, updateImagesOn = Seq("url"))
    val pres = ch.filter(col(ChangeTypeCol) === UpdatePreimage)
    val posts = ch.filter(col(ChangeTypeCol) === UpdatePostimage)
    assertSameRows(pres.drop(ChangeTypeCol, CommitCol), pre.filter(pred), "preimages")
    assertSameRows(posts.drop(ChangeTypeCol, CommitCol),
      pre.filter(pred).withColumn("text", lit("updated")), "postimages")
    // fold (preimage = delete, postimage = insert) reconstructs read()
    val folded = pre
      .exceptAll(ch.filter(col(ChangeTypeCol).isin("delete", UpdatePreimage))
        .drop(ChangeTypeCol, CommitCol))
      .unionByName(ch.filter(col(ChangeTypeCol).isin("insert", UpdatePostimage))
        .drop(ChangeTypeCol, CommitCol))
    assertSameRows(folded, t.read(), "changelog fold across update-pos")
  }

  test("SQL UPDATE honors write.update.mode=merge-on-read") {
    val t = freshTable(1000)
    spark.sql(s"ALTER TABLE graft.`${t.root}` SET TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    val pre = t.read()
    val preFiles = t.files().map(_.path).toSet
    spark.sql(s"UPDATE graft.`${t.root}` SET text = 'sql-updated' WHERE lang = 'en'")
    assert(preFiles.subsetOf(t.files().map(_.path).toSet), "MoR SQL UPDATE must not rewrite data files")
    assert(t.positionDeletes().nonEmpty)
    assertSameRows(t.read(),
      pre.withColumn("text", when(col("lang") === "en", lit("sql-updated")).otherwise(col("text"))),
      "sql mor update")
  }

  test("delete-pressured big files become compaction candidates; low pressure does not") {
    val t = GraftTable.create(spark, tmpDir("graft-dvp"), Synth.pageSchema)
    t.append(Synth.pages(spark, 3000, partitions = 1)) // one right-sized file
    val target = t.files().head.bytes / 2 // file is NOT small at this target
    assert(Compact.plan(t, target).isEmpty, "no small files, no DVs: nothing to compact")

    val urls = t.read().select("url").distinct().orderBy("url").collect().map(_.getString(0))
    // ~2% coverage: below the 10% delete-ratio threshold → still no plan
    assert(t.deleteWherePositional(col("url").isin(urls.take(urls.length / 50).toSeq: _*)).nonEmpty)
    assert(Compact.plan(t, target).isEmpty, "2% DV coverage must not trigger a rewrite")

    // push coverage past the threshold → the big file becomes a candidate
    assert(t.deleteWherePositional(col("url").isin(urls.take(urls.length / 6).toSeq: _*)).nonEmpty)
    val p = Compact.plan(t, target)
    assert(p.nonEmpty && p.get.groups.exists(_.size == 1),
      "a delete-pressured file compacts even as a singleton group")
    val expected = t.read()
    assert(Compact.run(t, targetBytes = target).nonEmpty)
    assert(t.positionDeletes().isEmpty, "the rewrite clears the pressured file's DVs")
    assertSameRows(t.read(), expected, "post-pressure-compact scan")
  }

  test(".deletes metadata table inventories tombstone and DV files") {
    val t = freshTable(1000)
    import spark.implicits._
    val u = t.read().select("url").orderBy("url").limit(1).collect()(0).getString(0)
    t.deleteByKeysMoR(Seq(u).toDF("url"))
    t.deleteWherePositional(col("lang") === "en")
    val deletes = spark.sql(s"SELECT * FROM graft.`${t.root}`.deletes")
    assert(deletes.columns.toSeq == Seq("path", "rows", "bytes", "commit_uuid"))
    val inv = deletes.collect()
    assert(inv.length == 2, "one blob per delete commit")
    assert(inv.map(_.getAs[Long]("rows")).sum == t.positionDeletes().map(_.rows).sum)
  }

  test("positional delete composes with equality tombstones and appends race through") {
    val t = freshTable(2000)
    // key delete on one url + DV on a predicate: both apply
    val u = t.read().select("url").orderBy(desc("url")).limit(1).collect()(0).getString(0)
    import spark.implicits._
    t.deleteByKeysMoR(Seq(u).toDF("url"))
    val preDv = t.read()
    val pred = col("lang") === "en"
    assert(t.deleteWherePositional(pred).nonEmpty)
    assertSameRows(t.read(), preDv.filter(!pred), "key delete + DV scan")
    // an append AFTER the DV commit races through (file immutability keeps
    // recorded positions valid) and its rows are untouched by the DV
    t.append(Synth.pages(spark, 300, seed = 7L))
    assert(t.read().count() == preDv.filter(!pred).count() + 300)
  }
}
