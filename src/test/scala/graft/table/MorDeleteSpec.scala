package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.SparkSuite
import graft.ops.{Cluster, Compact, Expire, Merge}
import graft.run.Synth

/**
 * Merge-on-read key deletes: `deleteByKeysMoR` records the live rows of the
 * keys as deletion vectors and rewrites NO data file; rows committed later
 * with a deleted key are visible (sequence-number semantics); every rewrite
 * clears the DV entries of the files it rewrites; GC tracks the DV blob
 * like a data file. A snapshot of the removed equality-delete format fails
 * loudly instead of reading as "no deletes". Test names that still read
 * true keep their ids: a "tombstone" there is a key delete's deleted rows.
 */
class MorDeleteSpec extends SparkSuite {

  private def mk(root: String, n: Long = 400): GraftTable = {
    val tbl = GraftTable.create(spark, root, Synth.pageSchema)
    tbl.append(Synth.pages(spark, n, hosts = 6, partitions = 4))
    tbl
  }

  test("tombstone delete hides keys without touching data files") {
    val tbl = mk(tmpDir("mor"))
    val before = tbl.files().map(_.path).toSet
    val preSnap = tbl.currentSnapshot.get.id
    val victims = tbl.read().select("url").orderBy("url").limit(25)

    val del = tbl.deleteByKeysMoR(victims)
    assert(del.exists(s => s.operation == "delete-pos" && s.summary.get("delete-key").contains("url") &&
      s.summary.get("position-deletes-added").contains("25")))
    assert(tbl.files().map(_.path).toSet === before, "no data file may be rewritten")
    assert(tbl.read().count() === 400 - 25)
    assert(tbl.read().join(victims, Seq("url"), "inner").count() === 0)
    // predicate reads apply the deletes too
    assert(tbl.read(Some(col("lang").isNotNull)).count() === 375)
    // snapshot isolation: pre-delete snapshot unaffected
    assert(tbl.readSnapshot(preSnap).count() === 400)
    // deleting the same keys again matches no live row: no commit
    assert(tbl.deleteByKeysMoR(victims).isEmpty)
    // sequence-number semantics: a re-appended deleted key is visible
    val delSnap = tbl.currentSnapshot.get.id
    val resurrect = tbl.readSnapshot(preSnap).join(victims, Seq("url"), "inner").limit(5)
    tbl.append(resurrect)
    assert(tbl.read().count() === 380)
    // incremental read agrees with read(): the re-appended rows are delivered
    assert(tbl.incrementalRead(delSnap).count() === 5)
  }

  test("overwrite replaces every file, so it clears tombstones") {
    val tbl = mk(tmpDir("mor-overwrite"))
    val victims = tbl.read().select("url").orderBy("url").limit(10)
    tbl.deleteByKeysMoR(victims)
    // fresh data re-using every deleted url must be fully visible afterwards
    val first = tbl.readSnapshot(tbl.metadata.snapshots.head.id)
    val fresh = first.join(victims, Seq("url"), "inner")
      .unionByName(first.join(victims, Seq("url"), "left_anti").limit(40))
    fresh.write.format("graft").mode("overwrite").save(tbl.root)
    assert(tbl.positionDeletes().isEmpty, "overwrite replaces every file and its DV entries")
    assert(tbl.read().count() === 50)
    assert(tbl.read().join(victims, Seq("url"), "inner").count() === 10)
    assert(spark.read.format("graft").load(tbl.root).count() === 50)
  }

  test("PARTIAL compaction applies tombstones to rewritten files and keeps them") {
    val tbl = mk(tmpDir("mor-compact"))
    // one file too big to be a compaction candidate → the pass is partial
    tbl.append(Synth.pages(spark, 4000, hosts = 6, partitions = 1, seed = 7))
    val big = tbl.files().maxBy(_.bytes)
    // victims in the small files and in the big one
    val victims = tbl.read().select("url").orderBy("url").limit(10)
      .unionByName(spark.read.parquet(tbl.absPath(big)).select("url").orderBy("url").limit(10))
      .localCheckpoint(true)
    tbl.deleteByKeysMoR(victims)
    val deleted = 4400 - tbl.read().count()
    assert(tbl.posDeleteRowCounts().contains(big.path))
    Compact.run(tbl, targetBytes = big.bytes) // threshold 0.75*big excludes the big file
    assert(tbl.files().map(_.bytes).max === big.bytes, "big file must not be rewritten")
    assert(tbl.posDeleteRowCounts().keySet === Set(big.path),
      "only the untouched big file keeps its DV entries")
    assert(tbl.read().count() === 4400 - deleted)
    assert(tbl.read().join(victims, Seq("url"), "inner").count() === 0)
  }

  test("FULL-COVERAGE compaction materializes and clears tombstones; merge unblocked") {
    val tbl = mk(tmpDir("mor-compact-all"))
    val victims = tbl.read().select("url").orderBy("url").limit(20)
    tbl.deleteByKeysMoR(victims)
    val from = tbl.currentSnapshot.get.id
    val snap = Compact.run(tbl, targetBytes = 1L << 30)
    assert(snap.nonEmpty, "compact-all bins the small files")
    assert(tbl.positionDeletes().isEmpty, "rewriting every file clears every DV entry")
    assert(snap.get.summary.get("materialized-position-deletes").contains("20"))
    assert(tbl.read().count() === 380)
    // physically gone: raw file scan (no DV filter) agrees
    assert(spark.read.schema(tbl.schema).parquet(tbl.files().map(tbl.absPath): _*)
      .count() === 380)
    // applying already-committed deletes changes no visible row
    assert(tbl.incrementalRead(from).count() === 0)
    val changes = tbl.read().limit(5).withColumn("text", lit("merged"))
    Merge.into(tbl, changes)
    assert(tbl.read().filter(col("text") === "merged").count() === 5)
  }

  test("a singleton file is compaction work only once its key deletes reach the delete-pressure threshold") {
    val root = tmpDir("mor-compact-one")
    val tbl = GraftTable.create(spark, root, Synth.pageSchema)
    tbl.append(Synth.pages(spark, 100, hosts = 4, partitions = 1)) // ONE file
    val urls = tbl.read().select("url").orderBy("url").limit(15).localCheckpoint(true)
    tbl.deleteByKeysMoR(urls.limit(5))
    assert(Compact.run(tbl, targetBytes = 1L << 30).isEmpty, "5% deleted is below the threshold")
    assert(tbl.read().count() === 95)
    tbl.deleteByKeysMoR(urls)
    val snap = Compact.run(tbl, targetBytes = 1L << 30)
    assert(snap.nonEmpty, "15% deleted makes the singleton delete-pressured")
    assert(tbl.positionDeletes().isEmpty)
    assert(tbl.read().count() === 85)
    // without deletes the same singleton plan stays a no-op
    assert(Compact.run(tbl, targetBytes = 1L << 30).isEmpty)
  }

  test("full cluster rewrite materializes and clears tombstones") {
    val tbl = mk(tmpDir("mor-cluster"))
    val victims = tbl.read().select("url").orderBy("url").limit(30)
    tbl.deleteByKeysMoR(victims)
    Cluster.zorderRewrite(tbl, Cluster.ZDims(), targetFileBytes = 1L << 20)
    assert(tbl.positionDeletes().isEmpty, "full rewrite must clear the DV entries")
    assert(tbl.read().count() === 370)
    // physically gone: raw file scan (no DV filter) agrees
    val raw = spark.read.schema(tbl.schema).parquet(tbl.files().map(tbl.absPath): _*)
    assert(raw.count() === 370)
    // keys of the rewritten files are deletable again
    tbl.deleteByKeysMoR(tbl.read().select("url").limit(1))
    assert(tbl.read().count() === 369)
  }

  test("incremental read across a cluster rewrite delivers keys re-appended after their delete") {
    // a key deleted before `from` and re-appended inside the range is live
    // at `to`, so the file-level diff returns it exactly as read() shows it
    val tbl = mk(tmpDir("mor-incr-mat"))
    val victims = tbl.read().select("url").orderBy("url").limit(5)
    tbl.deleteByKeysMoR(victims)
    val from = tbl.currentSnapshot.get.id
    val resurrect = tbl.readSnapshot(tbl.metadata.snapshots.head.id)
      .join(victims, Seq("url"), "inner").limit(3)
    tbl.append(resurrect)
    Cluster.zorderRewrite(tbl, Cluster.ZDims(), targetFileBytes = 1L << 20)
    assert(tbl.incrementalRead(from).count() === 3)
    assert(tbl.read().join(victims, Seq("url"), "inner").count() === 3)
    // a cluster rewrite with no deletes stays row-preserving too
    val tbl2 = mk(tmpDir("mor-incr-clean"))
    val from2 = tbl2.currentSnapshot.get.id
    tbl2.append(Synth.pages(spark, 50, hosts = 6, partitions = 1, seed = 9))
    Cluster.zorderRewrite(tbl2, Cluster.ZDims(), targetFileBytes = 1L << 20)
    assert(tbl2.incrementalRead(from2).count() === 50)
  }

  test("MERGE, updateWhere, rename and widen run after a key delete; the raw relation refuses") {
    val tbl = mk(tmpDir("mor-merge"))
    val victims = tbl.read().select("url").orderBy("url").limit(3).localCheckpoint(true)
    val base = tbl.read().localCheckpoint(true)
    tbl.deleteByKeysMoR(victims)
    assert(intercept[IllegalArgumentException](
      spark.read.format("graft").load(tbl.root).count())
      .getMessage.contains("deletion vectors"))
    def hidden(): Long = tbl.read().join(victims, Seq("url"), "inner").count()

    val live = base.join(victims, Seq("url"), "left_anti").orderBy("url")
    Merge.into(tbl, live.limit(5).withColumn("text", lit("cow")))
    Merge.into(tbl, live.offset(5).limit(5).withColumn("text", lit("mor")),
      mode = "merge-on-read")
    assert(tbl.read().filter(col("text") === "cow").count() === 5)
    assert(tbl.read().filter(col("text") === "mor").count() === 5)
    Merge.updateWhere(tbl, col("lang") === "en", Map("text" -> lit("upd")))
    assert(tbl.read().filter(col("text") === "upd").count() ===
      base.join(victims, Seq("url"), "left_anti").filter(col("lang") === "en").count())
    tbl.renameColumn("text", "content")
    assert(tbl.schema.fieldNames.contains("content"))
    assert(hidden() === 0 && tbl.read().count() === 397, "deleted rows stay hidden")
    tbl.addColumn(StructField("n", IntegerType))
    tbl.widenColumn("n", LongType)
    tbl.dropColumn("n")
    assert(hidden() === 0 && tbl.read().count() === 397, "deleted rows stay hidden")
    // a MERGE inserting a deleted key makes it visible again
    Merge.into(tbl, base.join(victims, Seq("url"), "inner").withColumnRenamed("text", "content"))
    assert(hidden() === 3 && tbl.read().count() === 400)

    val t2 = GraftTable.create(spark, tmpDir("mor-widen"),
      StructType(Seq(StructField("k", LongType, nullable = false), StructField("n", IntegerType))))
    import spark.implicits._
    t2.append((1 to 50).map(i => (i.toLong, i)).toDF("k", "n").coalesce(2))
    t2.deleteByKeysMoR(Seq(3L, 7L).toDF("k"))
    t2.widenColumn("n", LongType)
    assert(t2.read().count() === 48 && t2.read().filter(col("k").isin(3L, 7L)).count() === 0)
    assert(t2.read().agg(sum("n")).head().getLong(0) === (1 to 50).sum - 10)
  }

  test("expire GCs tombstone files of dropped snapshots") {
    val tbl = mk(tmpDir("mor-expire"), n = 200)
    tbl.deleteByKeysMoR(tbl.read().select("url").limit(10))
    val blob = tbl.positionDeletes().head
    Cluster.zorderRewrite(tbl, Cluster.ZDims(), targetFileBytes = 1L << 30) // clears
    val res = Expire.expire(tbl, retainLast = 1)
    assert(res.removedSnapshots.nonEmpty)
    assert(res.deletedDataFiles.contains(blob.path),
      "the DV blob must be GC'd once no retained snapshot references it")
    assert(!FileIO.exists(tbl.absPath(blob)))
    assert(tbl.read().count() === 190)
  }

  test("a snapshot listing equality-delete manifests fails planning, reading, compaction and expiry") {
    val tbl = mk(tmpDir("mor-legacy"), n = 100)
    val metaDir = s"${tbl.root}/metadata"
    val v = tbl.currentVersion
    val json = FileIO.readString(s"$metaDir/v$v.json")
    assert(!json.contains("deleteManifests"), "no snapshot writes the removed field")
    // a delete-mor commit of the removed format, as its writer laid it out
    val md = MetaJson.readTableMetadata(json)
    val cur = md.currentSnapshot.get
    val id = cur.id + 1
    val legacy = s"""{"id":$id,"parentId":${cur.id},"timestampMs":${cur.timestampMs + 1},""" +
      s""""operation":"delete-mor","manifests":${MetaJson.write(cur.manifests)},""" +
      """"summary":{"delete-key":"url","tombstones-added":"5"},""" +
      """"deleteManifests":[{"path":"metadata/manifest-tombstones.json","fileCount":1,"rows":5,"bytes":512}]}"""
    val snaps = MetaJson.write(md.snapshots)
    FileIO.writeString(s"$metaDir/v${v + 1}.json",
      MetaJson.write(md.copy(currentSnapshotId = Some(id), lastSnapshotId = id))
        .replace(snaps, snaps.dropRight(1) + "," + legacy + "]"))
    assert(tbl.currentSnapshot.get.operation == "delete-mor")

    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("equality-delete"), s"$what: ${e.getMessage}")
    }
    refused("planning")(tbl.planFiles(Some(col("lang") === "en")))
    refused("reading")(tbl.read().count())
    refused("SQL reading")(spark.sql(s"SELECT count(*) FROM graft.`${tbl.root}`").collect())
    refused("compaction planning")(Compact.plan(tbl, 1L << 30))
    refused("expiry")(Expire.expire(tbl, retainLast = 1))
    refused("a commit on top")(tbl.append(Synth.pages(spark, 10, partitions = 1)))
    // the snapshot before it is still readable, and a rollback recovers
    assert(tbl.readSnapshot(cur.id).count() === 100)
    tbl.rollback(cur.id)
    assert(tbl.read().count() === 100)
  }
}
