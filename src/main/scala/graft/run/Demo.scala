package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Cluster, Compact, Expire, ManifestRewrite, Merge}
import graft.table.GraftTable

/**
 * End-to-end smoke driver for the engine's full maintenance lifecycle:
 * synth → append (many small files) → compact → z-order cluster → merge →
 * manifest rewrite → expire, asserting scan equality and pruning at each
 * step. Run: `sbt "runMain graft.run.Demo [nUrls] [dir]"`.
 */
object Demo {
  def main(args: Array[String]): Unit = {
    val nUrls = args.headOption.map(_.toLong).getOrElse(20000L)
    val root = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString + "/pages")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-demo")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def check(name: String)(ok: => Boolean): Unit = {
      val r = ok
      println(f"[demo] $name%-55s ${if (r) "OK" else "FAIL"}")
      if (!r) sys.exit(1)
    }

    println(s"[demo] table at $root")
    val t = GraftTable.create(spark, root, Synth.pageSchema)

    // 1. append as many small files (the small-file problem)
    val pages = Synth.pages(spark, nUrls, hosts = 200, partitions = 64)
    t.append(pages)
    val before = t.read()
    val beforeCount = before.count()
    val beforeTextHash = before.select(bit_xor(xxhash64(col("url"), col("text")))).first.getLong(0)
    println(s"[demo] appended $beforeCount rows in ${t.files().size} files")
    check("append row count")(beforeCount == nUrls)

    // 2. compact (targets scale with table size: ~16 compacted files,
    // ~32 clustered files regardless of nUrls)
    val tableBytes = t.files().map(_.bytes).sum
    val preSnap = t.currentSnapshot.get.id
    val c = Compact.run(t, targetBytes = math.max(256L * 1024, tableBytes / 16), orderBy = Some("url"))
    println(s"[demo] compacted → ${t.files().size} files (snapshot ${c.map(_.id)})")
    check("compact happened")(c.nonEmpty && t.files().size < 64)
    check("compact scan equality (count)")(t.read().count() == beforeCount)
    check("compact text identity (hash)")(
      t.read().select(bit_xor(xxhash64(col("url"), col("text")))).first.getLong(0) == beforeTextHash)
    check("old snapshot still readable")(t.readSnapshot(preSnap).count() == beforeCount)

    // 3. z-order cluster + pruning
    val cl = Cluster.zorderRewrite(t, Cluster.ZDims(),
      targetFileBytes = math.max(128L * 1024, tableBytes / 32),
      saltThresholdRows = nUrls / 4)
    val all = t.files().size
    val pruned = t.planFiles(Some(col("lang") === "de")).size
    println(s"[demo] clustered → $all files; lang=de plans $pruned")
    check("cluster commit")(cl.nonEmpty)
    check("cluster scan equality (count)")(t.read().count() == beforeCount)
    check("cluster text identity (hash)")(
      t.read().select(bit_xor(xxhash64(col("url"), col("text")))).first.getLong(0) == beforeTextHash)
    check("z-order pruning prunes")(all > 1 && pruned < all)
    check("pruned scan equality")(
      t.read(Some(col("lang") === "de")).count() ==
        t.read().filter(col("lang") === "de").count())

    // 4. merge: updates (newer version), inserts (new urls), deletes
    val preMerge = t.currentSnapshot.get.id
    val updates = Synth.pages(spark, nUrls / 10, versions = 2, hosts = 200, partitions = 4)
      .filter(col("url").isNotNull) // 2 versions: v1 rows are strictly newer
    val newerOnly = updates.withColumn("_v",
        row_number().over(org.apache.spark.sql.expressions.Window.partitionBy("url").orderBy(col("warc_ts").desc)))
      .filter(col("_v") === 1).drop("_v")
    val deletes = t.read().select("url", "warc_ts", "html", "text", "lang")
      .orderBy("url").limit(500).withColumn("_deleted", lit(true))
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1000 DAYS"))
    val source = newerOnly.withColumn("_deleted", lit(false)).unionByName(deletes)
    val m = Merge.into(t, source)
    val afterMerge = t.read().count()
    println(s"[demo] merged → snapshot ${m.id}, $afterMerge rows")
    check("merge row count plausible")(afterMerge < beforeCount + nUrls / 10 && afterMerge > 0)
    check("merge snapshot isolation")(t.readSnapshot(preMerge).count() == beforeCount)

    // 4b. merge-on-read key delete: deletion vectors hide rows with zero
    // file rewrites, then a full cluster rewrite materializes them away
    val dataFilesBeforeMor = t.files().map(_.path).toSet
    val morVictims = t.read().select("url").orderBy(desc("url")).limit(250)
    t.deleteByKeysMoR(morVictims)
    val afterMor = t.read().count()
    println(s"[demo] MoR-deleted 250 keys → $afterMor rows, " +
      s"${t.posDeleteRowCounts().size} files with DV entries")
    check("MoR key delete rewrites no data file")(t.files().map(_.path).toSet == dataFilesBeforeMor)
    check("MoR key delete hides rows")(afterMor == afterMerge - 250)
    Cluster.zorderRewrite(t, Cluster.ZDims(),
      targetFileBytes = math.max(128L * 1024, tableBytes / 32),
      saltThresholdRows = nUrls / 4, runId = "mor-materialize")
    check("cluster clears the key delete's DV entries")(t.positionDeletes().isEmpty &&
      t.read().count() == afterMor)
    val afterMorMat = afterMor

    // 4c. SQL front door over the same table: SELECT / UPDATE / DELETE
    val sqlCount = spark.sql(s"SELECT count(*) FROM graft.`$root`").first.getLong(0)
    check("SQL SELECT count equals read()")(sqlCount == afterMorMat)
    spark.sql(s"UPDATE graft.`$root` SET lang = 'xx' WHERE lang = 'de'").collect()
    val nXx = t.read().filter(col("lang") === "xx").count()
    check("SQL UPDATE rewrites matching rows only")(nXx > 0 &&
      t.read().filter(col("lang") === "de").count() == 0 &&
      t.read().count() == afterMorMat)
    spark.sql(s"DELETE FROM graft.`$root` WHERE lang = 'xx'").collect()
    val afterSql = t.read().count()
    println(s"[demo] SQL updated $nXx rows then deleted them → $afterSql rows")
    check("SQL DELETE removes exactly the updated rows")(afterSql == afterMorMat - nXx)

    // 4d. position deletes (deletion vectors): MoR delete + MoR update with
    // zero data-file rewrites, then a delete-pressure compaction clears them
    val dvFilesBefore = t.files().map(_.path).toSet
    val nFr = t.read().filter(col("lang") === "fr").count()
    t.deleteWherePositional(col("lang") === "fr")
    t.updateWherePositional(col("lang") === "it", Map("lang" -> lit("it-updated")))
    val nIt = t.read().filter(col("lang") === "it-updated").count()
    println(s"[demo] DV-deleted $nFr rows, DV-updated $nIt rows, " +
      s"${t.positionDeletes().size} DV blobs")
    check("DV delete+update rewrite no data file")(
      dvFilesBefore.subsetOf(t.files().map(_.path).toSet))
    check("DV delete hides rows; DV update keeps count")(
      t.read().count() == afterSql - nFr &&
        t.read().filter(col("lang") === "it").count() == 0)
    val preDvCompact = t.read().count()
    // DV compaction first: merge the accumulated per-commit DV blobs into
    // one (no data file touched, scan identical) — the steady-state maintenance
    // between delete-pressure materializations
    val dvFilesIn = t.positionDeletes().size
    val rdRes = t.rewriteDeleteFiles()
    check("DV rewrite merges DV blobs, scan unchanged")(
      dvFilesIn < 2 || (rdRes.nonEmpty && t.positionDeletes().size < dvFilesIn &&
        t.read().count() == preDvCompact &&
        dvFilesBefore.subsetOf(t.files().map(_.path).toSet)))
    // any nonzero DV coverage qualifies here (threshold ~0) so the pass
    // rewrites every covered file and clears the whole DV set
    Compact.run(t, targetBytes = math.max(256L * 1024, tableBytes / 16),
      runId = "dv-materialize", deleteRatioThreshold = 1e-9)
    check("compaction materializes position deletes")(
      t.positionDeletes().isEmpty && t.read().count() == preDvCompact)
    val afterDv = t.read().count()

    // 5. manifest rewrite (after two more appends → several small manifests)
    t.append(Synth.pages(spark, 100, partitions = 1, seed = 101))
    t.append(Synth.pages(spark, 100, partitions = 1, seed = 102))
    val afterAppends = afterDv + 200
    val manifestsBefore = t.currentSnapshot.get.manifests.size
    val mr = ManifestRewrite.run(t)
    check("manifest rewrite")(mr.nonEmpty && manifestsBefore > 1 &&
      t.currentSnapshot.get.manifests.size == 1)
    check("post-rewrite scan equality")(t.read().count() == afterAppends)
    val ex = Expire.expire(t, retainLast = 1)
    println(s"[demo] expired ${ex.removedSnapshots.size} snapshots, " +
      s"GC'd ${ex.deletedDataFiles.size} data files, ${ex.deletedManifests.size} manifests")
    check("expire removed snapshots")(ex.removedSnapshots.nonEmpty && ex.deletedDataFiles.nonEmpty)
    check("post-expire scan equality")(t.read().count() == afterAppends)

    // 5b. write-audit-publish: stage on a branch, let main advance, publish
    // via cherry-pick (fast-forward is impossible once main moved)
    t.createBranch("wap")
    t.append(Synth.pages(spark, 80, partitions = 1, seed = 103)
      .withColumn("url", concat(lit("staged/"), col("url"))), toBranch = Some("wap"))
    check("staged rows invisible on main")(t.read().count() == afterAppends)
    t.append(Synth.pages(spark, 60, partitions = 1, seed = 104)
      .withColumn("url", concat(lit("mainadv/"), col("url"))))
    val pubBase = t.currentSnapshot.get.id
    t.publish("wap")
    val afterPublish = afterAppends + 80 + 60
    println(s"[demo] published branch 'wap' onto advanced main → $afterPublish rows")
    check("publish cherry-picks staged rows onto advanced main")(
      t.currentSnapshot.get.operation == "publish" && t.read().count() == afterPublish)
    check("publish is append-shaped for incremental readers")(
      t.incrementalRead(pubBase).count() == 80)
    t.dropBranch("wap")

    // 6. schema evolution: metadata-only rename must keep bytes, stats and
    // incremental readers intact (field-id resolution + manifest remap)
    val preEvoHash = t.read()
      .select(bit_xor(xxhash64(col("url"), col("text")))).first.getLong(0)
    val preEvoSnap = t.currentSnapshot.get.id
    t.renameColumn("text", "content")
    check("rename keeps bytes (hash via new name)")(
      t.read().select(bit_xor(xxhash64(col("url"), col("content")))).first.getLong(0) == preEvoHash)
    check("rename remaps per-file stats")(
      t.files().forall(f => f.minValues.contains("content") && !f.minValues.contains("text")))
    check("SQL reads the renamed column")(
      spark.sql(s"SELECT count(*) FROM graft.`$root` WHERE content IS NOT NULL")
        .first.getLong(0) == afterPublish)
    check("vacated name is retired")(
      scala.util.Try(t.renameColumn("content", "text")).isFailure)
    check("rename is row-preserving for incremental readers")(
      t.incrementalRead(preEvoSnap).count() == 0)

    // 7. lineage/metrics table
    val metrics = Lineage.metrics(spark, t)
    metrics.groupBy("op").count().show()
    check("lineage rows exist")(metrics.count() > 0)

    println("[demo] ALL OK")
    spark.stop()
  }
}
