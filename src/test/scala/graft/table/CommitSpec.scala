package graft.table

import graft.SparkSuite
import graft.ops.Expire
import graft.run.Synth
import graft.streaming.GraftStreamSink

/**
 * The version-file protocol of [[Commit]]: a commit retires versions older
 * than the last [[Commit.RetainedVersions]], a writer whose slot was retired
 * under it retries instead of landing an unreachable version, and the
 * manifests a lost attempt wrote are collected as orphans.
 */
class CommitSpec extends SparkSuite {

  private val K = Commit.RetainedVersions

  /** `n` metadata-only commits, each bumping one property. */
  private def bump(t: GraftTable, n: Int): Unit = (1 to n).foreach { i =>
    t.commitMetadataUpdate(md => md.copy(properties = md.properties + ("bump" -> i.toString)))
  }

  private def manifestsOnDisk(root: String): Set[String] =
    FileIO.listFiles(s"$root/metadata", ".json").map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.startsWith("manifest-")).map("metadata/" + _).toSet

  test("a commit retires all but the last K versions; every front door still sees the table") {
    val root = tmpDir("graft-retain")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val first = t.append(Synth.pages(spark, 100, partitions = 1))
    t.append(Synth.pages(spark, 50, partitions = 1, seed = 7))
    bump(t, K + 20)
    val vs = Commit.versions(root)
    assert(vs.size <= K && vs.max == K + 23, s"kept ${vs.size} versions up to ${vs.max}")
    assert(!new java.io.File(s"$root/metadata/v1.json").exists, "v1 is retired")

    assert(t.readSnapshot(first.id).count() === 100, "time travel reads the first data snapshot")
    assert(GraftTable.exists(root))
    assert(GraftTable.load(spark, root).read().count() === 150)

    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$root` (x INT)").collect()
    intercept[IllegalArgumentException](spark.sql(s"CREATE TABLE graft.`$root` (x INT)").collect())
    val more = Synth.pages(spark, 10, partitions = 1, seed = 9)
    intercept[IllegalStateException](more.write.format("graft").save(root))
    more.write.format("graft").mode("append").save(root)
    new GraftStreamSink(spark, root, tmpDir("graft-retain-ckpt")).addBatch(0, more)
    assert(t.read().count() === 170, "the append and the stream batch land on the existing table")
    assert(t.schema.fieldNames.toSeq == Synth.pageSchema.fieldNames.toSeq)

    spark.sql(s"DROP TABLE graft.`$root`").collect()
    assert(!GraftTable.exists(root))
  }

  test("a writer whose next slot was retired under it retries and lands as the newest version") {
    val root = tmpDir("graft-stale-slot")
    val a = GraftTable.create(spark, root, Synth.pageSchema)
    val b = GraftTable.load(spark, root)
    var attempts = 0
    a.commitMetadataUpdate { md =>
      attempts += 1
      // B's last commit retires v2, the slot A read v1 to claim
      if (attempts == 1) bump(b, K + 1)
      md.copy(properties = md.properties + ("from-a" -> "yes"))
    }
    assert(attempts == 2, "the attempt that read v1 must lose, not claim a retired slot")
    assert(Commit.latest(root) == K + 3)
    val props = GraftTable.load(spark, root).state.metadata.properties
    assert(props.get("from-a").contains("yes") && props.get("bump").contains((K + 1).toString))
  }

  test("orphan GC collects the manifest of a lost append attempt and keeps every referenced one") {
    val root = tmpDir("graft-lost-manifest")
    val a = GraftTable.create(spark, root, Synth.pageSchema)
    a.append(Synth.pages(spark, 100, partitions = 1))
    val b = GraftTable.load(spark, root)
    val metas = a.state.writeDataFiles(Synth.pages(spark, 50, partitions = 1, seed = 7))
    var attempts = 0
    a.commitFull("append") { parent =>
      val mf = a.writeManifest(metas)
      attempts += 1
      if (attempts == 1) b.append(Synth.pages(spark, 20, partitions = 1, seed = 9))
      (parent.map(_.manifests).getOrElse(Seq.empty) :+ mf, parent.flatMap(_.posDeleteManifests), Map.empty)
    }
    assert(attempts == 2, "the second handle's append wins the first attempt's slot")
    val referenced = a.metadata.snapshots.flatMap(_.manifests.map(_.path)).toSet
    val leaked = manifestsOnDisk(root) -- referenced
    assert(leaked.size == 1, s"one manifest leaked: $leaked")
    val expected = a.read().localCheckpoint(true)
    assert(expected.count() === 170)

    assert(Expire.removeOrphans(a).isEmpty, "the grace window spares fresh manifests")
    val removed = Expire.removeOrphans(a, olderThanMs = -1000)
    assert(removed.map(p => "metadata/" + p.substring(p.lastIndexOf('/') + 1)).toSet == leaked)
    assert(manifestsOnDisk(root) == referenced, "every referenced manifest stays")
    assertSameRows(a.read(), expected, "read after orphan GC")
  }
}
