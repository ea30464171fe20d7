package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.Expire
import graft.run.Synth

/**
 * Named snapshot refs (tags): stable names for snapshots, addressable from
 * SQL time travel and PINNED against snapshot expiry — the audit/release
 * label a 100 TB corpus needs ("the crawl we trained run X on") without
 * cloning a byte.
 */
class RefsSpec extends SparkSuite {

  private def batch(tag: String, n: Int) =
    Synth.pages(spark, n, hosts = 5, partitions = 2)
      .withColumn("url", concat(lit(s"$tag/"), col("url")))

  test("create/read/replace/drop tags; names validated") {
    val tbl = GraftTable.create(spark, tmpDir("refs"), Synth.pageSchema)
    val s1 = tbl.append(batch("a", 100)).id
    tbl.createTag("v1.0")                      // defaults to current snapshot
    val s2 = tbl.append(batch("b", 50)).id
    tbl.createTag("audit-2026_08", Some(s1))   // explicit older snapshot

    assert(tbl.refs.keySet == Set("v1.0", "audit-2026_08"))
    assert(tbl.refSnapshotId("v1.0") == s1)
    assert(tbl.readRef("v1.0").count() == 100)
    assert(tbl.read().count() == 150)

    // replace moves the pointer only with the explicit flag
    intercept[IllegalArgumentException](tbl.createTag("v1.0"))
    tbl.createTag("v1.0", Some(s2), replace = true)
    assert(tbl.refSnapshotId("v1.0") == s2)

    // invalid names and targets fail loudly
    intercept[IllegalArgumentException](tbl.createTag("42"))          // looks like a snapshot id
    intercept[IllegalArgumentException](tbl.createTag("has space"))
    intercept[IllegalArgumentException](tbl.createTag("x`y"))
    intercept[IllegalArgumentException](tbl.createTag("nope", Some(999L)))
    intercept[IllegalArgumentException](tbl.dropTag("missing"))
    tbl.dropTag("missing", ifExists = true) // no-op
    intercept[IllegalArgumentException](tbl.readRef("missing"))

    tbl.dropTag("v1.0")
    tbl.dropTag("audit-2026_08")
    assert(tbl.refs.isEmpty)
    // refs key absent again after the last drop → pre-refs JSON shape
    assert(tbl.metadata.refs.isEmpty)
  }

  test("a tag pins its snapshot and files through expiry; dropping unpins") {
    val tbl = GraftTable.create(spark, tmpDir("refs-pin"), Synth.pageSchema)
    tbl.append(batch("a", 120))
    // binary columns compare by reference in Row equality — fingerprint
    // every column through a hash projection instead
    def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(xxhash64(col("url"), col("warc_ts"), col("html"), col("text"), col("lang")))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSeq.sorted
    val taggedRows = fingerprint(tbl.read())
    tbl.createTag("release")
    val taggedId = tbl.refSnapshotId("release")

    // overwrite replaces every data file — without the tag, expiry would GC
    // the original snapshot and its files
    batch("b", 80).write.format("graft").mode("overwrite").save(tbl.root)
    val r1 = Expire.expire(tbl, retainLast = 1)
    assert(!r1.removedSnapshots.contains(taggedId), "tagged snapshot must survive expiry")
    assert(tbl.metadata.snapshot(taggedId).nonEmpty)

    // the pinned snapshot still reads byte-identically (files not GC'd)
    assert(fingerprint(tbl.readRef("release")) == taggedRows)
    assert(tbl.read().count() == 80)

    // dropping the tag releases the pin: the next expiry removes it and
    // the re-read fails (snapshot no longer retained)
    tbl.dropTag("release")
    val r2 = Expire.expire(tbl, retainLast = 1)
    assert(r2.removedSnapshots.contains(taggedId))
    assert(r2.deletedDataFiles.nonEmpty, "untagged snapshot's exclusive files are GC'd")
    intercept[Exception](tbl.readSnapshot(taggedId).collect())
  }

  test("branches: staged appends, isolation, fast-forward publish (WAP)") {
    val tbl = GraftTable.create(spark, tmpDir("refs-branch"), Synth.pageSchema)
    tbl.append(batch("base", 100))
    val mainSnap = tbl.currentSnapshot.get.id
    tbl.createBranch("staging")

    // two staged appends: the branch advances, main does not move
    val b1 = tbl.append(batch("s1", 30), toBranch = Some("staging"))
    val b2 = tbl.append(batch("s2", 20), toBranch = Some("staging"))
    assert(b2.parentId.contains(b1.id) && b1.parentId.contains(mainSnap))
    assert(tbl.currentSnapshot.get.id == mainSnap, "main pointer untouched by branch commits")
    assert(tbl.read().count() == 100, "main readers see none of the staged rows")
    assert(tbl.readRef("staging").count() == 150, "branch readers see base + staged")
    assert(tbl.refs("staging").snapshotId == b2.id)

    // audit passes → publish: main fast-forwards to the branch head
    tbl.fastForward("staging")
    assert(tbl.currentSnapshot.get.id == b2.id)
    assert(tbl.read().count() == 150)
    // a publish is CDC-transparent: incremental readers on main see the
    // staged commits as ordinary appends across the fast-forward
    assert(tbl.incrementalRead(mainSnap).count() == 50)
    // idempotent when already at head
    tbl.fastForward("staging")
    tbl.dropBranch("staging")

    // diverged main refuses the publish
    tbl.createBranch("late", Some(b1.id))
    intercept[IllegalArgumentException](tbl.fastForward("late"))
    // kind guards
    tbl.createTag("just-a-tag")
    intercept[IllegalArgumentException](tbl.fastForward("just-a-tag"))
    intercept[IllegalArgumentException](tbl.dropTag("late"))
    intercept[IllegalArgumentException](tbl.dropBranch("just-a-tag"))
    intercept[IllegalArgumentException](tbl.append(batch("x", 5), toBranch = Some("just-a-tag")))
    intercept[IllegalArgumentException](tbl.append(batch("x", 5), toBranch = Some("missing")))
    // schema evolution never lands on a branch
    intercept[IllegalArgumentException](tbl.commitFull(
      "rename-column", toBranch = Some("late"),
      schemaUpdate = Some(tbl.schema))(p => (p.get.manifests, None, Map.empty)))
  }

  test("VACUUM mid-staging keeps the whole staged chain publishable") {
    val tbl = GraftTable.create(spark, tmpDir("refs-branch-vac"), Synth.pageSchema)
    val old = tbl.append(batch("old", 10)).id
    tbl.append(batch("base", 90))
    tbl.createBranch("st")
    val c1 = tbl.append(batch("s1", 30), toBranch = Some("st")).id
    tbl.append(batch("s2", 20), toBranch = Some("st"))

    val r = Expire.expire(tbl, retainLast = 1)
    assert(r.removedSnapshots == Seq(old),
      s"only pre-branch main history expires (got ${r.removedSnapshots})")
    assert(tbl.metadata.snapshot(c1).nonEmpty,
      "intermediate staged commit pinned via the branch chain")

    tbl.fastForward("st") // the ancestry walk crosses c1 — must still work
    // expiring the `old` SNAPSHOT removes time travel to it, not its rows:
    // later snapshots' manifests still reference the files
    assert(tbl.read().count() == 150)
  }

  test("publish cherry-picks staged appends when main advanced mid-staging") {
    val tbl = GraftTable.create(spark, tmpDir("refs-cherry"), Synth.pageSchema)
    tbl.append(batch("base", 100))
    val base = tbl.currentSnapshot.get.id
    tbl.createBranch("wap")
    tbl.append(batch("s1", 30), toBranch = Some("wap"))
    tbl.append(batch("s2", 20), toBranch = Some("wap"))

    // main advances while the audit runs: an append AND a compaction
    // rewrite — the exact histories a pure fast-forward must refuse
    tbl.append(batch("m1", 40))
    spark.sql(s"OPTIMIZE graft.`${tbl.root}`").collect()
    val mainBefore = tbl.currentSnapshot.get.id
    intercept[IllegalArgumentException](tbl.fastForward("wap"))

    val isStaged = col("url").startsWith("s1/") || col("url").startsWith("s2/")
    val stagedPre = tbl.readRef("wap").where(isStaged) // branch-side images
    val md = tbl.publish("wap")
    val pub = tbl.currentSnapshot.get
    assert(pub.operation == "publish" && pub.parentId.contains(mainBefore))
    assert(tbl.read().count() == 190, "main + staged rows after cherry-pick")
    // every staged row lands byte-identical to its branch-side image
    val stagedPost = tbl.read().where(isStaged)
    assert(stagedPost.count() == 50)
    assert(stagedPost.exceptAll(stagedPre).isEmpty && stagedPre.exceptAll(stagedPost).isEmpty)
    // CDC: a tailing main consumer sees the publish as a plain 50-row insert
    assert(tbl.incrementalRead(mainBefore).count() == 50)
    val ch = tbl.changes(mainBefore)
    assert(ch.where(col(Changelog.ChangeTypeCol) === "insert").count() == 50)
    assert(ch.where(col(Changelog.ChangeTypeCol) =!= "insert").count() == 0)
    // the branch moved to the publish commit with a fresh divergence point,
    // so staging continues on the same branch and fast-forwards next time
    assert(md.refMap("wap") == RefMeta(pub.id, "branch", Some(pub.id)))
    tbl.append(batch("s3", 10), toBranch = Some("wap"))
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` PUBLISH BRANCH wap").collect()
    assert(tbl.read().count() == 200)

    // refusal: a restore past the base, followed by new main commits,
    // abandons the history staging built on (a bare restore keeps main an
    // ancestor of the branch head, so publish legitimately fast-forwards —
    // the refusal is for genuinely forked histories)
    tbl.createBranch("rb")
    tbl.append(batch("r1", 5), toBranch = Some("rb"))
    tbl.append(batch("m2", 5))
    tbl.rollback(base)
    tbl.append(batch("m3", 5)) // main forks off the abandoned history
    intercept[IllegalArgumentException](tbl.publish("rb"))
    tbl.dropBranch("rb")

    // refusal: schema evolution after the base poisons staged stats keys
    tbl.createBranch("ev")
    tbl.append(batch("e1", 5), toBranch = Some("ev"))
    tbl.append(batch("poison", 5)) // diverge main so publish needs the cherry-pick path
    tbl.renameColumn("lang", "language")
    intercept[IllegalArgumentException](tbl.publish("ev"))
  }

  test("a key delete on main mid-staging hides main's rows, never the published staged ones") {
    val tbl = GraftTable.create(spark, tmpDir("refs-cherry-ts"), Synth.pageSchema)
    tbl.append(batch("base", 50))
    tbl.createBranch("wap")
    val staged = batch("s1", 20)
    tbl.append(staged, toBranch = Some("wap"))
    // main diverges AND MoR-deletes 5 of the urls the branch staged plus 3
    // of its own — a delete removes the rows live on main when it commits
    // (sequence-number semantics), so the published staged rows stay
    tbl.append(batch("m1", 10))
    val victims = staged.select("url").limit(5).collect().map(_.getString(0)).toSeq
    val mainVictims = tbl.read().select("url").orderBy("url").limit(3)
      .collect().map(_.getString(0)).toSeq
    import spark.implicits._
    tbl.deleteByKeysMoR((victims ++ mainVictims).toDF("url"))
    tbl.publish("wap")
    assert(tbl.read().count() == 50 + 10 - 3 + 20)
    assert(tbl.read().where(col("url").isin(victims: _*)).count() == 5)
    assert(tbl.read().where(col("url").isin(mainVictims: _*)).count() == 0)
  }

  test("VACUUM mid-staging with an advanced main keeps cherry-pick publishable") {
    val tbl = GraftTable.create(spark, tmpDir("refs-cherry-vac"), Synth.pageSchema)
    val old = tbl.append(batch("old", 10)).id
    tbl.append(batch("base", 90)) // the divergence point
    tbl.createBranch("st")
    tbl.append(batch("s1", 30), toBranch = Some("st"))
    tbl.append(batch("s2", 20), toBranch = Some("st"))
    tbl.append(batch("m1", 40)) // main advances while the audit runs
    tbl.append(batch("m2", 15))

    // the publish ancestry walks need the staged chain, the base, AND
    // main's history back to the base — only pre-branch history may age out
    val r = Expire.expire(tbl, retainLast = 1)
    assert(r.removedSnapshots == Seq(old),
      s"only pre-base history expires (got ${r.removedSnapshots})")

    tbl.publish("st") // cherry-pick across the expired history
    assert(tbl.currentSnapshot.get.operation == "publish")
    assert(tbl.read().count() == 10 + 90 + 30 + 20 + 40 + 15)
  }

  test("dropping an unpublished branch releases its staged files to GC") {
    val tbl = GraftTable.create(spark, tmpDir("refs-branch-gc"), Synth.pageSchema)
    tbl.append(batch("base", 50))
    tbl.createBranch("abandoned")
    tbl.append(batch("s1", 30), toBranch = Some("abandoned"))
    tbl.dropBranch("abandoned")
    tbl.append(batch("m1", 10)) // newest id, so retainLast keeps main's head
    val r = Expire.expire(tbl, retainLast = 1)
    assert(r.deletedDataFiles.nonEmpty,
      "files referenced only by the abandoned staged commit are GC'd")
    assert(tbl.read().count() == 60, "main rows untouched by the reclamation")
  }

  test("branch head pins staged files through expiry; SQL branch DDL + publish") {
    val tbl = GraftTable.create(spark, tmpDir("refs-branch-sql"), Synth.pageSchema)
    tbl.append(batch("base", 80))
    val r = spark.sql(s"ALTER TABLE graft.`${tbl.root}` CREATE BRANCH audit").collect()
    assert(r.head.getString(0) == "audit")
    tbl.append(batch("staged", 40), toBranch = Some("audit"))

    // main-side churn that would GC unreferenced files: overwrite + vacuum.
    // NOTE main has advanced → the branch is no longer fast-forwardable,
    // but its staged state must survive expiry intact
    batch("v2", 60).write.format("graft").mode("overwrite").save(tbl.root)
    spark.sql(s"VACUUM graft.`${tbl.root}` RETAIN 1 SNAPSHOTS").collect()
    assert(spark.sql(s"SELECT * FROM graft.`${tbl.root}` VERSION AS OF 'audit'").count() == 120,
      "branch head (base+staged files) pinned through VACUUM")
    val refs = spark.sql(s"SELECT kind FROM graft.`${tbl.root}`.refs").collect()
    assert(refs.map(_.getString(0)).toSeq == Seq("branch"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft.`${tbl.root}` FAST FORWARD BRANCH audit").collect())
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP BRANCH audit").collect()

    // clean WAP round-trip through SQL on the new main
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` CREATE BRANCH wap").collect()
    tbl.append(batch("w", 25), toBranch = Some("wap"))
    val ff = spark.sql(s"ALTER TABLE graft.`${tbl.root}` FAST FORWARD BRANCH wap").collect()
    assert(ff.head.getLong(1) == tbl.currentSnapshot.get.id)
    assert(tbl.read().count() == 85)
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP BRANCH IF EXISTS wap").collect()
    assert(tbl.refs.isEmpty)
  }

  test("SQL surface: CREATE/DROP TAG, VERSION AS OF 'name', .refs, VACUUM pin") {
    val tbl = GraftTable.create(spark, tmpDir("refs-sql"), Synth.pageSchema)
    tbl.append(batch("a", 90))
    val s1 = tbl.currentSnapshot.get.id
    val created = spark.sql(s"ALTER TABLE graft.`${tbl.root}` CREATE TAG v1").collect()
    assert(created.head.getString(0) == "v1" && created.head.getLong(1) == s1)
    tbl.append(batch("b", 60))

    assert(spark.sql(s"SELECT * FROM graft.`${tbl.root}` VERSION AS OF 'v1'").count() == 90)
    assert(spark.sql(s"SELECT * FROM graft.`${tbl.root}` VERSION AS OF $s1").count() == 90)
    val refs = spark.sql(s"SELECT name, kind, snapshot_id FROM graft.`${tbl.root}`.refs").collect()
    assert(refs.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("v1", "tag", s1)))

    // CREATE OR REPLACE moves it; AS OF VERSION pins an explicit snapshot
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` CREATE OR REPLACE TAG v1 AS OF VERSION ${s1 + 1}")
    assert(tbl.refSnapshotId("v1") == s1 + 1)
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` CREATE TAG keep AS OF VERSION $s1")

    // VACUUM RETAIN 1 SNAPSHOTS keeps the tagged snapshot alive
    spark.sql(s"VACUUM graft.`${tbl.root}` RETAIN 1 SNAPSHOTS")
    assert(spark.sql(s"SELECT * FROM graft.`${tbl.root}` VERSION AS OF 'keep'").count() == 90)

    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP TAG IF EXISTS nothere")
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP TAG keep")
    assert(tbl.refs.keySet == Set("v1"))
    val err = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`${tbl.root}` VERSION AS OF 'keep'").collect())
    assert(err.getMessage.contains("unknown ref"))
  }
}
