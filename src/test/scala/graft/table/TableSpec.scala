package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth

class TableSpec extends SparkSuite {

  test("create → append → read roundtrip with stats") {
    val root = tmpDir("graft-table")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val pages = Synth.pages(spark, nUrls = 2000, partitions = 8)
    val snap = t.append(pages)
    assert(snap.id == 1 && snap.operation == "append")
    assert(t.read().count() == 2000)
    val files = t.files()
    assert(files.nonEmpty && files.map(_.rows).sum == 2000)
    // every file carries url/lang/warc_ts bounds from parquet footers
    assert(files.forall(f => f.minValues.contains("url") && f.maxValues.contains("lang")
      && f.minValues.contains("warc_ts")))
    assert(files.forall(_.bytes > 0))
  }

  test("snapshot isolation across appends") {
    val root = tmpDir("graft-iso")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val s1 = t.append(Synth.pages(spark, 500, partitions = 2))
    val s2 = t.append(Synth.pages(spark, 500, partitions = 2, seed = 43))
    assert(t.readSnapshot(s1.id).count() == 500)
    assert(t.readSnapshot(s2.id).count() == 1000)
    assert(t.read().count() == 1000)
    assert(t.metadata.snapshot(s2.id).get.parentId.contains(s1.id))
  }

  test("optimistic commit: putIfAbsent CAS loses exactly one of two racers") {
    val root = tmpDir("graft-cas")
    FileIO.mkdirs(root)
    val a = FileIO.putIfAbsent(s"$root/v2.json", "winner")
    val b = FileIO.putIfAbsent(s"$root/v2.json", "loser")
    assert(a && !b)
    assert(FileIO.readString(s"$root/v2.json") == "winner")
  }

  test("metadata resolution costs O(1) FileIO ops regardless of history") {
    val root = tmpDir("graft-o1meta")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    (1 to 12).foreach(i => t.append(Synth.pages(spark, 20, partitions = 1, seed = i)))
    val before = FileIO.opCount.get()
    val v = t.currentVersion
    val ops = FileIO.opCount.get() - before
    assert(v === 13, s"12 appends after create → v13, got $v")
    assert(ops <= 1, s"currentVersion must be one FileIO call, used $ops")
  }

  test("as-of time travel ignores branches abandoned by rollback") {
    val root = tmpDir("graft-asof")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val s1 = t.append(Synth.pages(spark, 100, partitions = 1))
    Thread.sleep(5)
    val s2 = t.append(Synth.pages(spark, 100, partitions = 1, seed = 7))
    t.rollback(s1.id)
    // as-of "now" must resolve to the CURRENT chain's tip (s1), not the
    // abandoned s2 whose commit timestamp is later
    val now = System.currentTimeMillis() + 1000
    assert(t.snapshotAsOf(now).map(_.id).contains(s1.id))
    assert(t.readAsOf(now).count() === 100)
    // the abandoned snapshot stays readable by explicit id (redo = rollback)
    assert(t.readSnapshot(s2.id).count() === 200)
    // a post-rollback commit becomes the new as-of tip
    Thread.sleep(5)
    val s3 = t.append(Synth.pages(spark, 50, partitions = 1, seed = 8))
    assert(t.snapshotAsOf(System.currentTimeMillis() + 1000).map(_.id).contains(s3.id))
    // as-of BEFORE any commit on the current chain → no snapshot
    assert(t.snapshotAsOf(s1.timestampMs - 1).isEmpty)
  }

  test("file pruning: equality and range predicates prune by min/max") {
    val root = tmpDir("graft-prune")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    // write lang-sorted files so lang bounds are tight per file
    val pages = Synth.pages(spark, 4000, partitions = 8)
      .repartitionByRange(8, col("lang")).sortWithinPartitions("lang")
    t.append(pages)
    val all = t.files()
    val de = t.planFiles(Some(col("lang") === "de"))
    assert(de.size < all.size, s"lang=de should prune: ${de.size} vs ${all.size}")
    // correctness: pruned read returns exactly the filter result
    val viaTable = t.read(Some(col("lang") === "de"))
    val full = t.read().filter(col("lang") === "de")
    assertSameRows(viaTable, full, "pruned scan")
    // impossible predicate prunes everything
    assert(t.planFiles(Some(col("lang") === "zz-nope")).isEmpty)
    // unknown predicate shapes keep all files (sound)
    assert(t.planFiles(Some(length(col("text")) > 10)).size == all.size)
  }

  test("startsWith (rowkey-prefix analog) pruning is sound") {
    val root = tmpDir("graft-prefix")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val pages = Synth.pages(spark, 4000, partitions = 8)
      .repartitionByRange(8, col("url")).sortWithinPartitions("url")
    t.append(pages)
    val pred = col("url").startsWith("https://host-1.")
    val planned = t.planFiles(Some(pred))
    assert(planned.size < t.files().size)
    assertSameRows(t.read(Some(pred)), t.read().filter(pred), "prefix scan")
  }

  test("bloom-columns property writes parquet bloom filters; point lookups stay exact") {
    val root = tmpDir("graft-bloom")
    val t = GraftTable.create(spark, root, Synth.pageSchema,
      Map(GraftTable.BloomColumnsProp -> "url, nope_column"))
    t.append(Synth.pages(spark, 2000, partitions = 4))
    // every written file carries a bloom filter for url (and none for the
    // skipped unknown name) — read the footer column metadata directly
    for (f <- t.files()) {
      val cols = bloomFlags(t.absPath(f)).head
      assert(cols("url"), s"expected a bloom filter on url in ${f.path}")
      assert(!cols("lang"), "non-bloom columns must not pay the bloom size cost")
    }
    // point lookup and IN probe stay exact through the bloom read path
    val someUrl = t.read().select("url").orderBy("url").head().getString(0)
    assert(t.read().filter(col("url") === someUrl).count() === 1)
    assert(t.read().filter(col("url").isin(someUrl, "https://absent.example.com/")).count() === 1)
    assert(t.read().filter(col("url") === "https://absent.example.com/x").count() === 0)
  }
}
