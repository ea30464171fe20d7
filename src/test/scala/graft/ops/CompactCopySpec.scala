package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftRelation
import org.apache.spark.sql.types.{StringType, StructField}

import graft.SparkSuite
import graft.run.{Maintenance, Synth}
import graft.table.{DataFileMeta, FileIO, GraftTable, PartitionSpec}

/** Compaction by row-group copy: a bin whose rows need no change is
  * concatenated without decoding, all such bins in one Spark job; every
  * other bin keeps the Spark read → apply deletes → write path. The output's
  * row-group count shows which path ran: a copy keeps the sum of its
  * inputs' row groups, the Spark path writes one. */
class CompactCopySpec extends SparkSuite {

  private val Big = 128L << 20 // one bin per partition dir

  private def rowGroups(t: GraftTable, f: DataFileMeta): Int = footer(t.absPath(f)).getBlocks.size

  private def rowMeta(t: GraftTable, f: DataFileMeta): String =
    footer(t.absPath(f)).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")

  private def compacted(t: GraftTable): Seq[DataFileMeta] =
    t.files().filter(_.commitUuid.startsWith("compact-"))

  private def pagesTable(name: String, files: Int, props: Map[String, String] = Map.empty) = {
    val t = GraftTable.create(spark, tmpDir(name), Synth.pageSchema, props)
    t.append(Synth.pages(spark, files * 250L, partitions = files))
    t
  }

  /** Each bin's output holds the sum of its inputs' row groups. */
  private def assertCopied(t: GraftTable, plan: Compact.Plan, runId: String): Unit =
    for ((g, i) <- plan.groups.zipWithIndex) {
      val outs = compacted(t).filter(_.commitUuid == s"compact-$runId-g$i")
      assert(outs.size == 1, s"bin $i: one output")
      assert(rowGroups(t, outs.head) == g.map(rowGroups(t, _)).sum, s"bin $i was not copied")
    }

  test("a copied bin equals a Spark-path compaction of the same plan") {
    val t = pagesTable("graft-copy-eq", 6)
    val p = Compact.plan(t, Big, Some("url")).get
    val group = p.groups.head
    val copy = Compact.copyBins(t, "eq", p, Seq(0 -> group))
    assert(copy.keySet == Set(0), "the clean bin must be copied")
    val spark1 = Compact.rewriteBin(t, group, "compact-eq-spark")
    assert(spark1.size == 1)
    val (c, r) = (copy(0), spark1.head)
    assert(c.rows == r.rows && c.minValues == r.minValues && c.maxValues == r.maxValues &&
      c.nullCounts == r.nullCounts, s"metas differ:\n$c\n$r")
    assert(rowGroups(t, c) == group.size && rowGroups(t, r) == 1)
    assertSameRows(spark.read.parquet(t.absPath(c)), spark.read.parquet(t.absPath(r)), "copy vs rewrite")
    assert(rowMeta(t, c) == rowMeta(t, group.head), "the copy keeps the inputs' Spark row metadata")
    assert(rowMeta(t, c) == rowMeta(t, r))
  }

  test("bins with DV rows take the Spark path; clean bins of the same run are copied") {
    val t = pagesTable("graft-copy-dv", 8)
    val target = (t.files().map(_.bytes).max * 4.5).toLong
    val p = Compact.plan(t, target, Some("url")).get
    assert(p.groups.size >= 2)
    val dvFile = p.groups.head.head
    val victim = spark.read.parquet(t.absPath(dvFile)).select("url").head().getString(0)
    t.deleteWherePositional(col("url") === victim)
    val expected = t.read().localCheckpoint(true)
    Compact.run(t, target, "dv", Some("url"))
    for ((g, i) <- p.groups.zipWithIndex) {
      val out = compacted(t).filter(_.commitUuid == s"compact-dv-g$i").head
      val want = if (i == 0) 1 else g.map(rowGroups(t, _)).sum
      assert(rowGroups(t, out) == want, s"bin $i")
    }
    assertSameRows(t.read(), expected, "DV bin")
    assert(t.read().filter(col("url") === victim).count() == 0)
  }

  test("a key delete sends only the bin holding the deleted row down the Spark path") {
    val t = pagesTable("graft-copy-key", 6)
    val victim = t.read().select("url").orderBy("url").head().getString(0)
    t.deleteByKeysMoR(spark.createDataFrame(Seq(Tuple1(victim))).toDF("url"))
    val hit = t.posDeleteRowCounts().keySet
    assert(hit.size == 1, "the key delete records positions in one file")
    val expected = t.read().localCheckpoint(true)
    val target = (t.files().map(_.bytes).max * 2.5).toLong
    val p = Compact.plan(t, target, Some("url")).get
    assert(p.groups.size >= 2)
    Compact.run(t, target, "key", Some("url"))
    for ((g, i) <- p.groups.zipWithIndex) {
      val out = compacted(t).filter(_.commitUuid == s"compact-key-g$i").head
      val want = if (g.exists(f => hit.contains(f.path))) 1 else g.map(rowGroups(t, _)).sum
      assert(rowGroups(t, out) == want, s"bin $i")
    }
    assert(t.positionDeletes().isEmpty)
    assertSameRows(t.read(), expected, "key-deleted")
  }

  test("a bin with an added column takes the Spark path") {
    val t = pagesTable("graft-copy-add", 3)
    t.addColumn(StructField("note", StringType, nullable = true))
    t.append(Synth.pages(spark, 750, partitions = 3, seed = 7)
      .withColumn("url", concat(col("url"), lit("?v2"))).withColumn("note", lit("n")))
    val expected = t.read().localCheckpoint(true)
    Compact.run(t, Big, "add", Some("url"))
    assert(compacted(t).size == 1 && rowGroups(t, compacted(t).head) == 1)
    assertSameRows(t.read(), expected, "added column")
  }

  test("a bin with a renamed column takes the Spark path") {
    val t = pagesTable("graft-copy-rename", 4)
    t.renameColumn("lang", "language")
    val expected = t.read().localCheckpoint(true)
    Compact.run(t, Big, "rename", Some("url"))
    assert(compacted(t).size == 1 && rowGroups(t, compacted(t).head) == 1)
    assertSameRows(t.read(), expected, "renamed column")
  }

  test("pre-spec files of a partitioned table take the Spark path into the spec's dirs") {
    val t = pagesTable("graft-copy-prespec", 4)
    t.setPartitionSpec(Some("bucket(4, url)"))
    val expected = t.read().localCheckpoint(true)
    Compact.run(t, Big, "prespec", Some("url"))
    val outs = compacted(t)
    assert(outs.nonEmpty && outs.forall(f => f.path.contains("/gp_bucket_4_url=") && rowGroups(t, f) == 1))
    assertSameRows(t.read(), expected, "pre-spec")
  }

  test("a bin whose codec or bloom columns differ from today's write takes the Spark path") {
    val codecKey = "spark.sql.parquet.compression.codec"
    val t = pagesTable("graft-copy-layout", 4)
    val prev = spark.conf.getOption(codecKey)
    spark.conf.set(codecKey, "zstd")
    try Compact.run(t, Big, "codec", Some("url"))
    finally prev.fold(spark.conf.unset(codecKey))(spark.conf.set(codecKey, _))
    assert(compacted(t).size == 1 && rowGroups(t, compacted(t).head) == 1, "codec change")

    val b = pagesTable("graft-copy-bloomprop", 4)
    b.commitMetadataUpdate(md =>
      md.copy(properties = md.properties + (GraftTable.BloomColumnsProp -> "url")))
    Compact.run(b, Big, "bloomprop", Some("url"))
    assert(compacted(b).size == 1 && rowGroups(b, compacted(b).head) == 1, "bloom-columns change")
  }

  test("a bloom-columns table keeps its bloom filters through the copy") {
    val t = pagesTable("graft-copy-bloom", 4, Map(GraftTable.BloomColumnsProp -> "url"))
    val p = Compact.plan(t, Big, Some("url")).get
    Compact.run(t, Big, "bloom", Some("url"))
    assertCopied(t, p, "bloom")
    for (f <- compacted(t); cols <- bloomFlags(t.absPath(f))) {
      assert(cols("url"), s"expected a bloom filter on url in ${f.path}")
      assert(!cols("lang"), "non-bloom columns must not pay the bloom size cost")
    }
    val someUrl = t.read().select("url").orderBy("url").head().getString(0)
    assert(t.read().filter(col("url") === someUrl).count() == 1)
  }

  test("copied files of a bucket(8, k) table keep bucket-stamped names and the bucketed scan") {
    val t = GraftTable.create(spark, tmpDir("graft-copy-bucket"), Synth.pageSchema,
      Map(PartitionSpec.Property -> "bucket(8, url)"))
    t.append(Synth.pages(spark, 1200, partitions = 2))
    t.append(Synth.pages(spark, 1200, partitions = 2, seed = 9)
      .withColumn("url", concat(col("url"), lit("?b"))))
    assert(t.bucketSpec().isDefined)
    val expected = t.read().localCheckpoint(true)
    val p = Compact.plan(t, Big, Some("url")).get
    assert(p.groups.size == 8)
    Compact.run(t, Big, "bucket", Some("url"))
    assertCopied(t, p, "bucket")
    val sp = t.partitionSpec.get
    for (f <- compacted(t)) {
      val name = f.path.substring(f.path.lastIndexOf('/') + 1)
      assert(GraftRelation.bucketIdOf(name) == sp.dirValue(f.path).map(_.toInt), s"unstamped ${f.path}")
    }
    assert(t.bucketSpec().isDefined, "copied bucket files must keep the bucketed scan")
    assertSameRows(t.read(), expected, "bucketed")
  }

  test("resume: a copy staged but not committed commits once on rerun, with no duplicates") {
    val t = pagesTable("graft-copy-resume", 6)
    val target = (t.files().map(_.bytes).max * 2.5).toLong
    val n = t.read().count()
    val v0 = t.currentVersion
    val p = Compact.plan(t, target, Some("url")).get
    Compact.run(t, target, "resume", Some("url"))
    val staged = compacted(t).map(_.path).toSet
    // crash before commit: drop the commit's metadata version and its marker
    FileIO.delete(s"${t.root}/metadata/v${t.currentVersion}.json")
    Maintenance.save(t, Maintenance.load(t, "resume").get.copy(committedSnapshotId = None))
    assert(t.currentVersion == v0 && compacted(t).isEmpty)
    Compact.run(t, target, "resume", Some("url"))
    assert(t.currentVersion == v0 + 1, "one commit")
    assert(compacted(t).map(_.path).toSet == staged, "the rerun commits the staged copies")
    assertCopied(t, p, "resume")
    assert(t.read().count() == n && t.read().select("url").distinct().count() == n)
  }

  test("a bin dir left by a failed attempt is never committed") {
    val t = pagesTable("graft-copy-stale", 4)
    val n = t.read().count()
    val src = t.files().head
    // a failed earlier attempt of bin 0: a complete-looking file plus _SUCCESS,
    // but no done step in the run's log
    val dir = s"${t.dataDir}/compact-stale-g0"
    FileIO.mkdirs(dir)
    java.nio.file.Files.copy(java.nio.file.Paths.get(t.absPath(src)),
      java.nio.file.Paths.get(s"$dir/part-00000-stale.c000.snappy.parquet"))
    FileIO.writeString(s"$dir/_SUCCESS", "")
    Compact.run(t, Big, "stale", Some("url"))
    assert(compacted(t).size == 1 && !compacted(t).head.path.contains("stale.c000"))
    assert(FileIO.listFilesRecursively(dir, ".parquet") ==
      Seq(s"$dir/part-00000-compact-stale-g0.c000.snappy.parquet"), "one data file, named by the bin")
    assert(t.read().count() == n && t.read().select("url").distinct().count() == n)
  }

  test("a table root not in normal form (trailing or doubled slash) commits its copies") {
    val (d1, d2) = (tmpDir("graft-copy-root-trailing"), tmpDir("graft-copy-root-doubled"))
    for ((form, root) <- Seq("trailing" -> s"$d1/", "doubled" -> d2.patch(d2.lastIndexOf('/'), "/", 0))) {
      val t = GraftTable.create(spark, root, Synth.pageSchema)
      t.append(Synth.pages(spark, 1000, partitions = 4))
      val n = t.read().count()
      val p = Compact.plan(t, Big, Some("url")).get
      Compact.run(t, Big, form, Some("url"))
      assertCopied(t, p, form)
      for (f <- t.files()) {
        assert(f.path.startsWith("data/"), s"$form: ${f.path}")
        assert(FileIO.exists(t.absPath(f)), s"$form: committed file missing: ${f.path}")
      }
      assert(t.read().count() == n && t.read().select("url").distinct().count() == n, form)
    }
  }

  /** (jobs, tasks) started while `body` runs. */
  private def jobsAndTasks(body: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, tasks.get)
  }

  for (bins <- Seq(2, 9)) test(s"all $bins copied bins run as exactly one Spark job") {
    val t = pagesTable(s"graft-copy-jobs$bins", bins * 2)
    val target = (t.files().map(_.bytes).max * 2.2).toLong
    val p = Compact.plan(t, target, Some("url")).get
    assert(p.groups.size == bins && p.groups.forall(_.size == 2))
    val (jobs, tasks) = jobsAndTasks(Compact.run(t, target, s"jobs$bins", Some("url")))
    assert(jobs == 1, s"$jobs jobs")
    assert(tasks == bins, s"$tasks tasks")
    assertCopied(t, p, s"jobs$bins")
  }
}
