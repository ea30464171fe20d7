package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.{Lineage, Synth}
import graft.table.GraftTable

class CompactSpec extends SparkSuite {

  test("compaction: scan equality, text identity, old snapshot, lineage") {
    val root = tmpDir("graft-compact")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 10000, partitions = 40))
    val pre = t.read()
    val preCount = pre.count()
    val preSnap = t.currentSnapshot.get.id
    val preFiles = t.files().size

    val snap = Compact.run(t, targetBytes = 1024 * 1024, orderBy = Some("url"))
    assert(snap.nonEmpty)
    assert(t.files().size < preFiles)
    // (a) full scan row-set equality
    assertSameRows(t.read(), pre, "compact full scan")
    // (b) predicate scan equality
    assertSameRows(
      t.read(Some(col("lang") === "en")),
      pre.filter(col("lang") === "en"), "compact predicate scan")
    // (c) text byte-identity per url (reconstruct expected text)
    val mismatch = t.read()
      .withColumn("_v", regexp_extract(col("url"), "/p/(\\d+)$", 1)) // version 0 here
      .filter(col("text") =!= Synth.textExpr(col("url"), lit(0)))
      .count()
    assert(mismatch == 0, "text must be byte-identical to its generator definition")
    // (d) old snapshot readable
    assert(t.readSnapshot(preSnap).count() == preCount)
    // (e) lineage rows: every output file accounted, with its source files
    val lin = Lineage.metrics(spark, t).filter(col("op") === "compact" && col("out_path") =!= "")
    val compactOutputs = t.files().count(_.commitUuid.startsWith("compact-"))
    assert(lin.count() == compactOutputs)
    assert(lin.filter(size(col("source_files")) < 2).count() == 0)
  }

  test("compaction resume: completed groups are reused, commit is single") {
    val root = tmpDir("graft-resume")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 4000, partitions = 16))
    val runId = "resume-test"
    // simulate a crashed run: execute fully, then roll the step log back to
    // pretend the process died before commit
    val plan = Compact.plan(t, 1024 * 1024, Some("url")).get
    val snap1 = Compact.run(t, 1024 * 1024, runId, Some("url"))
    assert(snap1.nonEmpty)
    // rerunning the same runId after commit returns the committed snapshot
    val snap2 = Compact.run(t, 1024 * 1024, runId, Some("url"))
    assert(snap2.map(_.id) == snap1.map(_.id), "idempotent rerun after commit")
    assert(t.currentSnapshot.get.id == snap1.get.id)
    val _ = plan
  }
}

class ClusterSpec extends SparkSuite {

  test("z-order rewrite: pruning drops planned files, rows identical") {
    val root = tmpDir("graft-cluster")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 20000, hosts = 100, partitions = 16))
    val pre = t.read()
    val snap = Cluster.zorderRewrite(t, Cluster.ZDims(), targetFileBytes = 128L * 1024,
      saltThresholdRows = 1000000L)
    assert(snap.nonEmpty)
    val all = t.files().size
    assert(all > 4, s"need several files to show pruning, got $all")

    for (pred <- Seq(
        col("lang") === "de",
        // note: a *tail* host — the Zipf-heavy host-1 is legitimately present
        // in most files, so only rare hosts demonstrate prefix pruning
        col("url").startsWith("https://host-9"),
        col("warc_ts") < lit(java.sql.Timestamp.valueOf("2025-01-05 00:00:00")))) {
      val planned = t.planFiles(Some(pred)).size
      assert(planned < all, s"$pred should prune: $planned vs $all")
      assertSameRows(t.read(Some(pred)), pre.filter(pred), s"pred $pred")
    }
    assertSameRows(t.read(), pre, "cluster full scan")
  }

  test("incremental clustering rewrites only unclustered files") {
    val root = tmpDir("graft-incr")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 8000, partitions = 8))
    Cluster.zorderRewrite(t, Cluster.ZDims(), targetFileBytes = 256L * 1024)
    val clustered = t.files().map(_.path).toSet
    // new appends arrive unsorted
    t.append(Synth.pages(spark, 2000, partitions = 4, seed = 99))
    val pre = t.read()
    val preCount = pre.count()
    val snap = Cluster.incremental(t, Cluster.ZDims(), targetFileBytes = 256L * 1024)
    assert(snap.nonEmpty)
    // previously clustered files survive untouched; appended files are gone
    val after = t.files().map(_.path).toSet
    assert(clustered.subsetOf(after), "clustered files must not be rewritten")
    assert(t.read().count() == preCount)
    assertSameRows(t.read(), pre, "incremental cluster")
    // nothing left to do → no-op
    assert(Cluster.incremental(t, Cluster.ZDims(), targetFileBytes = 256L * 1024).isEmpty)
  }

  test("incremental sees a layout change even after the cluster snapshot expired") {
    val root = tmpDir("graft-incr-exp")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 4000, partitions = 4))
    Cluster.zorderRewrite(t, Cluster.ZDims(columns = Seq("lang")),
      targetFileBytes = 256L * 1024)
    val oldLayout = t.files().map(_.path).toSet
    // steady state under the SAME layout stays a no-op (tag match by name)
    assert(Cluster.incremental(t, Cluster.ZDims(columns = Seq("lang")),
      targetFileBytes = 256L * 1024).isEmpty)
    // expire history: the cluster commit's summary (zdims) is gone — the
    // r5 gap made the old files unverifiable and silently "fresh"
    Expire.expire(t, retainLast = 1)
    val snap = Cluster.incremental(t, Cluster.ZDims(columns = Seq("warc_ts")),
      targetFileBytes = 256L * 1024)
    assert(snap.nonEmpty,
      "a cluster-columns change must rewrite old-layout files even when " +
        "their producing snapshot has been expired")
    assert(t.files().map(_.path).toSet.intersect(oldLayout).isEmpty,
      "every old-layout file must be rewritten")
  }

  test("boundary sample is budget-capped; huge nOut splits via record rolling") {
    // the driver-side sample may never scale with table/file count: at the
    // 100 TB shape (8e5 output files, 1e10 rows) the old 400×nOut sample
    // collected ~3e8 rows
    val hundredTbRows = 10L * 1000 * 1000 * 1000
    val fr = Cluster.sampleFraction(1 << 20, hundredTbRows)
    assert(fr * hundredTbRows <= Cluster.MaxSampleRows * 1.01, "sample budget must be constant")
    assert(Cluster.maxShufflePartitions(spark) <= 16384, "partitions scale with cluster, not data")

    // nOut >> nPart: sorted partition runs roll into many right-sized files
    val root = tmpDir("graft-split")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 20000, partitions = 4))
    val totalBytes = t.files().map(_.bytes).sum
    val target = 4L * 1024
    val nOut = math.ceil(totalBytes.toDouble / target).toInt
    val nPart = Cluster.maxShufflePartitions(spark)
    assert(nOut > nPart, s"test needs nOut ($nOut) > nPart ($nPart) to exercise rolling")
    val pre = t.read()
    val snap = Cluster.zorderRewrite(t, Cluster.ZDims(), targetFileBytes = target)
    assert(snap.nonEmpty)
    val files = t.files()
    assert(files.size > nPart, s"rolling must split beyond $nPart partitions: ${files.size}")
    assert(files.map(_.rows).max <= math.max(1L, 20000L / nOut),
      "every file respects the per-file record cap")
    assertSameRows(t.read(), pre, "rolled-file cluster scan")
  }

  test("sketch-derived range boundaries keep partitions equi-depth") {
    // boundaries now come from a distributed percentile_approx sketch, not
    // a driver-collected sort — the balance of the resulting range
    // partitions is the quality that matters (a skewed split starves or
    // overloads shuffle partitions at scale)
    val root = tmpDir("graft-balance")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 30000, hosts = 200, partitions = 8))
    val totalBytes = t.files().map(_.bytes).sum
    Cluster.zorderRewrite(t, Cluster.ZDims(), targetFileBytes = totalBytes / 24)
    val rows = t.files().map(_.rows)
    assert(rows.size >= 12, s"expected many output files, got ${rows.size}")
    val mean = rows.sum.toDouble / rows.size
    // equi-depth: no file more than 3x the mean (sketch accuracy 10000 on a
    // 400-per-partition sample is far tighter; 3x guards regressions only)
    assert(rows.max <= mean * 3, s"unbalanced boundaries: max=${rows.max} mean=$mean")
  }

  test("hostCol (row side) and boundsFromMeta's driver mirror agree") {
    import spark.implicits._
    // the host-dim bounds are decoded from METADATA url strings with a
    // Scala mirror of the column expression — any divergence silently
    // mis-scales the dim; assert value identity over edge shapes
    val urls = Seq(
      "https://host-1.example.com/a/b", "http://h/", "ftp://x.y",
      "no-scheme/path", "bare", "", "https://a//b://c/d", "https:///x",
      "https://real.example.com/redirect?u=http://embedded.example.org/x")
    val viaCol = urls.toDF("url")
      .select(col("url"), Cluster.hostCol(col("url")).as("h")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val hostOf = {
      val m = Cluster.getClass.getDeclaredMethod("hostOf", classOf[String])
      m.setAccessible(true)
      (s: String) => m.invoke(Cluster, s).asInstanceOf[String]
    }
    for (u <- urls) assert(viaCol(u) == hostOf(u), s"host mismatch for '$u'")
    // FIRST scheme wins: a url embedding another url in its query must
    // cluster by the real host, not the embedded one
    assert(viaCol("https://real.example.com/redirect?u=http://embedded.example.org/x")
      == "real.example.com")
    assert(viaCol("https://host-1.example.com/a/b") == "host-1.example.com")
  }

  test("salting splits a pathologically hot host across partitions") {
    // the hot host's rows also share lang and warc_ts, so all of them carry
    // ONE z-key: range boundaries alone keep such a tie in one partition,
    // and only a detected heavy host's salt can split it
    val pages = Synth.pages(spark, 5000, hosts = 2, partitions = 4)
    val hot = pages.groupBy(Cluster.hostCol(col("url")).as("h")).count()
      .orderBy(col("count").desc).head().getString(0)
    val isHot = Cluster.hostCol(col("url")) === hot
    val df = pages
      .withColumn("lang", when(isHot, lit("en")).otherwise(col("lang")))
      .withColumn("warc_ts", when(isHot, lit(java.sql.Timestamp.valueOf("2025-01-03 00:00:00")))
        .otherwise(col("warc_ts")))
    def filesHoldingHot(saltThresholdRows: Long): Long = {
      val t = GraftTable.create(spark, tmpDir("graft-salt"), Synth.pageSchema)
      t.append(df)
      val pre = t.read().localCheckpoint(true)
      // ~8 output files: below the partition cap, so no record rolling
      val target = t.files().map(_.bytes).sum / 8
      assert(Cluster.zorderRewrite(t, targetFileBytes = target,
        saltThresholdRows = saltThresholdRows).nonEmpty)
      assertSameRows(t.read(), pre, s"salted cluster ($saltThresholdRows)")
      spark.read.parquet(t.files().map(t.absPath): _*).filter(isHot)
        .select(input_file_name()).distinct().count()
    }
    assert(filesHoldingHot(saltThresholdRows = 1000L) > 1,
      "a hot host detected from the sample must span several output files")
    assert(filesHoldingHot(saltThresholdRows = 1000000L) == 1,
      "below the threshold the tie stays in one range partition")
  }
}

class MergeSpec extends SparkSuite {
  import graft.table.DataFileMeta

  test("merge semantics match a pure-Scala reference model") {
    val root = tmpDir("graft-merge")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val base = Synth.pages(spark, 3000, hosts = 50, partitions = 8)
    t.append(base)
    val preSnapId = t.currentSnapshot.get.id

    // change set: urls 0..299 updated (newer ts), 500..599 deleted,
    // 100000..100099 inserted; plus a STALE update for urls 700..749 (older
    // ts than base) that must be ignored
    import spark.implicits._
    val cur = t.read().as[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .collect().map(r => r._1 -> r).toMap
    def page(url: String, tsShift: Long, text: String) = {
      val old = cur(url)
      (url, new java.sql.Timestamp(old._2.getTime + tsShift), old._3, text, old._5)
    }
    val updates = cur.keys.filter(_.matches(".*/p/([0-2]?\\d?\\d)$")).toSeq.sorted
      .map(u => page(u, +1000000L, "UPDATED"))
    val stale = cur.keys.filter(_.matches(".*/p/(7[0-4]\\d)$")).toSeq.sorted
      .map(u => page(u, -1000000L, "STALE"))
    val deletes = cur.keys.filter(_.matches(".*/p/(5[0-9]\\d)$")).toSeq.sorted
      .map(u => page(u, +1000000L, "DEL"))
    val inserts = (100000 until 100100).map(i =>
      (s"https://host-new.example.com/p/$i",
        new java.sql.Timestamp(1735689600000L), Array[Byte](1, 2), s"NEW$i", "en"))

    val src = (updates ++ stale ++ inserts).toDF("url", "warc_ts", "html", "text", "lang")
      .withColumn("_deleted", lit(false))
      .unionByName(deletes.toDF("url", "warc_ts", "html", "text", "lang")
        .withColumn("_deleted", lit(true)))

    val snap = Merge.into(t, src)
    assert(snap.operation == "merge")

    // pure-Scala expected state
    val expected = (cur
      -- deletes.map(_._1)                       // deleted
      ++ updates.map(p => p._1 -> p)             // updated (newer wins)
      ++ inserts.map(p => p._1 -> p))            // inserted; stale ignored
    val got = t.read().as[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == expected.keySet, "url sets differ")
    val badText = got.count { case (u, r) => r._4 != expected(u)._4 }
    assert(badText == 0, s"$badText urls have wrong text after merge")
    assert(got.count(_._2._4 == "STALE") == 0, "stale updates must lose")
    // snapshot isolation: pre-merge snapshot unchanged
    assert(t.readSnapshot(preSnapId).count() == 3000)
  }

  test("duplicate matched keys firing NO clause do not raise the cardinality error") {
    val t = GraftTable.create(spark, tmpDir("merge-noop-dup"), Synth.pageSchema)
    t.append(Synth.pages(spark, 100, hosts = 4, partitions = 2))
    val one = t.read().limit(1)
    // two presence-only (_noop) rows for the same matched key: no target row
    // is modified, so ANSI cardinality must not error (Spark/Delta agree)
    val noops = one.unionByName(one)
      .withColumn("_deleted", lit(false)).withColumn("_noop", lit(true))
    val before = t.read().count()
    Merge.into(t, noops, latestWins = false,
      notMatchedBySourceDelete = Some(lit(false)))
    assert(t.read().count() === before, "presence-only merge must change nothing")
    // …but two rows that would genuinely MODIFY the same target row still error
    val mods = one.unionByName(one).withColumn("_deleted", lit(false))
    val ex = intercept[IllegalArgumentException](
      Merge.into(t, mods, latestWins = false))
    assert(ex.getMessage.contains("multiple rows"), ex.getMessage)
  }

  test("composite-key merge matches a pure-Scala model (latest-wins on the tuple)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("text", StringType)))
    val t = GraftTable.create(spark, tmpDir("graft-ck-merge"), schema)
    import spark.implicits._
    // same path values repeat across hosts: tuple identity matters
    val base = for (h <- 0 until 20; p <- 0 until 50)
      yield (s"h$h.example.com", s"/p/$p", 100L, s"base-$h-$p")
    t.append(base.toDF("host", "path", "ts", "text")
      .repartitionByRange(6, col("host"), col("path")).sortWithinPartitions("host", "path"))

    val updates = for (h <- 0 until 5; p <- 0 until 10)
      yield (s"h$h.example.com", s"/p/$p", 200L, "UPD", false)
    val stale = for (h <- 10 until 12; p <- 0 until 10)
      yield (s"h$h.example.com", s"/p/$p", 50L, "STALE", false)
    val deletes = for (h <- 15 until 17; p <- 20 until 30)
      yield (s"h$h.example.com", s"/p/$p", 200L, null: String, true)
    val inserts = for (p <- 0 until 7)
      yield ("hNEW.example.com", s"/p/$p", 200L, "NEW", false)
    val src = (updates ++ stale ++ deletes ++ inserts)
      .toDF("host", "path", "ts", "text", "_deleted")
    Merge.into(t, src, Seq("host", "path"), versionCol = "ts")

    val model = (base.map(r => (r._1, r._2) -> r).toMap
      -- deletes.map(d => (d._1, d._2))
      ++ updates.map(u => (u._1, u._2) -> ((u._1, u._2, u._3, u._4))))
      .values.toSet ++ inserts.map(i => (i._1, i._2, i._3, i._4))
    val got = t.read().as[(String, String, Long, String)].collect().toSet
    assert(got === model)
    // stale rows (older ts) must lose on the TUPLE, not just one column
    assert(!got.exists(_._4 == "STALE"))
  }

  test("merge join is a real distributed join (SMJ/shuffle-hash, no BNLJ)") {
    val root = tmpDir("graft-smj")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 2000, partitions = 4))
    val src = Synth.pages(spark, 100, partitions = 1).withColumn("_deleted", lit(false))
    val base = t.read().alias("t")
    val joined = base.join(src.alias("s"), base("url") === src("url"), "full_outer")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"full-outer merge join must be a shuffled equi-join, got:\n$plan")
  }

  test("touched-file planning only selects files overlapping source keys") {
    val root = tmpDir("graft-touched")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    // url-sorted files → tight url ranges per file
    t.append(Synth.pages(spark, 4000, partitions = 1)
      .repartitionByRange(8, col("url")).sortWithinPartitions("url"))
    import spark.implicits._
    val files = t.files()
    assert(files.size >= 4)
    // keys from exactly one file's range
    val one: DataFileMeta = files.head
    val keys = t.read().filter(col("url") >= one.minValues("url") && col("url") <= one.maxValues("url"))
      .select("url").limit(10)
    val touched = Merge.touchedFiles(t, keys, "url")
    assert(touched.nonEmpty && touched.size < files.size,
      s"expected a strict subset, got ${touched.size}/${files.size}")
  }

  test("timestamp keys plan touched files in canonical micros encoding") {
    // regression: interval-stabbing with cast(ts as string) would compare
    // "2024-01-02 …" text against micros bounds and throw (or worse);
    // canonical encoding maps the key to epoch micros like the file stats
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("warc_ts", TimestampType, nullable = false),
      StructField("v", LongType)))
    val t = GraftTable.create(spark, tmpDir("graft-ts-key"), schema)
    import spark.implicits._
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // two files with disjoint ts ranges
    t.append((1 to 50).map(i => (s"u$i", day(1 + i % 5), i.toLong)).toDF("url", "warc_ts", "v").coalesce(1))
    t.append((1 to 50).map(i => (s"u$i", day(20 + i % 5), i.toLong + 100)).toDF("url", "warc_ts", "v").coalesce(1))
    assert(t.files().size === 2)
    // composite (url, warc_ts): only the second file's range is touched —
    // via the RESIDUAL ts column (url ranges collide across both files)
    val keys = Seq(("u7", day(22))).toDF("url", "warc_ts")
    val touched = Merge.touchedFiles(t, keys, Seq("url", "warc_ts"))
    assert(touched.size === 1, s"ts residual must prune: ${touched.size}")
    assert(touched.head.minValues("warc_ts").toLong > day(10).getTime * 1000L)
    // and a ts-LEADING key works through the interval index itself
    val touchedLead = Merge.touchedFiles(t, keys.select("warc_ts"), Seq("warc_ts"))
    assert(touchedLead.size === 1)
  }

  test("string keys sharing a long prefix still range-cluster the merge output") {
    // regression (found by the 10 GB soak): every url starts "https://…",
    // which pinned the 8-char packed prefix to ONE value — boundaries
    // collapsed and the whole merge output landed in a single file
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("payload", StringType)))
    val t = GraftTable.create(spark, tmpDir("graft-prefix-range"), schema)
    import spark.implicits._
    // distinct payloads: a constant would dictionary-compress the files
    // under any target size and leave nOut = 1
    def pay(i: Int) = Seq.tabulate(8)(j => (i * 31 + j * 7919).toHexString).mkString("-")
    // four url-disjoint files, all keys sharing the scheme+host prefix
    for (b <- 0 until 4)
      t.append((b * 2000 until (b + 1) * 2000)
        .map(i => (f"https://host.example.com/p/$i%06d", pay(i)))
        .toDF("url", "payload").coalesce(1))
    val src = (0 until 8000 by 7)
      .map(i => (f"https://host.example.com/p/$i%06d", "updated"))
      .toDF("url", "payload")
    Merge.into(t, src, Seq("url"), latestWins = false, targetFileBytes = 24 * 1024)
    val out = t.files().filter(_.commitUuid.startsWith("merge-"))
    assert(out.size > 1, s"prefix-stripped packing must keep several output files, got ${out.size}")
    val sorted = out.map(f => (f.minValues("url"), f.maxValues("url"))).sortBy(_._1)
    for (Seq((_, hi), (lo2, _)) <- sorted.sliding(2))
      assert(hi <= lo2, s"post-merge url bounds overlap: $sorted")
  }

  test("merge output of a timestamp key is range-clustered; the next merge prunes") {
    // regression: non-string leading keys were hash-repartitioned, so every
    // post-merge file spanned the whole key space and the NEXT merge's
    // touchedFiles planning degenerated to a full rewrite
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("warc_ts", TimestampType, nullable = false),
      StructField("payload", StringType)))
    val t = GraftTable.create(spark, tmpDir("graft-ts-range"), schema)
    import spark.implicits._
    def ts(dayMinute: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + dayMinute * 60000L)
    val pay = "x" * 64
    // four ts-disjoint files covering minutes [0, 8000)
    for (b <- 0 until 4)
      t.append((b * 2000 until (b + 1) * 2000).map(m => (ts(m), pay))
        .toDF("warc_ts", "payload").coalesce(1))
    assert(t.files().size === 4)
    // ANSI merge touching every file, small target files => several outputs
    val src = (0 until 8000 by 7).map(m => (ts(m), "updated")).toDF("warc_ts", "payload")
    Merge.into(t, src, Seq("warc_ts"), latestWins = false, targetFileBytes = 48 * 1024)
    val out = t.files().filter(_.commitUuid.startsWith("merge-"))
    assert(out.size > 1, s"expected several merge output files, got ${out.size}")
    // per-file micros bounds must be (near-)disjoint: sorted by min, each
    // file's max stays below the next file's min — range steering, not hash
    val sorted = out.map(f => (f.minValues("warc_ts").toLong, f.maxValues("warc_ts").toLong))
      .sortBy(_._1)
    for (Seq((_, hi), (lo2, _)) <- sorted.sliding(2))
      assert(hi <= lo2, s"post-merge file bounds overlap: $sorted")
    // a narrow follow-up change set now touches a strict subset of files
    val narrow = (0 until 500 by 11).map(m => (ts(m), "again")).toDF("warc_ts", "payload")
    val touched = Merge.touchedFiles(t, narrow.select("warc_ts"), Seq("warc_ts"))
    assert(touched.size < t.files().size,
      s"expected pruning on the second merge: ${touched.size}/${t.files().size}")
  }

  test("merge output of a WIDE-DECIMAL key is range-clustered; the next merge prunes") {
    // decimals past p=18 previously fell back to hash scatter (no 64-bit
    // unscaled embedding): every post-merge file spanned the whole key
    // space and the NEXT merge's touchedFiles planning degenerated to a
    // full rewrite. The monotone nearest-double embedding restores range
    // steering (r5 advice / r6 change).
    import org.apache.spark.sql.types._
    val dt = DecimalType(38, 4)
    val schema = StructType(Seq(
      StructField("acct", dt, nullable = false),
      StructField("payload", StringType)))
    val t = GraftTable.create(spark, tmpDir("graft-dec-range"), schema)
    import spark.implicits._
    def pay(i: Int) = Seq.tabulate(8)(j => (i * 31 + j * 7919).toHexString).mkString("-")
    def dec(i: Int) = new java.math.BigDecimal(i).movePointLeft(1).setScale(4)
    // four key-disjoint files covering [0.0, 800.0)
    for (b <- 0 until 4)
      t.append((b * 2000 until (b + 1) * 2000).map(i => (dec(i), pay(i)))
        .toDF("acct", "payload").selectExpr("cast(acct as decimal(38,4)) as acct", "payload")
        .coalesce(1))
    assert(t.files().size === 4)
    val src = (0 until 8000 by 7).map(i => (dec(i), "updated"))
      .toDF("acct", "payload").selectExpr("cast(acct as decimal(38,4)) as acct", "payload")
    Merge.into(t, src, Seq("acct"), latestWins = false, targetFileBytes = 24 * 1024)
    val out = t.files().filter(_.commitUuid.startsWith("merge-"))
    assert(out.size > 1, s"expected several merge output files, got ${out.size}")
    // per-file bounds (scaled decimal strings) must be (near-)disjoint
    val sorted = out.map(f => (new java.math.BigDecimal(f.minValues("acct")),
        new java.math.BigDecimal(f.maxValues("acct"))))
      .sortBy(_._1)
    for (Seq((_, hi), (lo2, _)) <- sorted.sliding(2))
      assert(hi.compareTo(lo2) <= 0, s"post-merge decimal bounds overlap: $sorted")
    // a narrow follow-up change set now touches a strict subset of files
    val narrow = (0 until 500 by 11).map(i => (dec(i), "again"))
      .toDF("acct", "payload").selectExpr("cast(acct as decimal(38,4)) as acct", "payload")
    val touched = Merge.touchedFiles(t, narrow.select("acct"), Seq("acct"))
    assert(touched.size < t.files().size,
      s"expected pruning on the second merge: ${touched.size}/${t.files().size}")
  }

  test("merge output of a DOUBLE key is range-clustered via sortable bits") {
    // doubles (and decimals) previously fell back to hash scatter: every
    // post-merge file spanned the whole key space. Negative keys included —
    // the IEEE-754 sortable encoding must keep them below the positives.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("payload", StringType)))
    val t = GraftTable.create(spark, tmpDir("graft-dbl-range"), schema)
    import spark.implicits._
    def pay(i: Int) = Seq.tabulate(8)(j => (i * 31 + j * 7919).toHexString).mkString("-")
    // four STRIPED files, each spanning the full [-2000, 2000) range: a
    // file whose bounds straddle zero makes the sortable-bits encodings of
    // (min, max) differ by more than Long.MaxValue — the boundary
    // interpolation must not overflow (regression)
    for (b <- 0 until 4)
      t.append((b until 8000 by 4).map(i => ((i - 4000) * 0.5, pay(i)))
        .toDF("score", "payload").coalesce(1))
    val src = (0 until 8000 by 7).map(i => ((i - 4000) * 0.5, "updated"))
      .toDF("score", "payload")
    Merge.into(t, src, Seq("score"), latestWins = false, targetFileBytes = 24 * 1024)
    val out = t.files().filter(_.commitUuid.startsWith("merge-"))
    assert(out.size > 1, s"expected several merge output files, got ${out.size}")
    val sorted = out.map(f => (f.minValues("score").toDouble, f.maxValues("score").toDouble))
      .sortBy(_._1)
    for (Seq((_, hi), (lo2, _)) <- sorted.sliding(2))
      assert(hi <= lo2, s"post-merge double bounds overlap: $sorted")
    // the next merge's planning prunes on the tight bounds
    val narrow = (0 until 400 by 11).map(i => ((i - 4000) * 0.5, "again")).toDF("score", "payload")
    val touched = Merge.touchedFiles(t, narrow.select("score"), Seq("score"))
    assert(touched.size < t.files().size,
      s"expected pruning on the second merge: ${touched.size}/${t.files().size}")
  }

  test("merge output of a DECIMAL key is range-clustered via unscaled longs") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("amount", DecimalType(12, 2), nullable = false),
      StructField("payload", StringType)))
    val t = GraftTable.create(spark, tmpDir("graft-dec-range"), schema)
    import spark.implicits._
    def pay(i: Int) = Seq.tabulate(8)(j => (i * 37 + j * 104729).toHexString).mkString("-")
    for (b <- 0 until 4)
      t.append((b * 2000 until (b + 1) * 2000)
        .map(i => (new java.math.BigDecimal(i - 4000).movePointLeft(1), pay(i)))
        .toDF("amount", "payload")
        .select(col("amount").cast(DecimalType(12, 2)), col("payload")).coalesce(1))
    val src = (0 until 8000 by 7)
      .map(i => (new java.math.BigDecimal(i - 4000).movePointLeft(1), "updated"))
      .toDF("amount", "payload")
      .select(col("amount").cast(DecimalType(12, 2)), col("payload"))
    Merge.into(t, src, Seq("amount"), latestWins = false, targetFileBytes = 24 * 1024)
    val out = t.files().filter(_.commitUuid.startsWith("merge-"))
    assert(out.size > 1, s"expected several merge output files, got ${out.size}")
    val sorted = out.map(f => (new java.math.BigDecimal(f.minValues("amount")),
      new java.math.BigDecimal(f.maxValues("amount"))))
      .sortWith((a, b) => a._1.compareTo(b._1) < 0)
    for (Seq((_, hi), (lo2, _)) <- sorted.sliding(2))
      assert(hi.compareTo(lo2) <= 0, s"post-merge decimal bounds overlap: $sorted")
    // regression: decimal parquet stats are UNSCALED — the bound strings
    // must be the SCALED decimals or predicate pruning compares -500 (raw
    // int64) against -5.00 (literal) and prunes 100x off
    val hit = t.planFiles(Some(col("amount") < lit(new java.math.BigDecimal("-380.00"))))
    assert(hit.nonEmpty && hit.size < t.files().size,
      s"decimal predicate pruning: ${hit.size}/${t.files().size}")
    assert(t.read(Some(col("amount") < lit(new java.math.BigDecimal("-380.00")))).count() ===
      t.read().filter(col("amount") < -380.0).count())
    // upgrade guard: a table WITHOUT the decimal-stats-scaled marker may
    // hold pre-fix (unscaled) bound strings — decimal bounds must then be
    // IGNORED (no pruning is sound, comparing mixed spaces is not)
    t.commitMetadataUpdate(md => md.copy(
      properties = md.properties - GraftTable.DecimalStatsScaledProp))
    assert(t.files().forall(f => !f.minValues.contains("amount")),
      "unmarked tables must surface no decimal bounds to planning")
    assert(t.planFiles(Some(col("amount") < lit(new java.math.BigDecimal("-380.00"))))
      .size === t.files().size, "no decimal pruning without the marker")
    assert(t.read(Some(col("amount") < lit(new java.math.BigDecimal("-380.00")))).count() ===
      t.read().filter(col("amount") < -380.0).count(), "reads stay exact either way")
  }

  test("composite-key touched-file planning prunes on residual key columns") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("v", LongType)))
    val t = GraftTable.create(spark, tmpDir("graft-ck-touch"), schema)
    import spark.implicits._
    // four files sharing ONE leading-key (host) value in pairs — only the
    // residual path bounds can tell them apart
    def chunk(host: String, lo: Int, hi: Int) =
      (lo until hi).map(p => (host, f"/p/$p%03d", 1L)).toDF("host", "path", "v").coalesce(1)
    t.append(chunk("a.com", 0, 50)); t.append(chunk("a.com", 50, 100))
    t.append(chunk("b.com", 0, 50)); t.append(chunk("b.com", 50, 100))
    assert(t.files().size === 4)
    val keys = Seq(("a.com", "/p/010")).toDF("host", "path")
    val touched = Merge.touchedFiles(t, keys, Seq("host", "path"))
    assert(touched.size === 1, s"leading col narrows to 2, residual to 1; got ${touched.size}")
    assert(touched.head.minValues("path") <= "/p/010" && touched.head.maxValues("path") >= "/p/010")
    // a tuple whose column values each exist but never together: no file
    val none = Merge.touchedFiles(t, Seq(("b.com", "/p/xyz")).toDF("host", "path"), Seq("host", "path"))
    assert(none.isEmpty)
  }

  test("interval index matches brute force and probes O(log n + hits)") {
    import org.apache.spark.sql.types.StringType
    val rnd = new scala.util.Random(42)
    def key(i: Int) = f"k$i%06d"
    // random possibly-overlapping intervals (unsorted-table shape)
    for (trial <- 0 until 20) {
      val n = 1 + rnd.nextInt(60)
      val ivs = (0 until n).map { i =>
        val a = rnd.nextInt(1000); val b = a + rnd.nextInt(200)
        (key(a), key(b), i)
      }
      val idx = new IntervalIndex(StringType, ivs)
      for (_ <- 0 until 30) {
        val k = key(rnd.nextInt(1300))
        val expected = ivs.collect { case (lo, hi, i) if lo <= k && k <= hi => i }.toSet
        assert(idx.overlapping(k).toSet === expected, s"trial $trial key $k")
      }
    }
    // disjoint sorted intervals (the post-maintenance common case): probe
    // count is logarithmic, NOT linear in file count
    val disjoint = (0 until 100000).map(i => (key(i * 10), key(i * 10 + 5), i))
    val idx = new IntervalIndex(StringType, disjoint)
    val hits = idx.overlapping(key(500003))
    assert(hits == Seq(50000))
    assert(idx.lastProbes <= 2 * 18 + 4,
      s"probes must be ~log2(1e5)+hits, got ${idx.lastProbes}")
  }

  test("deleteWhere removes matching rows only, copy-on-write") {
    val root = tmpDir("graft-delw")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 3000, partitions = 6))
    val pre = t.read()
    val n = pre.count()
    val nDe = pre.filter(col("lang") === "de").count()
    assert(nDe > 0)
    val preSnapId = t.currentSnapshot.get.id
    Merge.deleteWhere(t, col("lang") === "de")
    assert(t.read().count() == n - nDe)
    assert(t.read().filter(col("lang") === "de").count() == 0)
    assertSameRows(t.read(), pre.filter(col("lang") =!= "de"), "deleteWhere")
    assert(t.readSnapshot(preSnapId).count() == n)
  }

  test("replaceWhere: predicate-scoped atomic overwrite, untouched files intact") {
    val root = tmpDir("graft-replw")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    val a = Synth.pages(spark, 800, partitions = 2).withColumn("lang", lit("aa"))
    val b = Synth.pages(spark, 600, partitions = 2, seed = 7).withColumn("lang", lit("bb"))
    t.append(a)
    t.append(b)
    val bFiles = t.files().filter(_.minValues.get("lang").contains("bb")).map(_.path).toSet
    assert(bFiles.size == 2)
    val preSnapId = t.currentSnapshot.get.id

    val fresh = Synth.pages(spark, 300, partitions = 2, seed = 42)
      .withColumn("lang", lit("aa"))
      .withColumn("url", concat(lit("fresh/"), col("url")))
    Merge.replaceWhere(t, col("lang") === "aa", fresh)

    assert(t.read().count() == 600 + 300)
    assert(t.read().filter(col("lang") === "aa" && !col("url").startsWith("fresh/")).count() == 0,
      "every pre-existing matching row replaced")
    assertSameRows(t.read().filter(col("lang") === "bb"), b, "non-matching region untouched")
    assert(bFiles.subsetOf(t.files().map(_.path).toSet),
      "files outside the predicate are untouched manifest entries, not rewrites")
    assert(t.readSnapshot(preSnapId).count() == 1400, "snapshot isolation")

    // validation refuses incoming rows outside the predicate
    val stray = fresh.withColumn("lang", lit("bb"))
    intercept[IllegalArgumentException](Merge.replaceWhere(t, col("lang") === "aa", stray))
    Merge.replaceWhere(t, col("lang") === "aa", stray, validate = false)
    assert(t.read().filter(col("lang") === "bb").count() == 600 + 300)
  }

  test("replaceWhere via the writer option") {
    val root = tmpDir("graft-replw-opt")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 500, partitions = 2).withColumn("lang",
      when(pmod(xxhash64(col("url")), lit(2)) === 0, "aa").otherwise("bb")))
    val nBb = t.read().filter(col("lang") === "bb").count()
    val fresh = Synth.pages(spark, 100, partitions = 1, seed = 5)
      .withColumn("lang", lit("aa"))
    fresh.write.format("graft").mode("overwrite")
      .option("replaceWhere", "lang = 'aa'").save(root)
    assert(t.read().count() == nBb + 100)
    intercept[Exception](fresh.withColumn("lang", lit("zz"))
      .write.format("graft").mode("overwrite")
      .option("replaceWhere", "lang = 'aa'").save(root))
  }
}

class ExpireSpec extends SparkSuite {

  test("caller-supplied _noop rows: firing+noop duplicate errors; all-noop dups keep one copy") {
    import spark.implicits._
    // the SQL lowering never emits this shape (it drops noop rows for
    // firing keys and dedups the rest), but `_noop` is a documented
    // reserved source column, so a programmatic caller can — the engine
    // must not silently duplicate the kept target row through the
    // per-source-row full-outer join
    val t = GraftTable.create(spark, tmpDir("ops-noop"), Synth.pageSchema)
    t.append(Synth.pages(spark, 100, partitions = 2))
    val k = t.read().select("url").orderBy("url").head().getString(0)
    val ts = new java.sql.Timestamp(1735689600000L)
    val html = Array[Byte](1)
    def row(del: Boolean, noop: Boolean) = (k, ts, html, "X", "en", del, noop)
    def srcOf(rows: Seq[(String, java.sql.Timestamp, Array[Byte], String, String, Boolean, Boolean)]) =
      rows.toDF("url", "warc_ts", "html", "text", "lang", "_deleted", "_noop")
    val err = intercept[IllegalArgumentException] {
      Merge.into(t, srcOf(Seq(row(del = false, noop = false), row(del = false, noop = true))),
        Seq("url"), latestWins = false)
    }
    assert(err.getMessage.contains("multiple rows for matched key"), err.getMessage)
    // all-noop duplicates collapse to one presence assertion: row unchanged,
    // present exactly once
    val pre = t.read().count()
    Merge.into(t, srcOf(Seq(row(del = false, noop = true), row(del = false, noop = true))),
      Seq("url"), latestWins = false)
    assert(t.read().count() === pre)
    assert(t.read().filter(col("url") === k).count() === 1L,
      "all-noop duplicate keys must not duplicate the kept row")
  }

  test("expire GCs only files unreferenced by retained snapshots") {
    val root = tmpDir("graft-expire")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 1000, partitions = 2))
    t.append(Synth.pages(spark, 1000, partitions = 2, seed = 7))
    Compact.run(t, targetBytes = 64L * 1024 * 1024) // rewrites → old files orphanable
    val keepCount = t.read().count()
    val res = Expire.expire(t, retainLast = 1)
    assert(res.removedSnapshots.nonEmpty)
    assert(res.deletedDataFiles.nonEmpty)
    // current snapshot fully intact
    assert(t.read().count() == keepCount)
    // all current files still exist physically
    assert(t.files().forall(f => graft.table.FileIO.exists(t.absPath(f))))
    // metadata no longer lists expired snapshots
    assert(t.metadata.snapshots.size == 1)
  }

  test("orphan cleanup deletes unreferenced staging, spares live files and fresh staging") {
    val root = tmpDir("graft-orphan")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    t.append(Synth.pages(spark, 500, partitions = 2))
    // crashed run: staged parquet that never committed
    val staged = s"${t.dataDir}/compact-crashed-g0"
    Synth.pages(spark, 100, partitions = 1).write.parquet(staged)
    val stagedFiles = graft.table.FileIO.listFiles(staged, ".parquet")
    assert(stagedFiles.nonEmpty)
    // fresh staging is spared by the grace window
    assert(Expire.removeOrphans(t, olderThanMs = 3600 * 1000).isEmpty)
    // past the window it is GC'd; live files survive
    val removed = Expire.removeOrphans(t, olderThanMs = -1000)
    assert(removed.toSet == stagedFiles.toSet)
    assert(t.read().count() == 500)
    assert(t.files().forall(f => graft.table.FileIO.exists(t.absPath(f))))
  }

  test("orphan GC leaves no write debris behind expired and crashed commits") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = GraftTable.create(spark, tmpDir("graft-orphan-debris"), Synth.pageSchema)
    t.append(Synth.pages(spark, 1000, partitions = 4))
    t.append(Synth.pages(spark, 1000, partitions = 4, seed = 7))
    assert(Compact.run(t, targetBytes = 64L * 1024 * 1024).nonEmpty)
    assert(Cluster.zorderRewrite(t, targetFileBytes = t.files().map(_.bytes).sum / 3).nonEmpty)
    assert(Expire.expire(t, retainLast = 1).deletedDataFiles.nonEmpty)
    // a crashed copy attempt: its temp file, with no data file beside it
    val tmp = Paths.get(s"${t.dataDir}/compact-crashed-g0/part-00000-compact-crashed-g0.parquet.x.tmp")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, Array[Byte](1, 2, 3))
    def tree(): Set[String] = {
      val s = Files.walk(Paths.get(t.dataDir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet finally s.close()
    }
    val live = t.files().map(t.absPath).toSet
    val liveDirs = live.map(p => Paths.get(p).getParent.toString)
    val liveDebris = tree().filter(p => liveDirs.contains(Paths.get(p).getParent.toString)) -- live
    val expected = t.read().localCheckpoint(true)
    assert(tree().exists(p => !liveDirs.contains(Paths.get(p).getParent.toString)),
      "expired and crashed commits leave files outside the live dirs")

    assert(Expire.removeOrphans(t, olderThanMs = -1000).isEmpty, "no orphaned data file")
    assert(tree() == live ++ liveDebris, s"left behind: ${tree() -- live -- liveDebris}")
    val dirs = Files.list(Paths.get(t.dataDir))
    try assert(dirs.iterator().asScala.map(_.toString).toSet == liveDirs, "empty commit dirs pruned")
    finally dirs.close()
    assertSameRows(t.read(), expected, "read after orphan GC")
  }

  test("manifest rewrite preserves the file set exactly") {
    val root = tmpDir("graft-mrw")
    val t = GraftTable.create(spark, root, Synth.pageSchema)
    (1 to 5).foreach(i => t.append(Synth.pages(spark, 200, partitions = 1, seed = i)))
    val before = t.files().map(_.path).toSet
    assert(t.currentSnapshot.get.manifests.size == 5)
    val snap = ManifestRewrite.run(t)
    assert(snap.nonEmpty)
    assert(t.currentSnapshot.get.manifests.size == 1)
    assert(t.files().map(_.path).toSet == before)
  }
}
