package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.ops.{Cluster, Compact, Expire, Merge}
import graft.table.GraftTable

/**
 * 10× lifecycle soak: the full maintenance cycle (append → compact →
 * cluster → merge → expire) over a synthetic table one order of magnitude
 * larger than the bench's staged input (default 6M urls ≈ 10 GB, ~2,500
 * input files), run at each requested parallelism level on the SAME
 * staged input.
 *
 * Purpose (round-4 verdict ask #9): validate at 10× the file count that
 *  - driver-side METADATA operations stay cheap (files() parse, planFiles
 *    pruning — the class scaladoc's O(live files) claim, measured);
 *  - per-op core OCCUPANCY (taskSum / (cores × wall)) holds at both
 *    levels — the engine-side scaling estimator BENCH.md's round-3
 *    forensic established;
 *  - file counts behave (compaction bin-packs 10× the inputs, cluster
 *    rewrites into right-sized sorted runs, expiry GCs the rewritten
 *    generations).
 *
 * Prints one JSON line per level plus a staging line; wall-clock ~10 min
 * at two levels on this host.
 */
object Soak {

  private def mkSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-soak-$cpus")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", math.max(cpus, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val urls = args.headOption.map(_.toLong).getOrElse(6000000L)
    val levels = sys.env.getOrElse("SPARK_GRAFT_SOAK_LEVELS", "8,32")
      .split(",").map(_.trim.toInt).toSeq
    // SPARK_GRAFT_SOAK_BUCKETS=n: run the whole lifecycle on a
    // bucket(n, url) layout — exercises bucket stamping through 2,560-file
    // appends and every rewrite, the shuffle-free merge paths at 10 GB, and
    // asserts the stamped gate survives the full op sequence
    val buckets = sys.env.get("SPARK_GRAFT_SOAK_BUCKETS").map(_.toInt)

    // stage once (not timed): ~2,560 files of ~4 MB so the table starts
    // with 10× the bench's file count and compaction has real work
    val stage = mkSession(32)
    val stagedDir = java.nio.file.Files.createTempDirectory("graft-soak-input").toString + "/pages"
    val (_, tStage) = time {
      Synth.pages(stage, urls, hosts = 2000, partitions = 2560, htmlRepeatMax = 96)
        .write.parquet(stagedDir)
    }
    stage.stop()
    System.err.println(f"[soak] staged $urls%d urls in $tStage%.0fs at $stagedDir")

    for (cpus <- levels) {
      val spark = mkSession(cpus)
      val taskSum = new java.util.concurrent.atomic.AtomicLong()
      // spill is the local[N] scaling confounder to watch: N concurrent sort
      // tasks share ONE JVM heap, so execution memory per task shrinks with
      // N and a sort that fits at local[8] can thrash disk at local[32]
      val spillSum = new java.util.concurrent.atomic.AtomicLong()
      val shufWrite = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          taskSum.addAndGet(t.taskInfo.duration)
          val m = t.taskMetrics
          if (m != null) {
            spillSum.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            ()
          }
        }
      })
      def settled(): Long = { Thread.sleep(300); taskSum.get() }
      def occ(sumMs: Long, wall: Double): Double =
        if (wall <= 0) 0.0 else (sumMs / 1e3) / (cpus * wall)
      try {
        val root = java.nio.file.Files.createTempDirectory(s"graft-soak-$cpus").toString + "/t"
        val tbl = GraftTable.create(spark, root, Synth.pageSchema,
          buckets.map(n => Map(graft.table.PartitionSpec.Property -> s"bucket($n, url)"))
            .getOrElse(Map.empty))
        // keep every staged file a table file (no read-combining): the
        // soak's point is metadata + maintenance at 10× the file count.
        // Bucketed layout: repartition BY THE BUCKET COLUMN into a multiple
        // of n — Spark's exchange and the bucket transform share one murmur3,
        // and n | 2560 makes every exchange partition bucket-PURE (h mod 2560
        // determines h mod n), so each task writes exactly one dir: still
        // 2,560 right-sized files, not 2,560 × n shards. This is the general
        // producer recipe for appending wide to a bucket(n) table.
        val staged = spark.read.schema(Synth.pageSchema).parquet(stagedDir)
        val (_, tAppend) = time {
          tbl.append(buckets match {
            case Some(n) =>
              require(2560 % n == 0, s"soak bucket count must divide 2560, got $n")
              staged.repartition(2560, col("url"))
            case None => staged.repartition(2560)
          })
        }
        val inputBytes = tbl.files().map(_.bytes).sum
        val nFiles0 = tbl.files().size

        // driver-side metadata ops at this file count (median of 3)
        def med3(body: => Unit): Double =
          Seq.fill(3)(time(body)._2).sorted.apply(1)
        val tMeta = med3 { val _ = tbl.files().size }
        val tPlan = med3 {
          val _ = tbl.planFiles(Some(col("lang") === "de" &&
            col("url") >= "https://host-1.example.com/")).size
        }

        val s0 = settled()
        val (c, tCompact) = time {
          Compact.run(tbl, targetBytes = math.max(8L << 20, inputBytes / 48),
            orderBy = Some("url"), jobParallelism = cpus)
        }
        require(c.nonEmpty, "soak compaction was a no-op")
        val sumCompact = settled() - s0
        val nFilesCompacted = tbl.files().size
        val compactedBytes = tbl.files().map(_.bytes).sum
        // GC the superseded generation between ops: at 10 GB per generation
        // the soak would otherwise hold 4 generations on disk at peak
        // (append+compact+cluster+merge) — a real deployment expires on a
        // schedule for exactly this reason
        Expire.expire(tbl, retainLast = 1)

        val s1 = taskSum.get()
        val (_, tCluster) = time {
          Cluster.zorderRewrite(tbl, Cluster.ZDims(),
            targetFileBytes = math.max(8L << 20, compactedBytes / 64),
            saltThresholdRows = urls / 4)
        }
        val sumCluster = settled() - s1
        val nFilesClustered = tbl.files().size
        Expire.expire(tbl, retainLast = 1)

        // 1% change set: half updates (newer version of an existing url),
        // half inserts — latest-wins CDC merge, the north rule's upsert
        val preMergeSnap = tbl.currentSnapshot.get.id
        val s2 = taskSum.get()
        val spill2 = spillSum.get(); val shw2 = shufWrite.get()
        val (_, tMerge) = time {
          val changes = Synth.pages(spark, urls / 100, hosts = 2000,
            partitions = 64, htmlRepeatMax = 96, seed = 77L)
            .withColumn("warc_ts", col("warc_ts") + expr("interval 400 days"))
            .withColumn("url", when(pmod(xxhash64(col("url")), lit(2)) === 0,
              concat(col("url"), lit("?new"))).otherwise(col("url")))
          Merge.into(tbl, changes, Seq("url"))
        }
        val sumMerge = settled() - s2
        val mergeSpill = spillSum.get() - spill2
        val mergeShufWrite = shufWrite.get() - shw2
        val nFilesMerged = tbl.files().size

        // row-level changelog of the merge commit at this scale: the
        // EXCEPT-ALL diff reads the commit's removed+added files twice —
        // its cost must scale with the commit, not blow up
        val (nChanges, tChanges) = time {
          tbl.changes(preMergeSnap)
            .groupBy(graft.table.Changelog.ChangeTypeCol).count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
        }

        // merge-on-read pass at scale: a 0.5% change batch lands as DV
        // entries + appended images — ZERO touched-file rewrites asserted —
        // then a full scan pays the DV filter once and a pressure
        // compaction materializes the DVs (the steady-state MoR cycle)
        val preMorPaths = tbl.files().map(_.path).toSet
        val (_, tMor) = time {
          val changes2 = Synth.pages(spark, urls / 200, hosts = 2000,
            partitions = 32, htmlRepeatMax = 96, seed = 99L)
            .withColumn("warc_ts", col("warc_ts") + expr("interval 800 days"))
          Merge.into(tbl, changes2, Seq("url"), mode = "merge-on-read")
        }
        val morRewrote = (preMorPaths -- tbl.files().map(_.path).toSet).size
        require(morRewrote == 0,
          s"merge-on-read rewrote $morRewrote data files (must be zero)")
        val morDvRows = tbl.positionDeletes().map(_.rows).sum
        val (_, tDvScan) = time {
          tbl.read().agg(bit_xor(xxhash64(col("url")))).first()
        }
        val (_, tDvCompact) = time {
          Compact.run(tbl, targetBytes = math.max(8L << 20, inputBytes / 48),
            runId = s"soak-dv-$cpus", deleteRatioThreshold = 1e-9)
        }
        val dvCleared = tbl.positionDeletes().isEmpty
        require(dvCleared, "pressure compaction left live DVs behind")
        val (_, tPlainScan) = time {
          tbl.read().agg(bit_xor(xxhash64(col("url")))).first()
        }

        val (exp, tExpire) = time { Expire.expire(tbl, retainLast = 1) }
        // bucketed runs: the stamped-scan gate must survive the whole
        // lifecycle (DVs from the MoR pass were materialized by the
        // pressure compaction above, so the full-stamp invariant is checkable)
        for (n <- buckets)
          require(tbl.bucketSpec().exists(_.numBuckets == n),
            s"bucket($n, url) gate lost after the lifecycle — a rewrite dropped stamps")
        val rows = tbl.read().count()
        val gb = (inputBytes + compactedBytes).toDouble / (1L << 30)
        println(
          f"""{"soak":"local[$cpus]"${buckets.map(n => s""","buckets":$n""").getOrElse("")},"urls":$urls,"input_gb":${inputBytes / (1L << 30).toDouble}%.2f,""" +
          f""""files":{"appended":$nFiles0,"compacted":$nFilesCompacted,"clustered":$nFilesClustered,"merged":$nFilesMerged},""" +
          f""""meta_ms":{"files_parse":${tMeta * 1000}%.0f,"plan_files_prune":${tPlan * 1000}%.0f},""" +
          f""""sec":{"append":$tAppend%.1f,"compact":$tCompact%.1f,"cluster":$tCluster%.1f,"merge":$tMerge%.1f,"expire":$tExpire%.1f},""" +
          f""""occ":{"compact":${occ(sumCompact, tCompact)}%.3f,"cluster":${occ(sumCluster, tCluster)}%.3f,"merge":${occ(sumMerge, tMerge)}%.3f},""" +
          f""""merge_detail":{"task_sum_s":${sumMerge / 1e3}%.1f,"spill_gb":${mergeSpill / (1L << 30).toDouble}%.2f,"shuffle_write_gb":${mergeShufWrite / (1L << 30).toDouble}%.2f},""" +
          f""""changelog":{"sec":$tChanges%.1f,"counts":"$nChanges"},""" +
          f""""mor":{"merge_sec":$tMor%.1f,"rewrote_files":$morRewrote,"dv_rows":$morDvRows,"dv_scan_sec":$tDvScan%.1f,"compact_sec":$tDvCompact%.1f,"cleared":$dvCleared,"plain_scan_sec":$tPlainScan%.1f},""" +
          f""""gbps_compact_cluster":${gb / (tCompact + tCluster)}%.4f,""" +
          f""""expired":{"snapshots":${exp.removedSnapshots.size},"data_files":${exp.deletedDataFiles.size},"manifests":${exp.deletedManifests.size}},""" +
          f""""rows_final":$rows}""")
        graft.table.FileIO.deleteRecursively(root)
      } finally spark.stop()
    }
    graft.table.FileIO.deleteRecursively(
      stagedDir.substring(0, stagedDir.lastIndexOf('/')))
  }
}
