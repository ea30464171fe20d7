package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.Compact
import graft.run.Synth

/** Bucket-preserving scans: files of a `bucket(n, col)`-partitioned table
  * are stamped with Spark's bucket-id file-name suffix at write time, and a
  * fully-stamped snapshot scans as a bucketed relation — the plan reports
  * `HashPartitioning(col, n)` and joins/aggregations on the bucket column
  * run with ZERO shuffle (storage-partitioned execution). At 100 TB this is
  * the difference between a join that moves the table and one that moves
  * nothing. */
class BucketScanSpec extends SparkSuite {

  private val prop = Map(PartitionSpec.Property -> "bucket(8, url)")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("writes stamp bucket ids; bucketed groupBy and self-join are shuffle-free") {
    val t = GraftTable.create(spark, tmpDir("graft-bucket"), Synth.pageSchema, prop)
    t.append(Synth.pages(spark, 2000, partitions = 4))

    // every file stamped, consistent with its partition dir
    val files = t.files()
    assert(files.nonEmpty)
    for (f <- files) {
      val dir = f.path.split('/').find(_.startsWith("gp_bucket_8_url=")).map(_.split('=')(1).toInt)
      val name = f.path.substring(f.path.lastIndexOf('/') + 1)
      val stamp = org.apache.spark.sql.graftshim.GraftRelation.bucketIdOf(name)
      assert(dir.isDefined && stamp == dir, s"file ${f.path}: dir=$dir stamp=$stamp")
    }

    // aggregation on the bucket column: no exchange anywhere in the plan
    val agg = t.read().groupBy("url").agg(count(lit(1)).as("n"), max("warc_ts").as("ts"))
    val aggPlan = planOf(agg)
    assert(!aggPlan.contains("Exchange"), s"bucketed groupBy must not shuffle:\n$aggPlan")
    // and it computes the same answer as a plain (bucketing-off) read
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    val expected = try t.read().groupBy("url").agg(count(lit(1)).as("n"), max("warc_ts").as("ts"))
      .collect().toSet
    finally spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    assert(agg.collect().toSet === expected)

    // co-bucketed join (same column, same n): zero shuffles on both sides
    val t2 = GraftTable.create(spark, tmpDir("graft-bucket2"), Synth.pageSchema, prop)
    t2.append(Synth.pages(spark, 1000, partitions = 2, seed = 7))
    val joined = t.read().select("url", "lang")
      .join(t2.read().select(col("url"), col("lang").as("lang2")), "url")
    val joinPlan = planOf(joined)
    assert(!joinPlan.contains("ShuffleExchange"),
      s"co-bucketed join must not hash-shuffle:\n$joinPlan")
    assert(joined.count() > 0)
  }

  test("gate is all-or-nothing: pre-spec files disable the bucketed scan") {
    val t = GraftTable.create(spark, tmpDir("graft-bucket-mixed"), Synth.pageSchema)
    t.append(Synth.pages(spark, 500, partitions = 2))
    t.setPartitionSpec(Some("bucket(8, url)"))
    t.append(Synth.pages(spark, 500, partitions = 2, seed = 9))
    // mixed layout: unstamped pre-spec files → scan must stay unbucketed
    val aggPlan = planOf(t.read().groupBy("url").agg(count(lit(1)).as("n")))
    assert(aggPlan.contains("Exchange"), "mixed layout must fall back to a shuffle")
    assert(t.read().count() === 1000)

    // a full compaction rewrite migrates everything under the spec → bucketed
    Compact.run(t, targetBytes = 1L << 30)
    assert(t.files().forall(_.path.contains("gp_bucket_8_url=")))
    val after = t.read().groupBy("url").agg(count(lit(1)).as("n"))
    assert(!planOf(after).contains("Exchange"),
      s"post-rewrite scan must be bucketed:\n${planOf(after)}")
    assert(after.collect().map(_.getLong(1)).sum === 1000)
  }

  test("merge on the bucket key shuffles only the source side") {
    val t = GraftTable.create(spark, tmpDir("graft-bucket-merge"), Synth.pageSchema, prop)
    t.append(Synth.pages(spark, 2000, partitions = 4))

    // plan shape: the bucketed target scan reports HashPartitioning(url, 8),
    // so the full-outer merge join carries exactly ONE exchange (the source)
    val src = Synth.pages(spark, 100, partitions = 2).withColumn("_deleted", lit(false))
    val scan = graft.ops.Merge.targetScan(t.state, t.files(), Seq("url"))
    val joined = scan.alias("t").join(src.alias("s"), scan("url") === src("url"), "full_outer")
    val plan = joined.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size === 1,
      s"bucketed merge join must shuffle only the source:\n$plan")
    // composite keys would shuffle both sides — targetScan must not cap the
    // scan at n partitions for a partitioning the join can't use
    val comp = graft.ops.Merge.targetScan(t.state, t.files(), Seq("url", "lang"))
    val compBuckets = comp.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.bucketSpec
    }.flatten
    assert(compBuckets.isEmpty, "composite-key target scan must stay unbucketed")

    // end-to-end: the merge applies; the output rewrite SKIPS its range
    // exchange (the join output is already bucket-co-partitioned) yet still
    // writes bucket-stamped, key-ordered files — small targetFileBytes
    // forces the multi-file roll so the skip path is the one exercised
    val updates = t.read().dropDuplicates("url").limit(50)
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 DAY"))
      .withColumn("lang", lit("xx"))
      .localCheckpoint(true)
    val n = updates.count()
    graft.ops.Merge.into(t, updates, Seq("url"), targetFileBytes = 64L * 1024)
    assert(t.read().filter(col("lang") === "xx").count() === n)
    assert(t.bucketSpec().isDefined, "post-merge files must keep their bucket stamps")
    val files = t.files()
    assert(files.size > 8, s"64 KB target must roll several files per bucket: ${files.size}")
    // within each bucket the MERGE OUTPUT files are non-overlapping sorted
    // runs — the tight-bounds property the next merge's interval index
    // prunes by. Only the merge commit's own files: bucket-dir pruning
    // legitimately leaves untouched older files in place, and those overlap
    // the new runs by construction. Checked on the ACTUAL per-file key
    // ranges (stored string bounds are 32-char truncated prefix/
    // incremented-prefix, so adjacent metadata bounds legitimately touch)
    val perFile = t.read()
      .select(col("url"), org.apache.spark.sql.functions.input_file_name().as("f"))
      .groupBy("f").agg(min("url").as("lo"), max("url").as("hi"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filter(_._1.contains("/merge-"))
    for ((bucket, fs) <- perFile.groupBy(
        _._1.split('/').find(_.startsWith("gp_bucket_8_url=")).get) if fs.length > 1) {
      val sorted = fs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, hi1), (f2, lo2, _)) => assert(hi1 <= lo2,
          s"$bucket: $f2 overlaps its predecessor after the bucket-skip merge")
        case _ => ()
      }
    }
  }

  test("writer option partition-spec creates a bucketed table; mismatch errors") {
    val root = tmpDir("graft-bucket-writer")
    val df = graft.run.Synth.pages(spark, 300, partitions = 2)
    df.write.format("graft").option("partition-spec", "bucket(8, url)")
      .mode("append").save(root)
    val t = GraftTable.load(spark, root)
    assert(t.partitionSpecs.map(_.toString) === Seq("bucket(8, url)"))
    assert(t.bucketSpec().isDefined, "writer-created table must scan bucketed")
    // same spec re-requested on the existing table: fine
    df.write.format("graft").option("partition-spec", "bucket(8, url)")
      .mode("append").save(root)
    assert(GraftTable.load(spark, root).read().count() === 600)
    // a DIFFERENT spec must fail loudly, not silently ignore
    val ex = intercept[Exception] {
      df.write.format("graft").option("partition-spec", "bucket(16, url)")
        .mode("append").save(root)
    }
    def msgs(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(t => t.getMessage +: msgs(t.getCause).toList)
    assert(msgs(ex).exists(m => m != null && m.contains("SET PARTITION SPEC")), msgs(ex).mkString("; "))
  }

  test("bucket composed with a time transform keeps the bucketed scan") {
    val t = GraftTable.create(spark, tmpDir("graft-bucket-multi"), Synth.pageSchema,
      Map(PartitionSpec.Property -> "bucket(8, url), days(warc_ts)"))
    t.append(Synth.pages(spark, 1000, partitions = 2))
    assert(t.files().forall(f =>
      f.path.contains("gp_bucket_8_url=") && f.path.contains("gp_days_warc_ts=")))
    assert(t.bucketSpec().isDefined, "one bucket transform among several specs must gate on")
    val agg = t.read().groupBy("url").agg(count(lit(1)).as("n"))
    assert(!planOf(agg).contains("Exchange"), "nested-dir bucketed groupBy must not shuffle")
    assert(agg.collect().map(_.getLong(1)).sum === 1000)
    // time-transform pruning still works under the composed layout
    val someDay = t.read().select(to_date(col("warc_ts")).as("d")).head().getDate(0)
    val pred = to_date(col("warc_ts")) === lit(someDay)
    assert(t.planFiles(Some(pred)).size < t.files().size)
    assertSameRows(t.read(Some(pred)), t.read().filter(pred), "day-pruned bucketed scan")
  }

  test("touchedFiles prunes to the key's bucket dir") {
    val t = GraftTable.create(spark, tmpDir("graft-bucket-touch"), Synth.pageSchema, prop)
    t.append(Synth.pages(spark, 2000, partitions = 4))
    import spark.implicits._
    val one = t.read().select("url").head().getString(0)
    // the key's bucket through Spark's own hash — what the writer laid out by
    val b = spark.range(1).select(pmod(hash(lit(one)), lit(8))).head().getInt(0)
    val touched = graft.ops.Merge.touchedFiles(t, Seq(one).toDF("url"), Seq("url"))
    assert(touched.nonEmpty)
    assert(touched.forall(_.path.contains(s"gp_bucket_8_url=$b/")),
      s"files outside bucket $b touched: ${touched.map(_.path).mkString(", ")}")
    assert(touched.size < t.files().size / 2,
      s"bucket pruning must beat interval stabbing alone: ${touched.size}/${t.files().size}")
  }

  test("coalesceBucketsInJoin joins bucket(16) against bucket(8) shuffle-free") {
    val t16 = GraftTable.create(spark, tmpDir("graft-bucket-c16"), Synth.pageSchema,
      Map(PartitionSpec.Property -> "bucket(16, url)"))
    t16.append(Synth.pages(spark, 1200, partitions = 2))
    val t8 = GraftTable.create(spark, tmpDir("graft-bucket-c8"), Synth.pageSchema,
      Map(PartitionSpec.Property -> "bucket(8, url)"))
    t8.append(Synth.pages(spark, 800, partitions = 2, seed = 5))

    def joined() = t16.read().select("url", "lang")
      .join(t8.read().select(col("url"), col("lang").as("lang2")), "url")
    // mismatched bucket counts + Spark's coalescing rule: the 16-bucket scan
    // reads two buckets per task to match HashPartitioning(url, 8) — no
    // exchange on either side (divisible counts only; ratio ≤ maxBucketRatio)
    spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle-family join
    val (plan, rows) =
      try (planOf(joined()), joined().count())
      finally {
        spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "false")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    assert(!plan.contains("ShuffleExchange"),
      s"coalesced mixed-bucket join must not shuffle:\n$plan")
    assert(plan.contains("Coalesced"), s"16-bucket side must report coalescing:\n$plan")
    // parity: same join with bucketing off entirely
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    val expected = try joined().count()
      finally spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    assert(rows === expected && rows > 0)
  }

  test("bucketed read result matches unbucketed read exactly") {
    val t = GraftTable.create(spark, tmpDir("graft-bucket-parity"), Synth.pageSchema, prop)
    t.append(Synth.pages(spark, 1500, partitions = 3))
    val bucketed = t.read()
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    try assertSameRows(bucketed, t.read(), "bucketed vs plain scan")
    finally spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // predicate scans keep their file pruning under the bucketed relation
    val one = t.read().select("url").head().getString(0)
    val planned = t.planFiles(Some(col("url") === one))
    assert(planned.size < t.files().size, "bucket-value pruning still engages")
    assertSameRows(t.read(Some(col("url") === one)),
      t.read().filter(col("url") === one), "pruned bucketed scan")
  }
}
