package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.GraftTable

/** SQL `OPTIMIZE` / `VACUUM` — maintenance through the injected parser
  * (Spark's grammar has no such productions; everything else must keep
  * parsing through the delegate untouched). */
class SqlMaintenanceSpec extends SparkSuite {

  test("OPTIMIZE compacts; OPTIMIZE ZORDER clusters; VACUUM expires") {
    val t = GraftTable.create(spark, tmpDir("sqlmaint"), Synth.pageSchema)
    t.append(Synth.pages(spark, 3000, partitions = 16))
    val preFiles = t.files().size
    val pre = t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0)

    val r1 = spark.sql(s"OPTIMIZE graft.`${t.root}`").collect()
    assert(r1.head.getString(0) === "compact" && r1.head.getLong(1) > 0)
    assert(t.files().size < preFiles, "compaction must shrink the file count")
    assert(t.currentSnapshot.get.operation === "compact")

    val r2 = spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER").collect()
    assert(r2.head.getString(0) === "cluster-zorder" && r2.head.getLong(1) > 0)
    assert(t.currentSnapshot.get.operation === "cluster")
    assert(t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0) === pre,
      "maintenance must preserve every row byte-for-byte")

    val r3 = spark.sql(s"VACUUM graft.`${t.root}` RETAIN 1 SNAPSHOTS").collect()
    assert(r3.head.getLong(0) >= 2, s"append+compact snapshots must expire: ${r3.toSeq}")
    assert(t.metadata.snapshots.size === 1)
    assert(t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0) === pre)
  }

  test("OPTIMIZE ZORDER INCREMENTAL rewrites only unclustered files") {
    val t = GraftTable.create(spark, tmpDir("sqlmaint-incr"), Synth.pageSchema)
    t.append(Synth.pages(spark, 3000, partitions = 8))
    spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER").collect()
    val clustered = t.files().map(_.path).toSet
    t.append(Synth.pages(spark, 1000, partitions = 4, seed = 7))
    val pre = t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0)

    val r = spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER INCREMENTAL").collect()
    assert(r.head.getString(0) === "cluster-zorder" && r.head.getLong(1) > 0)
    val after = t.files().map(_.path).toSet
    assert(clustered.subsetOf(after), "clustered files must not be rewritten")
    assert(t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0) === pre)
    // steady state: nothing left to do → -1
    assert(spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER INCREMENTAL")
      .collect().head.getLong(1) === -1L)
    // WHERE + INCREMENTAL is ambiguous scoping — refused loudly
    val ex = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE lang = 'de' ZORDER INCREMENTAL").collect()
    }
    assert(ex.getMessage.contains("INCREMENTAL"))
    // INCREMENTAL without ZORDER must be rejected, not swallowed into the
    // WHERE predicate as an alias
    val ex2 = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE lang = 'de' INCREMENTAL").collect()
    }
    assert(ex2.getMessage.contains("ZORDER"), ex2.getMessage)
    // a typo'd column fails loudly even in the steady state (nothing to do)
    val ex3 = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER BY (lagn) INCREMENTAL").collect()
    }
    assert(ex3.getMessage.contains("lagn"), ex3.getMessage)
    // an EMPTY column list gets a targeted message, not the delegate
    // parser's unrelated syntax error
    val ex4 = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER BY ()").collect()
    }
    assert(ex4.getMessage.contains("clustering column list is empty"), ex4.getMessage)
    // quoting the comma-split cannot recover is rejected, not mis-parsed
    val ex5 = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER BY (`a``b`)").collect()
    }
    assert(ex5.getMessage.contains("does not support"), ex5.getMessage)
  }

  test("INCREMENTAL reclusters files ordered on STALE dims after a layout change") {
    val t = GraftTable.create(spark, tmpDir("sqlmaint-stale"), Synth.pageSchema)
    t.append(Synth.pages(spark, 2000, partitions = 4))
    spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER BY (url)").collect()
    val pre = t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0)
    // the table's declared layout changes: every url-ordered file is stale
    spark.sql(
      s"ALTER TABLE graft.`${t.root}` SET TBLPROPERTIES ('cluster-columns' = 'warc_ts')")
    val r = spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER INCREMENTAL").collect()
    assert(r.head.getLong(1) > 0,
      "stale-dims files must rewrite, not report steady-state")
    assert(t.currentSnapshot.get.summary("zdims") === "warc_ts")
    assert(t.read().agg(bit_xor(xxhash64(col("url"), col("text")))).head().getLong(0) === pre)
    // now everything is ordered on the declared dims → true steady state
    assert(spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER INCREMENTAL")
      .collect().head.getLong(1) === -1L)
  }

  test("DESCRIBE DETAIL returns the one-row metadata summary") {
    val root = tmpDir("sqlmaint-detail")
    val t = GraftTable.create(spark, root, Synth.pageSchema,
      Map(graft.table.PartitionSpec.Property -> "bucket(4, url)"))
    t.append(Synth.pages(spark, 500, partitions = 2))
    spark.sql(s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('cluster-columns' = 'url')")
    val r = spark.sql(s"DESCRIBE DETAIL graft.`$root`").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("format") == "graft/parquet")
    assert(row.getAs[String]("location") == root)
    assert(row.getAs[Long]("num_files") == t.files().size.toLong)
    assert(row.getAs[Long]("num_data_rows") == 500L)
    assert(row.getAs[Long]("size_bytes") > 0L)
    assert(row.getAs[Long]("snapshot_id") == t.currentSnapshot.get.id)
    assert(row.getAs[String]("partition_spec") == "bucket(4, url)")
    assert(row.getAs[String]("cluster_columns") == "url")
    assert(row.getAs[Long]("num_position_delete_entries") == 0L)

    // MoR deletes: physical rows stay, the delete-side columns say why
    val victims = t.read().select("url").orderBy("url").limit(20)
      .collect().map(_.getString(0)).toSet
    assert(t.deleteWherePositional(col("url").isInCollection(victims)).isDefined)
    val d2 = spark.sql(s"DESCRIBE DETAIL graft.`$root`").collect().head
    assert(d2.getAs[Long]("num_data_rows") == 500L, "physical rows unchanged")
    assert(d2.getAs[Long]("num_position_delete_entries") == 20L)
    assert(t.read().count() == 480L)

    // no data file opened: answered from manifests (empty table works too)
    val empty = tmpDir("sqlmaint-detail-empty")
    GraftTable.create(spark, empty, Synth.pageSchema)
    val e = spark.sql(s"DESCRIBE DETAIL graft.`$empty`").collect().head
    assert(e.getAs[Long]("num_files") == 0L && e.getAs[Long]("num_data_rows") == 0L)
  }

  test("OPTIMIZE WHERE scopes the pass to predicate-matching files only") {
    val t = GraftTable.create(spark, tmpDir("sqlmaint-where"), Synth.pageSchema)
    // two disjoint lang populations, each as many small files
    t.append(Synth.pages(spark, 800, partitions = 6).withColumn("lang", lit("aa")))
    t.append(Synth.pages(spark, 800, partitions = 6, seed = 7).withColumn("lang", lit("bb")))
    val pre = t.read().agg(bit_xor(xxhash64(col("url"), col("text"), col("lang"))))
      .head().getLong(0)
    val bbPaths = t.files().filter(_.minValues.get("lang").contains("bb")).map(_.path).toSet
    assert(bbPaths.size == 6)

    val r = spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE lang = 'aa'").collect()
    assert(r.head.getString(0) == "compact" && r.head.getLong(1) > 0)
    val after = t.files()
    assert(after.map(_.path).toSet.intersect(bbPaths) == bbPaths,
      "files outside the predicate must be untouched (same paths)")
    assert(after.count(_.minValues.get("lang").contains("aa")) == 1,
      "matching small files compact into one")
    assert(t.read().agg(bit_xor(xxhash64(col("url"), col("text"), col("lang"))))
      .head().getLong(0) == pre, "scoped maintenance preserves every row")

    // a scoped pass must keep the MoR deletes of the files outside its
    // predicate
    import spark.implicits._
    val dead = t.read().filter(col("lang") === "bb").select("url").as[String].take(3).toSeq
    // the same url can exist under both langs — the key delete hides all of them
    val expected = 1600 - t.read().filter(col("url").isin(dead: _*)).count()
    t.deleteByKeysMoR(dead.toDF("url"))
    val bbDeleted = t.posDeleteRowCounts().keySet.intersect(bbPaths)
    assert(bbDeleted.nonEmpty)
    spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE lang = 'aa'").collect()
    assert(bbDeleted.subsetOf(t.posDeleteRowCounts().keySet),
      "scoped compact must keep the DV entries of files outside the predicate")
    assert(t.read().count() == expected)

    // WHERE + ZORDER: scoped clustering rewrites only matching files
    t.append(Synth.pages(spark, 400, partitions = 4, seed = 11).withColumn("lang", lit("aa")))
    val cntBefore = t.read().count()
    val bbNow = t.files().filter(_.minValues.get("lang").contains("bb")).map(_.path).toSet
    val rz = spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE lang = 'aa' ZORDER").collect()
    assert(rz.head.getString(0) == "cluster-zorder" && rz.head.getLong(1) > 0)
    assert(t.files().map(_.path).toSet.intersect(bbNow) == bbNow,
      "ZORDER WHERE leaves non-matching files in place")
    assert(t.read().count() == cntBefore, "scoped ZORDER preserves the visible rows")

    // WHERE matching nothing → clean no-op
    val r0 = spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE lang = 'zz'").collect()
    assert(r0.head.getLong(1) == -1L, "no matching files → no-op, not an error")
  }

  test("RESTORE TABLE rolls back to a version or tag, data-free") {
    val t = GraftTable.create(spark, tmpDir("sqlmaint-restore"), Synth.pageSchema)
    t.append(Synth.pages(spark, 500, partitions = 2))
    val s1 = t.currentSnapshot.get.id
    spark.sql(s"ALTER TABLE graft.`${t.root}` CREATE TAG before-bad-load")
    t.append(Synth.pages(spark, 200, partitions = 2, seed = 5))
    assert(t.read().count() == 700)

    val r = spark.sql(s"RESTORE TABLE graft.`${t.root}` TO VERSION AS OF 'before-bad-load'")
      .collect().head
    assert(r.getLong(0) == s1 + 1 && r.getLong(1) == s1)
    assert(t.read().count() == 500, "restore hides the bad append instantly")

    // redo: restore forward by numeric id (abandoned snapshots stay)
    spark.sql(s"RESTORE TABLE graft.`${t.root}` TO VERSION AS OF ${s1 + 1}").collect()
    assert(t.read().count() == 700)
    intercept[Exception](
      spark.sql(s"RESTORE TABLE graft.`${t.root}` TO VERSION AS OF 999").collect())
  }

  test("hilbert variant and delegate passthrough") {
    val t = GraftTable.create(spark, tmpDir("sqlmaint-h"), Synth.pageSchema)
    t.append(Synth.pages(spark, 1000, partitions = 4))
    val r = spark.sql(s"OPTIMIZE graft.`${t.root}` ZORDER HILBERT").collect()
    assert(r.head.getString(0) === "cluster-hilbert")
    assert(t.currentSnapshot.get.summary("curve") === "hilbert")
    // the wrapped parser must not swallow ordinary SQL or its errors
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) === 2)
    intercept[Exception](spark.sql("OPTIMIZE nonsense without a table"))
    intercept[Exception](spark.sql(s"VACUUM graft.`/no/such/table`").collect())
  }
}
