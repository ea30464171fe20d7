package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.GraftTable

/**
 * Metadata-only aggregates (GraftMetadataAggRule): count/min/max over a bare
 * graft scan must be answered from manifest stats WITHOUT scanning files —
 * and every soundness gate must fall back to a real scan, never a wrong
 * number. Each case asserts BOTH the plan shape and the value.
 */
class MetadataAggSpec extends SparkSuite {
  import spark.implicits._

  /** true when the optimized plan reads no relation (pure metadata answer) */
  private def noScan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case _: LogicalRelation => () }.isEmpty

  private def freshTable(n: Int = 1000): GraftTable = {
    val df = spark.range(n).select(
      col("id").as("k"),
      when(pmod(col("id"), lit(3)) === 0, lit(null)).otherwise(col("id") * 2).as("v"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      (col("id") % 100).cast("decimal(9,2)").as("d"),
      concat(lit("u"), lpad(col("id").cast("string"), 6, "0")).as("s"))
    val root = tmpDir("graft-metaagg")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df.repartition(4))
    t
  }

  test("count(*), min/max over long+ts+decimal answer from metadata with no scan") {
    val t = freshTable()
    val agg = t.read().agg(
      count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
      min("ts").as("tmn"), max("ts").as("tmx"),
      min("d").as("dmn"), max("d").as("dmx"))
    assert(noScan(agg), s"expected metadata-only plan:\n${agg.queryExecution.optimizedPlan}")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == 0 && r.getLong(2) == 999)
    assert(r.getTimestamp(3).getTime == 1700000000L * 1000)
    assert(r.getTimestamp(4).getTime == (1700000000L + 999 * 60) * 1000)
    assert(r.getDecimal(5).compareTo(new java.math.BigDecimal("0.00")) == 0)
    assert(r.getDecimal(6).compareTo(new java.math.BigDecimal("99.00")) == 0)
  }

  test("count(col) uses per-file null counts; composed expressions still fold") {
    val t = freshTable()
    val agg = t.read().agg((count(col("v")) + 1).as("n1"), count(lit(1)).as("n"))
    assert(noScan(agg), agg.queryExecution.optimizedPlan.toString)
    val r = agg.collect()(0)
    val expected = 1000 - (1000 + 2) / 3 // ids divisible by 3 are null
    assert(r.getLong(0) == expected + 1 && r.getLong(1) == 1000)
  }

  test("dataset count() fast path and empty table") {
    val t = freshTable(500)
    val cnt = t.read().groupBy().count()
    assert(noScan(cnt), cnt.queryExecution.optimizedPlan.toString)
    assert(t.read().count() == 500)
    val empty = GraftTable.create(spark, tmpDir("graft-metaagg-empty"), Synth.pageSchema)
    assert(empty.read().count() == 0)
    val mn = empty.read().agg(min("warc_ts").as("m"))
    assert(noScan(mn), mn.queryExecution.optimizedPlan.toString)
    assert(mn.collect()(0).isNullAt(0))
  }

  test("SQL front door: SELECT count/min/max FROM graft.`path` is metadata-only") {
    val t = freshTable(400)
    val q = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mn, max(ts) AS mx FROM graft.`${t.root}`")
    assert(noScan(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect()(0)
    assert(r.getLong(0) == 400 && r.getLong(1) == 0)
    assert(r.getTimestamp(2).getTime == (1700000000L + 399 * 60) * 1000)
    // time travel pins the aggregated snapshot
    val s1 = t.currentSnapshot.get.id
    t.append(spark.range(400, 450).select(
      col("id").as("k"), (col("id") * 2).as("v"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      (col("id") % 100).cast("decimal(9,2)").as("d"),
      concat(lit("u"), lpad(col("id").cast("string"), 6, "0")).as("s")))
    val tt = spark.sql(s"SELECT count(*) AS n FROM graft.`${t.root}` VERSION AS OF $s1")
    assert(noScan(tt), tt.queryExecution.optimizedPlan.toString)
    assert(tt.collect()(0).getLong(0) == 400)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`${t.root}`")
      .collect()(0).getLong(0) == 450)
  }

  test("soundness gates fall back to a real scan") {
    val t = freshTable()
    // string bounds are truncation-widened → never metadata-answered
    assert(!noScan(t.read().agg(min("s"))))
    // any filter on top disqualifies
    assert(!noScan(t.read().filter(col("k") > 10).agg(count(lit(1)))))
    assert(!noScan(t.read(Some(col("k") > 10)).agg(count(lit(1)))))
    // distinct / filtered / grouped aggregates disqualify
    assert(!noScan(t.read().agg(countDistinct(col("v")))))
    assert(!noScan(t.read().groupBy(col("s")).agg(count(lit(1)))))
    // conf kill switch
    spark.conf.set("spark.graft.metadata-agg.enabled", "false")
    try assert(!noScan(t.read().agg(count(lit(1)))))
    finally spark.conf.unset("spark.graft.metadata-agg.enabled")
  }

  test("MoR tombstones disqualify the fast path and the count stays exact") {
    val t = freshTable()
    t.deleteByKeysMoR(spark.range(10).select((col("id") * 10).as("k")))
    val agg = t.read().agg(count(lit(1)).as("n"))
    assert(!noScan(agg), "the deletion-vector filter must force a scan")
    assert(agg.collect()(0).getLong(0) == 990)
  }

  test("evolution-added column falls back (older files lack its stats)") {
    val t = freshTable(300)
    t.addColumn(org.apache.spark.sql.types.StructField(
      "w", org.apache.spark.sql.types.LongType))
    val snap = t.read()
    // count(*) still metadata-only — row counts are column-independent
    assert(noScan(snap.agg(count(lit(1)))))
    // but per-column stats of `w` don't exist for the old generation
    assert(!noScan(snap.agg(count(col("w")))))
    assert(!noScan(snap.agg(max(col("w")))))
    assert(snap.agg(count(col("w"))).collect()(0).getLong(0) == 0)
    // append a generation that HAS the column: exact again once all files
    // carry stats
    val df2 = spark.range(300, 400).select(
      col("id").as("k"), (col("id") * 2).as("v"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      (col("id") % 100).cast("decimal(9,2)").as("d"),
      concat(lit("u"), lpad(col("id").cast("string"), 6, "0")).as("s"),
      (col("id") + 7).as("w"))
    t.append(df2)
    assert(t.read().agg(count(lit(1))).collect()(0).getLong(0) == 400)
    assert(t.read().agg(count(col("w"))).collect()(0).getLong(0) == 100)
  }

  test("time travel answers from the pinned snapshot's metadata") {
    val t = freshTable(200)
    val s1 = t.currentSnapshot.get.id
    t.append(spark.range(200, 260).select(
      col("id").as("k"), (col("id") * 2).as("v"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      (col("id") % 100).cast("decimal(9,2)").as("d"),
      concat(lit("u"), lpad(col("id").cast("string"), 6, "0")).as("s")))
    val old = t.readSnapshot(s1).agg(count(lit(1)).as("n"), max("k").as("mx"))
    assert(noScan(old), old.queryExecution.optimizedPlan.toString)
    val r = old.collect()(0)
    assert(r.getLong(0) == 200 && r.getLong(1) == 199)
    assert(t.read().agg(max("k")).collect()(0).getLong(0) == 259)
  }

  test("metadata answers equal forced-scan answers after a lifecycle") {
    val t = freshTable(800)
    graft.ops.Compact.run(t, targetBytes = 1L << 20)
    val meta = t.read().agg(count(lit(1)), count(col("v")), min("k"), max("k"),
      min("ts"), max("ts"), min("d"), max("d")).collect()(0)
    spark.conf.set("spark.graft.metadata-agg.enabled", "false")
    val scan =
      try t.read().agg(count(lit(1)), count(col("v")), min("k"), max("k"),
        min("ts"), max("ts"), min("d"), max("d")).collect()(0)
      finally spark.conf.unset("spark.graft.metadata-agg.enabled")
    assert(meta == scan, s"metadata $meta != scan $scan")
  }
}
