package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.GraftTable

/** Plain-SQL front door: SELECT (with time travel) and INSERT over
  * ``graft.`/path``` identifiers — the engine-side replacement for the
  * reference's HQL SELECT surface (`HBaseTableExplorer.parseAndGetValidatedQuery`). */
class SqlRelationSpec extends SparkSuite {

  private def mk(n: Long): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("sqlrel"), Synth.pageSchema)
    t.append(Synth.pages(spark, n, hosts = 8, partitions = 4))
    t
  }

  test("SELECT over graft.`path` with predicate pushdown file skipping") {
    val t = mk(2000)
    val total = spark.sql(s"SELECT count(*) AS n FROM graft.`${t.root}`").head().getLong(0)
    assert(total === 2000)
    val de = spark.sql(
      s"SELECT count(*) AS n FROM graft.`${t.root}` WHERE lang = 'de'").head().getLong(0)
    assert(de === t.read().filter(col("lang") === "de").count())
    // joins/aliases/aggregations through plain SQL
    val grouped = spark.sql(
      s"""SELECT g.lang, count(*) AS n FROM graft.`${t.root}` g
         |WHERE g.warc_ts IS NOT NULL GROUP BY g.lang""".stripMargin)
    assert(grouped.count() === t.read().select("lang").distinct().count())
  }

  test("SELECT applies merge-on-read tombstones like table.read()") {
    val t = mk(400)
    t.deleteByKeysMoR(t.read().select("url").orderBy("url").limit(25))
    val n = spark.sql(s"SELECT count(*) FROM graft.`${t.root}`").head().getLong(0)
    assert(n === 375, "SQL reads must hide tombstoned keys")
  }

  test("VERSION AS OF and TIMESTAMP AS OF time travel") {
    val t = mk(300)
    val s1 = t.currentSnapshot.get
    Thread.sleep(5)
    t.append(Synth.pages(spark, 200, partitions = 1, seed = 5))
    assert(spark.sql(s"SELECT count(*) FROM graft.`${t.root}` VERSION AS OF ${s1.id}")
      .head().getLong(0) === 300)
    assert(spark.sql(s"SELECT count(*) FROM graft.`${t.root}`").head().getLong(0) === 500)
    val tsLit = new java.sql.Timestamp(s1.timestampMs).toString
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`${t.root}` TIMESTAMP AS OF '$tsLit'")
      .head().getLong(0) === 300)
  }

  test("INSERT INTO appends atomically; INSERT OVERWRITE replaces") {
    val t = mk(100)
    spark.sql(
      s"""INSERT INTO graft.`${t.root}`
         |SELECT concat('https://ins.example.com/p/', id) AS url,
         |       TIMESTAMP '2026-01-01 00:00:00' AS warc_ts,
         |       CAST('<html/>' AS BINARY) AS html, 'inserted' AS text, 'en' AS lang
         |FROM range(10)""".stripMargin).collect()
    assert(t.read().count() === 110)
    assert(t.read().filter(col("text") === "inserted").count() === 10)
    assert(t.currentSnapshot.get.operation === "append")

    spark.sql(
      s"""INSERT OVERWRITE graft.`${t.root}`
         |SELECT url, warc_ts, html, text, lang FROM graft.`${t.root}` WHERE text = 'inserted'""".stripMargin)
      .collect()
    assert(t.read().count() === 10, "overwrite replaces the table content")
    // snapshot isolation: pre-overwrite snapshots remain readable
    assert(t.metadata.snapshots.size >= 2)
  }

  test("metadata tables: graft.`path`.snapshots and .files are SELECTable") {
    val t = mk(300)
    t.append(Synth.pages(spark, 100, partitions = 1, seed = 3))
    val snaps = spark.sql(
      s"SELECT snapshot_id, operation, rows FROM graft.`${t.root}`.snapshots ORDER BY snapshot_id")
    assert(snaps.count() === 2)
    assert(snaps.select("operation").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq === Seq("append", "append"))
    val files = spark.sql(
      s"SELECT count(*) AS n, sum(rows) AS r FROM graft.`${t.root}`.files").head()
    assert(files.getLong(0) === t.files().size.toLong)
    assert(files.getLong(1) === 400L)
  }

  test("metadata table: graft.`path`.partitions aggregates per hidden partition") {
    val t = GraftTable.create(spark, tmpDir("sqlrel-parts"), Synth.pageSchema,
      Map(graft.table.PartitionSpec.Property -> "days(warc_ts)"))
    t.append(Synth.pages(spark, 3000, hosts = 8, partitions = 4))
    val parts = spark.sql(
      s"SELECT partition, files, rows, bytes FROM graft.`${t.root}`.partitions")
      .collect()
    assert(parts.forall(_.getString(0).startsWith("gp_days_warc_ts=")),
      "every partition row names the spec dir value")
    assert(parts.map(_.getLong(2)).sum === 3000L, "rows sum to the table")
    assert(parts.map(_.getLong(1)).sum === t.files().size.toLong)
    assert(parts.length === t.files().flatMap(f =>
      t.partitionSpec.get.dirValue(f.path)).distinct.size, "one row per day")
    // pre-spec files (no dir value) report as <unpartitioned>
    val u = GraftTable.create(spark, tmpDir("sqlrel-unpart"), Synth.pageSchema)
    u.append(Synth.pages(spark, 100, partitions = 2))
    val urows = u.partitionsDf().collect()
    assert(urows.length === 1 && urows.head.getString(0) === "<unpartitioned>")
  }

  test("metadata table: graft.`path`.lineage exposes maintenance audit rows") {
    val t = GraftTable.create(spark, tmpDir("sqlrel-lineage"), Synth.pageSchema)
    t.append(Synth.pages(spark, 1500, partitions = 8))
    // before any maintenance: empty but QUERYABLE (schema present)
    val empty = spark.sql(s"SELECT run_id, op FROM graft.`${t.root}`.lineage")
    assert(empty.count() === 0L)

    spark.sql(s"OPTIMIZE graft.`${t.root}`").collect()
    val rows = spark.sql(
      s"""SELECT op, out_path, rows, source_files, snapshot_id
         |FROM graft.`${t.root}`.lineage""".stripMargin).collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0) == "compact"))
    // per-output rows plus one op-summary row (out_path = "")
    val summary = rows.filter(_.getString(1) == "")
    assert(summary.length === 1)
    assert(summary.head.getLong(2) === 1500L, "summary row counts every output row")
    assert(rows.forall(_.getLong(4) === t.currentSnapshot.get.id))
    assert(rows.forall(r => r.getSeq[String](3).nonEmpty), "sources recorded per output")
  }

  test("lineage files keep their schema in Lineage.metrics and the .lineage relation") {
    import org.apache.spark.sql.types._
    val t = GraftTable.create(spark, tmpDir("sqlrel-lineage-schema"), Synth.pageSchema)
    t.append(Synth.pages(spark, 200, partitions = 2))
    graft.ops.Merge.deleteWhere(t, col("lang") === "de")
    val want = StructType(Seq(
      StructField("run_id", StringType), StructField("snapshot_id", LongType),
      StructField("op", StringType), StructField("out_path", StringType),
      StructField("rows", LongType), StructField("bytes", LongType),
      StructField("source_files", ArrayType(StringType, containsNull = true)),
      StructField("source_bytes", LongType), StructField("wall_ms", LongType),
      StructField("committed_ts", TimestampType)))
    assert(graft.run.Lineage.metrics(spark, t).schema === want)
    assert(spark.sql(s"SELECT * FROM graft.`${t.root}`.lineage").schema === want)
    val Array(summary) = spark.sql(
      s"SELECT op, rows, committed_ts FROM graft.`${t.root}`.lineage WHERE out_path = ''").collect()
    assert(summary.getString(0) == "delete")
    assert(summary.getLong(1) == t.read().count())
    assert(math.abs(summary.getTimestamp(2).getTime - System.currentTimeMillis()) < 600000L)
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema; old files read NULL") {
    val t = mk(100)
    spark.sql(s"ALTER TABLE graft.`${t.root}` ADD COLUMNS (quality DOUBLE, source STRING)")
    val df = spark.sql(s"SELECT * FROM graft.`${t.root}`")
    assert(df.columns.takeRight(2).toSeq === Seq("quality", "source"))
    assert(df.filter(col("quality").isNull && col("source").isNull).count() === 100)
    // NOT NULL / positioned / nested columns are rejected
    val ex = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`${t.root}` ADD COLUMNS (x INT NOT NULL)"))
    assert(ex.getMessage.contains("nullable"), ex.getMessage)
  }

  test("mixed surface: SQL MERGE against a SQL-read source still works") {
    val t = mk(200)
    spark.sql(s"SELECT url, warc_ts, html, 'MERGED' AS text, lang FROM graft.`${t.root}` LIMIT 7")
      .createOrReplaceTempView("sql_changes")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING sql_changes s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    assert(t.read().filter(col("text") === "MERGED").count() === 7)
    assert(t.read().count() === 200)
  }
}
