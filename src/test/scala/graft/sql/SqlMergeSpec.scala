package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.GraftTable

/** SQL `MERGE INTO graft.`<path>`` — the reference's user-facing merge
  * surface (`hive/HiveTableIR.java:234-302` generates HiveQL merge scripts)
  * re-expressed through Spark's parser + a resolution rule that plans into
  * `Merge.into`. */
class SqlMergeSpec extends SparkSuite {

  private def mk(n: Long): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("sqlmerge"), Synth.pageSchema)
    t.append(Synth.pages(spark, n, hosts = 10, partitions = 4))
    t
  }

  test("MERGE upserts: UPDATE SET * + INSERT *") {
    val t = mk(500)
    val preSnap = t.currentSnapshot.get.id
    // changes: 20 updates (same url, new text) + 10 inserts (new urls)
    val updates = t.read().orderBy("url").limit(20)
      .withColumn("text", lit("SQLUPDATED"))
    val inserts = Synth.pages(spark, 10, hosts = 3, partitions = 1, seed = 321)
      .withColumn("url", concat(lit("https://brand-new.example.com/p/"), monotonically_increasing_id()))
    updates.unionByName(inserts).createOrReplaceTempView("changes")

    val res = spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING changes s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(res.length == 1, "statement returns the committed snapshot id")

    assert(t.read().count() === 510)
    assert(t.read().filter(col("text") === "SQLUPDATED").count() === 20)
    assert(t.read().filter(col("url").startsWith("https://brand-new.")).count() === 10)
    // snapshot isolation: pre-merge snapshot unchanged
    assert(t.readSnapshot(preSnap).count() === 500)
    assert(t.currentSnapshot.get.operation === "merge")
  }

  test("MERGE with conditional DELETE clause") {
    val t = mk(300)
    t.read().orderBy("url").limit(30)
      .withColumn("op", when(col("url").substr(-1, 1).isin("0", "1", "2"), "D").otherwise("U"))
      .withColumn("text", lit("CHANGED"))
      .createOrReplaceTempView("changes2")
    val nDel = spark.table("changes2").filter(col("op") === "D").count()
    assert(nDel > 0)

    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING changes2 s ON t.url = s.url
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(t.read().count() === 300 - nDel)
    assert(t.read().filter(col("text") === "CHANGED").count() === 30 - nDel)
  }

  test("MERGE with only UPDATE ignores unmatched source rows") {
    val t = mk(100)
    t.read().limit(5).withColumn("text", lit("U1"))
      .unionByName(Synth.pages(spark, 5, partitions = 1, seed = 77)
        .withColumn("url", concat(lit("https://nowhere.example.com/"), col("url")))
        .withColumn("text", lit("IGNORED")))
      .createOrReplaceTempView("changes3")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING changes3 s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    assert(t.read().count() === 100, "no INSERT clause → no new rows")
    assert(t.read().filter(col("text") === "U1").count() === 5)
    assert(t.read().filter(col("text") === "IGNORED").count() === 0)
  }

  test("delete-only MERGE leaves matched-but-not-deleted rows untouched") {
    val t = mk(200)
    val pre = t.read().withColumn("copy", lit(1)).drop("copy")
    t.read().orderBy("url").limit(40)
      .withColumn("op", when(col("url").substr(-1, 1).isin("0", "4"), "D").otherwise("K"))
      .withColumn("text", lit("MUST-NOT-LAND"))
      .createOrReplaceTempView("delonly")
    val nDel = spark.table("delonly").filter(col("op") === "D").count()
    assert(nDel > 0 && nDel < 40)
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING delonly s ON t.url = s.url
         |WHEN MATCHED AND s.op = 'D' THEN DELETE""".stripMargin).collect()
    assert(t.read().count() === 200 - nDel)
    assert(t.read().filter(col("text") === "MUST-NOT-LAND").count() === 0,
      "rows matched by NO clause must not be updated")
    assertSameRows(t.read(),
      pre.join(spark.table("delonly").filter(col("op") === "D").select("url"),
        Seq("url"), "left_anti"), "delete-only merge")
  }

  test("MERGE works on tables without the default version column") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-nov"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    Seq((2L, "B!"), (9L, "new")).toDF("id", "name").createOrReplaceTempView("novsrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING novsrc s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(t.read().count() === 4)
    assert(t.read().filter(col("id") === 2L).head().getString(1) === "B!")
    // ANSI: duplicate source keys are an error, not an arbitrary pick
    Seq((3L, "x"), (3L, "y")).toDF("id", "name").createOrReplaceTempView("dupsrc")
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING dupsrc s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect())
    assert(ex.getMessage.contains("multiple rows"), ex.getMessage)
  }

  test("composite-key MERGE joins on every key column") {
    // reference parity: the delete-merge joins on ALL rowkey components
    // (hive/HiveTableIR.java:311-315 generates t.k1=s.k1 AND … AND t.kn=s.kn)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("text", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-ck"), schema)
    import spark.implicits._
    t.append(Seq(
      ("a.com", "/1", "a1"), ("a.com", "/2", "a2"),
      ("b.com", "/1", "b1"), ("b.com", "/2", "b2")).toDF("host", "path", "text"))
    // same path exists under both hosts: a single-column join on path would
    // corrupt the other host's row
    Seq(("a.com", "/1", "A1!", "U"), ("b.com", "/2", null: String, "D"),
        ("c.com", "/9", "c9", "U")).toDF("host", "path", "text", "op")
      .createOrReplaceTempView("ckchanges")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING ckchanges s
         |ON t.host = s.host AND t.path = s.path
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val got = t.read().as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("a.com", "/1", "A1!"), ("a.com", "/2", "a2"),
      ("b.com", "/1", "b1"), ("c.com", "/9", "c9")))
  }

  test("column-level UPDATE SET, conditional UPDATE, INSERT (cols) VALUES") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("price", DoubleType),
      StructField("note", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-cols"), schema)
    import spark.implicits._
    t.append(Seq((1L, 10.0, "keep1"), (2L, 20.0, "keep2"), (3L, 30.0, "keep3"))
      .toDF("id", "price", "note"))
    Seq((1L, 6.0, "hot"), (2L, 7.0, "cold"), (9L, 9.0, "new"))
      .toDF("id", "delta", "tag").createOrReplaceTempView("colsrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING colsrc s ON t.id = s.id
         |WHEN MATCHED AND s.tag = 'hot' THEN UPDATE SET price = s.delta * 2
         |WHEN NOT MATCHED THEN INSERT (id, price) VALUES (s.id, s.delta + 0.5)""".stripMargin).collect()
    val got = t.read().as[(Long, Double, Option[String])].collect().toSet
    assert(got === Set(
      (1L, 12.0, Some("keep1")), // matched + hot: ONLY price updated
      (2L, 20.0, Some("keep2")), // matched, tag != hot → untouched
      (3L, 30.0, Some("keep3")), // unmatched by source → untouched
      (9L, 9.5, None)))          // INSERT (id, price): note → NULL
  }

  test("ANSI: NOT MATCHED INSERT applies even alongside a conditional DELETE") {
    // a delete-only MERGE + INSERT * must still insert every unmatched row
    // (matched-clause conditions never affect unmatched rows)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-ansi"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // op D on a MATCHED row → delete; op D on an UNMATCHED row → still insert;
    // op NULL (→ condition NULL) must behave as FALSE, not drop the update
    Seq((1L, "x", "D"), (7L, "seven", "D"), (8L, "eight", "U"), (3L, "C!", null: String))
      .toDF("id", "v", "op").createOrReplaceTempView("ansisrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING ansisrc s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val got = t.read().as[(Long, String)].collect().toSet
    assert(got === Set((2L, "b"), (3L, "C!"), (7L, "seven"), (8L, "eight")))
  }

  test("delete-only MERGE with INSERT: unmatched delete rows insert, matched delete rows die") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-delins"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Seq((1L, "gone"), (5L, "five")).toDF("id", "v").createOrReplaceTempView("disrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING disrc s ON t.id = s.id
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(t.read().as[(Long, String)].collect().toSet === Set((2L, "b"), (5L, "five")))
  }

  test("NOT MATCHED BY SOURCE: delete and update variants") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType),
      StructField("stale", LongType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-nmbs"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 1L))
      .toDF("id", "v", "stale"))
    Seq((1L, "A!"), (9L, "nine")).toDF("id", "v").createOrReplaceTempView("nmbssrc")
    // full sync: upsert the source, delete target rows the source no longer
    // carries — but only those marked stale
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING nmbssrc s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.stale = 1 THEN DELETE""".stripMargin).collect()
    assert(t.read().select("id", "v").as[(Long, String)].collect().toSet ===
      Set((1L, "A!"), (2L, "b"), (9L, "nine")))

    // UPDATE variant: flag rows the source no longer carries
    Seq((2L, "B2")).toDF("id", "v").createOrReplaceTempView("nmbssrc2")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING nmbssrc2 s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET stale = 9""".stripMargin).collect()
    assert(t.read().as[(Long, String, Option[Long])].collect().toSet ===
      Set((1L, "A!", Some(9L)), (2L, "B2", Some(0L)), (9L, "nine", Some(9L))))

    // target-only reference rule: a source-side column in the condition fails
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING nmbssrc2 s ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE AND s.v = 'x' THEN DELETE""".stripMargin))
    assert(ex.getMessage.contains("TARGET columns only"), ex.getMessage)
  }

  test("NMBS with a conditional matched clause leaves matched-but-unfired rows alone") {
    // regression: a matched row whose conditional matched clause does NOT
    // fire is still matched-by-source — the NMBS clause must never touch it
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-nmbs-cond"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // 1: matched + clause fires; 2: matched, clause does NOT fire; 3: absent
    Seq((1L, "A", "U"), (2L, "x", "X")).toDF("id", "v", "op")
      .createOrReplaceTempView("nmbscond")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING nmbscond s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "A"), (2L, "b")), "row 2 is matched (clause unfired) and must survive; row 3 deletes")
    // same shape with the NMBS UPDATE variant
    Seq((1L, "A2", "U")).toDF("id", "v", "op").createOrReplaceTempView("nmbscond2")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING nmbscond2 s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'Z' THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'GONE'""".stripMargin).collect()
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "A"), (2L, "GONE")), "row 1 matched-unfired survives; row 2 unmatched gets flagged")
  }

  test("assignment expressions never evaluate on rows their clause does not fire for") {
    // ANSI mode: CAST('junk' AS BIGINT) throws — but only op='U' rows reach
    // the assignment, so the junk payload on unfired/insert rows must not
    // abort the merge (Spark/Delta guard update exprs with the condition)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", LongType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-ansi-guard"), schema)
    import spark.implicits._
    t.append(Seq((1L, 0L), (2L, 0L)).toDF("id", "n"))
    Seq((1L, "41", "U"), (2L, "junk", "X"), (9L, "junk", "I"))
      .toDF("id", "payload", "op").createOrReplaceTempView("guardsrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING guardsrc s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET n = CAST(s.payload AS BIGINT) + 1
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()
    assert(t.read().as[(Long, Long)].collect().toSet === Set((1L, 42L), (2L, 0L)))
  }

  test("duplicate matched rows that fire no clause do not trip the cardinality check") {
    // ANSI cardinality errors only when a target row is MODIFIED by more
    // than one source row; duplicates that fire no clause are fine
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-noopdup"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // id=2 appears TWICE, neither row fires the conditional update; id=1
    // has one firing row AND one unfired row (must not double-count either)
    Seq((1L, "A", "U"), (1L, "x", "X"), (2L, "x", "X"), (2L, "y", "X"))
      .toDF("id", "v", "op").createOrReplaceTempView("noopdup")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING noopdup s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "A"), (2L, "b")), "ids 1,2 matched by source; 3 deleted")
    // but two FIRING rows for one key still error
    Seq((1L, "p", "U"), (1L, "q", "U")).toDF("id", "v", "op")
      .createOrReplaceTempView("noopdup2")
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING noopdup2 s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect())
    assert(ex.getMessage.contains("multiple rows"), ex.getMessage)
  }

  test("star actions reject sources missing table columns") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType), StructField("w", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-star"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a", "keep")).toDF("id", "v", "w"))
    Seq((1L, "A")).toDF("id", "v").createOrReplaceTempView("narrowsrc")
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING narrowsrc s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect())
    assert(ex.getMessage.contains("missing w"), ex.getMessage)
    // column-level actions on the same narrow source are fine
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING narrowsrc s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin).collect()
    assert(t.read().as[(Long, String, String)].collect().toSet === Set((1L, "A", "keep")))
  }

  test("delete-only MERGE touches only files whose bounds cover source keys") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-prune"), schema)
    import spark.implicits._
    // four appends → four files with disjoint id ranges
    for (base <- Seq(0L, 1000L, 2000L, 3000L))
      t.append((base until base + 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    assert(t.files().size === 4)
    Seq((2010L, "x"), (2020L, "x")).toDF("id", "v").createOrReplaceTempView("prunesrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING prunesrc s ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    val snap = t.currentSnapshot.get
    // the commit summary records how many files the merge read+rewrote: the
    // matched-flag computation AND the merge join must both stay inside the
    // one file whose [2000,2099] bounds cover the keys — no corpus scan
    assert(snap.summary("touched-files") === "1", snap.summary.toString)
    assert(snap.summary("removed-files") === "1", snap.summary.toString)
    assert(t.read().count() === 398)
    // a row no clause fires for does not widen the rewrite either
    Seq((2030L, "D"), (3010L, "K")).toDF("id", "op").createOrReplaceTempView("prunesrc2")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING prunesrc2 s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'D' THEN DELETE""".stripMargin).collect()
    assert(t.currentSnapshot.get.summary("touched-files") === "1")
    assert(t.read().count() === 397)
  }

  test("DV-deleted target rows are NOT MATCHED: the INSERT clause re-ships them") {
    val t = mk(200)
    val victim = t.read().select("url").orderBy("url").head().getString(0)
    t.deleteWherePositional(org.apache.spark.sql.functions.col("url") === victim)
    assert(t.read().filter(org.apache.spark.sql.functions.col("url") === victim).count() === 0)
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING (
         |  SELECT '$victim' AS url, TIMESTAMP '2026-01-01 00:00:00' AS warc_ts,
         |         CAST('h' AS BINARY) AS html, 'REINSERTED' AS text, 'en' AS lang) s
         |ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET text = 'WRONG-MATCHED-A-DEAD-ROW'
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    import spark.implicits._
    val got = t.read().filter(org.apache.spark.sql.functions.col("url") === victim)
      .select("text").as[String].collect().toSeq
    assert(got === Seq("REINSERTED"),
      s"a DV-deleted row must read as NOT MATCHED, got $got")
  }

  test("duplicate matched keys: a firing+non-firing pair errors; all-non-firing keeps ONE copy") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-dup"), schema)
    import spark.implicits._
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // sel=1 fires the conditional update, sel=2 fires nothing: the target
    // row is modified by exactly ONE source row — which ANSI permits (no
    // cardinality error), and the output carries the update exactly once
    Seq((1L, 1L), (1L, 2L)).toDF("id", "sel").createOrReplaceTempView("dupsrc")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING dupsrc s ON t.id = s.id
         |WHEN MATCHED AND s.sel = 1 THEN UPDATE SET v = 'X'
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '!')""".stripMargin).collect()
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "X"), (2L, "b!")),
      "firing duplicate applied once; non-firing duplicate dropped")
    // ALL duplicates non-firing (both still match the target row, so the
    // NMBS clause skips it): no error, row kept exactly ONCE
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING dupsrc s ON t.id = s.id
         |WHEN MATCHED AND s.sel = 99 THEN UPDATE SET v = 'Y'
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '?')""".stripMargin).collect()
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "X"), (2L, "b!?")),
      "all-noop duplicate keys must not duplicate or modify the kept row")
  }

  test("unsupported shapes fail analysis with a clear message") {
    val t = mk(50)
    t.read().limit(1).createOrReplaceTempView("c4")
    // non-equi ON
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING c4 s ON t.url < s.url
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex.getMessage.contains("graft MERGE INTO"), ex.getMessage)
    // assigning a key column would change row identity under the join
    val ex2 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING c4 s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET url = 'x'""".stripMargin))
    assert(ex2.getMessage.contains("key column"), ex2.getMessage)
    // clause order: a DELETE after an unconditional UPDATE is unreachable —
    // Spark's parser already rejects a non-last unconditional clause, and
    // the rule keeps a defensive check behind it
    val ex3 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING c4 s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN MATCHED AND s.lang = 'de' THEN DELETE""".stripMargin))
    assert(ex3.getMessage.contains("NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION") ||
      ex3.getMessage.contains("unreachable"), ex3.getMessage)
    // UNQUALIFIED references shadowed by a target column stay ambiguous —
    // they could bind to either relation (t.-qualified refs are supported)
    val ex4 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING c4 s ON t.url = s.url
         |WHEN MATCHED AND lang = 'de' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex4.getMessage.contains("ambiguous"), ex4.getMessage)
  }

  test("several conditional matched clauses: first-match-wins, per-clause column sets") {
    val t = mk(60)
    val pre = t.read().select("url", "text", "lang").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    val src = t.read().orderBy("url").limit(30)
      .withColumn("op",
        when(col("url").substr(-1, 1) === "0", "D")
          .when(col("url").substr(-1, 1).isin("1", "2", "3"), "A")
          .otherwise("B"))
      .withColumn("newtext", lit("CLAUSE_A_TEXT"))
      .withColumn("newlang", lit("xx"))
    src.createOrReplaceTempView("mc_src")
    val ops = src.select("url", "op").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("D", "A", "B").subsetOf(ops.values.toSet), s"need all three ops, got ${ops.values.toSet}")

    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING mc_src s ON t.url = s.url
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED AND s.op = 'A' THEN UPDATE SET text = s.newtext
         |WHEN MATCHED THEN UPDATE SET lang = s.newlang""".stripMargin).collect()

    val post = t.read().select("url", "text", "lang").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    for ((u, op) <- ops) op match {
      case "D" => assert(!post.contains(u), s"$u should be deleted")
      case "A" =>
        // clause A assigns ONLY text: lang must keep the target value (mask)
        assert(post(u) === ((("CLAUSE_A_TEXT"), pre(u)._2)), s"$u: ${post(u)} vs pre ${pre(u)}")
      case "B" =>
        assert(post(u) === ((pre(u)._1, "xx")), s"$u: ${post(u)} vs pre ${pre(u)}")
    }
    for ((u, v) <- pre if !ops.contains(u))
      assert(post(u) === v, s"untouched row $u changed")
    assert(post.size === 60 - ops.values.count(_ == "D"))
  }

  test("several insert clauses: first-match-wins, per-clause insert images") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("a", StringType), StructField("b", StringType),
      StructField("c", LongType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-ins"), schema)
    t.append((1L to 20L).map(k => (k, s"a$k", s"b$k", k)).toDF("k", "a", "b", "c"))
    Seq((101L, "x1", "y1", 10L, "X"), (102L, "x2", "y2", 20L, "Z"), (103L, "x3", "y3", 30L, "X"))
      .toDF("k", "a", "b", "c", "kind").createOrReplaceTempView("ins_src")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING ins_src s ON t.k = s.k
         |WHEN NOT MATCHED AND s.kind = 'X' THEN INSERT (k, a) VALUES (s.k, upper(s.a))
         |WHEN NOT MATCHED THEN INSERT (k, b, c) VALUES (s.k, s.b, s.c + 1)""".stripMargin).collect()
    val rows = t.read().filter(col("k") > 100).orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(rows.toSeq === Seq(
      (101L, Some("X1"), None, None),        // clause 1: only (k, a)
      (102L, None, Some("y2"), Some(21L)),   // clause 2: only (k, b, c)
      (103L, Some("X3"), None, None)))
    assert(t.read().count() === 23)
  }

  test("both NOT MATCHED BY SOURCE actions honor statement order") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", LongType)))
    def fresh(): GraftTable = {
      val t = GraftTable.create(spark, tmpDir("sqlmerge-nmbs2"), schema)
      t.append((1L to 20L).map(k => (k, k)).toDF("k", "v"))
      t
    }
    Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("k", "v").createOrReplaceTempView("nmbs_src")

    // delete first: unmatched v<10 die, 10<=v<15 get +100, rest keep
    val t1 = fresh()
    spark.sql(
      s"""MERGE INTO graft.`${t1.root}` t USING nmbs_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE AND t.v < 10 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.v < 15 THEN UPDATE SET v = t.v + 100""".stripMargin).collect()
    val got1 = t1.read().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp1 = (1L to 3L).map(k => (k, k)) ++
      (10L to 14L).map(k => (k, k + 100)) ++ (15L to 20L).map(k => (k, k))
    assert(got1 === exp1.sortBy(_._1), s"delete-first: $got1")

    // update first: v<15 (incl. v<10) get +100, nothing deleted (updated
    // rows no longer satisfy the later DELETE's unfired branch)
    val t2 = fresh()
    spark.sql(
      s"""MERGE INTO graft.`${t2.root}` t USING nmbs_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE AND t.v < 15 THEN UPDATE SET v = t.v + 100
         |WHEN NOT MATCHED BY SOURCE AND t.v < 10 THEN DELETE""".stripMargin).collect()
    val got2 = t2.read().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp2 = (1L to 3L).map(k => (k, k)) ++
      (4L to 14L).map(k => (k, k + 100)) ++ (15L to 20L).map(k => (k, k))
    assert(got2 === exp2.sortBy(_._1), s"update-first: $got2")
  }

  test("ON self-comparison and ambiguous unqualified references are rejected") {
    val t = mk(30)
    t.read().limit(3).createOrReplaceTempView("amb_src")
    val ex1 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING amb_src s ON t.url = t.url
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex1.getMessage.contains("one relation to itself"), ex1.getMessage)
    val ex2 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING amb_src s ON s.url = s.url
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex2.getMessage.contains("one relation to itself"), ex2.getMessage)
    // unqualified `lang` exists in the target: would silently bind to the
    // source — rejected as ambiguous, pointing at the source alias
    val ex3 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING amb_src s ON t.url = s.url
         |WHEN MATCHED AND lang = 'de' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex3.getMessage.contains("ambiguous"), ex3.getMessage)
    // a qualifier that is neither alias cannot silently pass either
    val ex4 = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING amb_src s ON t.url = x.url
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex4.getMessage.contains("must join the target alias"), ex4.getMessage)
  }

  test("case-variant identifiers resolve like Spark's own (default case-insensitive)") {
    val t = mk(40)
    t.read().limit(6).withColumn("text", lit("CASED"))
      .createOrReplaceTempView("case_src")
    // ON keys, aliases, and assignment targets in different case — all must
    // canonicalize to the table's spelling instead of failing exact-case
    // checks downstream
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING case_src s ON T.URL = S.url
         |WHEN MATCHED THEN UPDATE SET TEXT = s.text, LANG = upper(s.lang)""".stripMargin).collect()
    assert(t.read().filter(col("text") === "CASED").count() === 6)
    assert(t.read().filter(col("lang") === upper(col("lang"))).count() === 6)
    assert(t.schema.fieldNames.toSeq === graft.run.Synth.pageSchema.fieldNames.toSeq,
      "schema spelling must not change")
  }

  test("duplicate source keys: unmatched inserts are legal, matched rows still error") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", LongType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-dup"), schema)
    t.append((1L to 10L).map(k => (k, k)).toDF("k", "v"))
    // two unmatched rows with the SAME key: ANSI inserts both
    Seq((50L, 1L), (50L, 2L), (60L, 3L)).toDF("k", "v").createOrReplaceTempView("dup_ins")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING dup_ins s ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(t.read().filter(col("k") === 50).count() === 2, "both unmatched dups insert")
    assert(t.read().count() === 13)
    // duplicate MATCHED keys modify one target row twice: error
    Seq((1L, 100L), (1L, 200L)).toDF("k", "v").createOrReplaceTempView("dup_upd")
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING dup_upd s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    assert(ex.getMessage.contains("matched key"), ex.getMessage)
  }

  test("matched clauses may reference TARGET columns: t.-conditions and t.-values") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType), StructField("tag", StringType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-tgt"), schema)
    t.append((1L to 100L).map(k => (k, k * 10.0, "base")).toDF("k", "v", "tag"))
    // source halves v for 1..40 and doubles it for 61..100: only the
    // doubled rows satisfy t.v < s.v; the freshness-style condition plus a
    // both-sides assignment is the exact ANSI shape the verdict asked for
    ((1L to 40L).map(k => (k, k * 5.0)) ++ (61L to 100L).map(k => (k, k * 20.0)))
      .toDF("k", "v").createOrReplaceTempView("tgt_changes")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING tgt_changes s ON t.k = s.k
         |WHEN MATCHED AND t.v < s.v THEN UPDATE SET v = t.v + s.v, tag = 'won'
         |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, 'new')""".stripMargin)
      .collect()
    import scala.math.Ordering.Double.TotalOrdering
    val got = t.read().select("k", "v", "tag").as[(Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    for (k <- 1L to 40L) assert(got(k) === ((k * 10.0, "base")), s"stale update k=$k must lose")
    for (k <- 41L to 60L) assert(got(k) === ((k * 10.0, "base")), s"unmatched target k=$k")
    for (k <- 61L to 100L) assert(got(k) === ((k * 30.0, "won")), s"t.v + s.v at k=$k")

    // a t.-condition DELETE too: remove rows whose CURRENT value exceeds a
    // source threshold — needs the target value, not the source image
    (61L to 70L).map(k => (k, 0.0)).toDF("k", "v").createOrReplaceTempView("tgt_del")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING tgt_del s ON t.k = s.k
         |WHEN MATCHED AND t.tag = 'won' THEN DELETE""".stripMargin).collect()
    assert(t.read().count() === 90)

    // target refs in INSERT clauses stay rejected (the row does not exist)
    val exIns = intercept[IllegalArgumentException](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING tgt_del s ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, t.v, 'x')""".stripMargin))
    assert(exIns.getMessage.contains("SOURCE columns only"), exIns.getMessage)

    // unknown t.-column fails at analysis
    val exUnk = intercept[IllegalArgumentException](spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING tgt_del s ON t.k = s.k
         |WHEN MATCHED AND t.nope = 1 THEN DELETE""".stripMargin))
    assert(exUnk.getMessage.contains("unknown target column"), exUnk.getMessage)
  }

  test("target-referencing clauses read each duplicate target row's own values") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", DoubleType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-tgtdup"), schema)
    t.append((Seq((7L, 1.0), (7L, 2.0)) ++ (1L to 5L).map(k => (k, k * 1.0)))
      .toDF("k", "v"))
    Seq((7L, 100.0)).toDF("k", "v").createOrReplaceTempView("tgtdup_src")
    // WITHOUT target refs duplicate target keys are legal (both rows update)
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING tgtdup_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin).collect()
    assert(t.read().filter(col("k") === 7L && col("v") === 100.0).count() === 2)
    // WITH a target ref each target row reads its own value (ANSI)
    t.append(Seq((7L, 3.0)).toDF("k", "v")) // keep keys duplicated
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING tgtdup_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = t.v + s.v""".stripMargin).collect()
    assert(t.read().filter(col("k") === 7L).select("v").as[Double].collect().sorted.toSeq ===
      Seq(103.0, 200.0, 200.0))
    assert(t.read().count() === 8)
  }

  test("several NOT MATCHED BY SOURCE UPDATE clauses: first-match-wins") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", LongType)))
    val t = GraftTable.create(spark, tmpDir("sqlmerge-nmbs-upd2"), schema)
    t.append((1L to 20L).map(k => (k, k)).toDF("k", "v"))
    Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("k", "v").createOrReplaceTempView("nmbs_upd2")
    spark.sql(
      s"""MERGE INTO graft.`${t.root}` t USING nmbs_upd2 s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE AND t.v < 10 THEN UPDATE SET v = t.v + 100
         |WHEN NOT MATCHED BY SOURCE AND t.v < 15 THEN UPDATE SET v = t.v + 1000""".stripMargin)
      .collect()
    val got = t.read().orderBy("k").as[(Long, Long)].collect().toSeq
    // 1-3 matched; 4-9 take the first clause; 10-14 the second; 15-20 none
    val want = (1L to 3L).map(k => (k, k)) ++ (4L to 9L).map(k => (k, k + 100)) ++
      (10L to 14L).map(k => (k, k + 1000)) ++ (15L to 20L).map(k => (k, k))
    assert(got === want)
  }
}
