package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.{Cluster, Compact, Merge}
import graft.run.Synth

/**
 * Row-level CDC changelog ([[Changelog]]): per-commit insert/delete row
 * images for every commit kind, with the defining invariant that folding
 * the events in commit order reconstructs `read()` exactly.
 */
class ChangelogSpec extends SparkSuite {

  private val cols = Synth.pageSchema.fieldNames.toSeq

  /** state := (state \ deletes) ∪ inserts, per commit ascending. */
  private def fold(initial: DataFrame, events: DataFrame): DataFrame = {
    val ev = events.localCheckpoint(true)
    val commits = ev.select(Changelog.CommitCol).distinct()
      .collect().map(_.getLong(0)).sorted
    var state = initial.select(cols.map(col): _*)
    for (c <- commits) {
      val of = ev.filter(col(Changelog.CommitCol) === c)
      val dels = of.filter(col(Changelog.ChangeTypeCol) === "delete").select(cols.map(col): _*)
      val inss = of.filter(col(Changelog.ChangeTypeCol) === "insert").select(cols.map(col): _*)
      state = state.exceptAll(dels).unionByName(inss)
    }
    state
  }

  private def counts(events: DataFrame): Map[String, Long] =
    events.groupBy(Changelog.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("merge commit emits old images as deletes, new images as inserts") {
    val t = GraftTable.create(spark, tmpDir("chg-merge"), Synth.pageSchema)
    t.append(Synth.pages(spark, 800, hosts = 10, partitions = 4))
    val from = t.currentSnapshot.get.id
    import spark.implicits._
    val cur = t.read().as[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .collect().map(r => r._1 -> r).toMap
    def page(u: String, shift: Long, text: String) = {
      val o = cur(u); (u, new java.sql.Timestamp(o._2.getTime + shift), o._3, text, o._5)
    }
    val updKeys = cur.keys.toSeq.sorted.take(100)
    val delKeys = cur.keys.toSeq.sorted.slice(200, 250)
    val updates = updKeys.map(u => page(u, +1000L, "UPDATED"))
    val deletes = delKeys.map(u => page(u, +1000L, "DEL"))
    val inserts = (0 until 60).map(i =>
      (s"https://new.example.com/p/$i", new java.sql.Timestamp(1735689600000L),
        Array[Byte](1), s"NEW$i", "en"))
    val src = (updates ++ inserts).toDF(cols: _*).withColumn("_deleted", lit(false))
      .unionByName(deletes.toDF(cols: _*).withColumn("_deleted", lit(true)))
    Merge.into(t, src)

    val ev = t.changes(from).localCheckpoint(true)
    val byType = counts(ev)
    assert(byType("delete") === 150L, s"old images of 100 updates + 50 deletes: $byType")
    assert(byType("insert") === 160L, s"new images of 100 updates + 60 inserts: $byType")
    // delete images are the PRE-merge rows (old text), insert images the new
    assert(ev.filter(col(Changelog.ChangeTypeCol) === "delete")
      .filter(col("text").isin("UPDATED", "DEL")).count() === 0)
    assert(ev.filter(col(Changelog.ChangeTypeCol) === "insert")
      .filter(col("text") === "UPDATED").count() === 100)
    assertSameRows(fold(t.readSnapshot(from), ev), t.read(), "merge fold")
  }

  test("key delete emits visible row images; resurrected rows emit inserts; cluster emits nothing") {
    val t = GraftTable.create(spark, tmpDir("chg-mor"), Synth.pageSchema)
    t.append(Synth.pages(spark, 300, hosts = 6, partitions = 2))
    val from = t.currentSnapshot.get.id
    val base = t.read().localCheckpoint(true)
    val victims = base.select("url").orderBy("url").limit(20).localCheckpoint(true)

    t.deleteByKeysMoR(victims)                       // 20 delete events
    val resurrect = base.join(victims.orderBy("url").limit(5), Seq("url"), "inner")
    t.append(resurrect)                              // visible again: 5 insert events
    t.deleteByKeysMoR(victims.orderBy("url").limit(3)) // 3 of the resurrected: 3 delete events
    Cluster.zorderRewrite(t, Cluster.ZDims(), targetFileBytes = 1L << 20) // applies DVs: NO events
    t.append(Synth.pages(spark, 40, hosts = 6, partitions = 1, seed = 9)) // 40 inserts

    val ev = t.changes(from).localCheckpoint(true)
    val byType = counts(ev)
    assert(byType("delete") === 23L, s"one delete image per deleted visible row: $byType")
    assert(byType.getOrElse("insert", 0L) === 45L,
      s"the resurrecting append and the last append emit inserts, the cluster nothing: $byType")
    // delete images are full rows of the pre-delete snapshot
    assert(ev.filter(col(Changelog.ChangeTypeCol) === "delete")
      .join(victims, Seq("url"), "left_anti").count() === 0)
    assertSameRows(fold(t.readSnapshot(from), ev), t.read(), "mor fold")
  }

  test("update/delete/compact chain folds to read(); row-preserving ops are silent") {
    val t = GraftTable.create(spark, tmpDir("chg-dml"), Synth.pageSchema)
    t.append(Synth.pages(spark, 400, hosts = 8, partitions = 4))
    val from = t.currentSnapshot.get.id
    Merge.updateWhere(t, col("lang") === "de", Map("text" -> lit("DE-REWRITTEN")))
    val nDe = t.read().filter(col("text") === "DE-REWRITTEN").count()
    Compact.run(t, targetBytes = 1L << 30) // row-preserving (no tombstones): silent
    Merge.deleteWhere(t, col("lang") === "fr")
    t.append(Synth.pages(spark, 25, hosts = 8, partitions = 1, seed = 5))

    val ev = t.changes(from).localCheckpoint(true)
    // update → paired old/new images; delete → old images only; append → inserts
    val upd = ev.filter(col(Changelog.ChangeTypeCol) === "insert" && col("text") === "DE-REWRITTEN")
    assert(upd.count() === nDe, "one insert image per updated row")
    assert(ev.filter(col(Changelog.ChangeTypeCol) === "delete" && col("lang") === "fr").count() > 0)
    val compactIds = t.metadata.snapshots.filter(_.operation == "compact").map(_.id).toSet
    assert(ev.filter(col(Changelog.CommitCol).isin(compactIds.toSeq: _*)).count() === 0,
      "compaction must emit nothing")
    assertSameRows(fold(t.readSnapshot(from), ev), t.read(), "dml fold")
  }

  test("overwrite commits diff generically: full old contents out, new in") {
    val t = GraftTable.create(spark, tmpDir("chg-ow"), Synth.pageSchema)
    t.append(Synth.pages(spark, 120, hosts = 4, partitions = 2))
    val from = t.currentSnapshot.get.id
    val fresh = Synth.pages(spark, 30, hosts = 4, partitions = 1, seed = 11)
    fresh.write.format("graft").mode("overwrite").save(t.root)
    val ev = t.changes(from).localCheckpoint(true)
    val byType = counts(ev)
    assert(byType("delete") === 120L && byType("insert") === 30L, byType.toString)
    assertSameRows(fold(t.readSnapshot(from), ev), t.read(), "overwrite fold")
  }

  test("update-image pairing: per-commit delete+insert of a key is one logical update") {
    val t = GraftTable.create(spark, tmpDir("chg-upd"), Synth.pageSchema)
    t.append(Synth.pages(spark, 500, hosts = 8, partitions = 4))
    val from = t.currentSnapshot.get.id
    import spark.implicits._
    val cur = t.read().as[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .collect().map(r => r._1 -> r).toMap
    val ks = cur.keys.toSeq.sorted
    def page(u: String, text: String) = { val o = cur(u)
      (u, new java.sql.Timestamp(o._2.getTime + 1000L), o._3, text, o._5) }
    val src = ks.take(60).map(u => page(u, "UPDATED")).toDF(cols: _*)
      .withColumn("_deleted", lit(false))
      .unionByName(ks.slice(100, 130).map(u => page(u, "D")).toDF(cols: _*)
        .withColumn("_deleted", lit(true)))
      .unionByName((0 until 15).map(i => (s"https://new.example.com/u/$i",
        new java.sql.Timestamp(1735689600000L), Array[Byte](1), s"NEW$i", "en"))
        .toDF(cols: _*).withColumn("_deleted", lit(false)))
    Merge.into(t, src)
    t.append(Synth.pages(spark, 25, hosts = 8, partitions = 1, seed = 7))

    val ev = t.changes(from, updateImagesOn = Seq("url")).localCheckpoint(true)
    val byType = counts(ev)
    assert(byType(Changelog.UpdatePreimage) === 60L, byType.toString)
    assert(byType(Changelog.UpdatePostimage) === 60L, byType.toString)
    assert(byType("delete") === 30L, byType.toString)
    assert(byType("insert") === 40L, s"15 merge inserts + 25 appended: $byType")
    // pre images carry the OLD row, post images the new one
    assert(ev.filter(col(Changelog.ChangeTypeCol) === Changelog.UpdatePreimage)
      .filter(col("text") === "UPDATED").count() === 0)
    assert(ev.filter(col(Changelog.ChangeTypeCol) === Changelog.UpdatePostimage)
      .filter(col("text") =!= "UPDATED").count() === 0)
    // exactly one pre + one post per updated key
    val perKey = ev.filter(col(Changelog.ChangeTypeCol).startsWith("update_"))
      .groupBy("url").agg(countDistinct(Changelog.ChangeTypeCol).as("k"), count(lit(1)).as("n"))
    assert(perKey.filter(col("k") =!= 2 || col("n") =!= 2).count() === 0)
    // fold rule: preimage folds as delete, postimage as insert
    val folded = fold(t.readSnapshot(from), ev.withColumn(Changelog.ChangeTypeCol,
      when(col(Changelog.ChangeTypeCol) === Changelog.UpdatePreimage, "delete")
        .when(col(Changelog.ChangeTypeCol) === Changelog.UpdatePostimage, "insert")
        .otherwise(col(Changelog.ChangeTypeCol))))
    assertSameRows(folded, t.read(), "update-image fold")
    // unknown key column fails loudly
    val e = intercept[IllegalArgumentException](
      t.changes(from, updateImagesOn = Seq("nope")))
    assert(e.getMessage.contains("nope"))
  }

  test("slimDiff reproduces exceptAll exactly: multiplicities, null shifts, binary, randomized") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("a", StringType), StructField("b", StringType),
      StructField("n", LongType), StructField("bin", BinaryType)))
    def df(rows: Seq[(String, String, java.lang.Long, Array[Byte])]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)), 3), sch)
    def check(rem: Seq[(String, String, java.lang.Long, Array[Byte])],
        add: Seq[(String, String, java.lang.Long, Array[Byte])], tagName: String): Unit = {
      val (d, i) = Changelog.slimDiff(df(rem), df(add), sch)
      // checkpoint before comparing: ExceptAll-over-ExceptAll trips a Spark
      // optimizer pruning bug in ReplicateRows binding (plan shape, not data)
      assertSameRows(d.localCheckpoint(true),
        df(rem).exceptAll(df(add)).localCheckpoint(true), s"$tagName deletes")
      assertSameRows(i.localCheckpoint(true),
        df(add).exceptAll(df(rem)).localCheckpoint(true), s"$tagName inserts")
    }
    val B = Array[Byte](7, 8)
    def t(a: String, b: String, n: java.lang.Long, bin: Array[Byte]) = (a, b, n, bin)
    // null SHIFTED between adjacent columns must not cancel (hash skips nulls)
    check(Seq(t("x", null, 1L, B)), Seq(t(null, "x", 1L, B)), "null-shift")
    // multiset multiplicities: 3 vs 1 of an identical row → 2 deletes
    check(Seq.fill(3)(t("r", "s", 2L, B)) ++ Seq(t("k", "v", 9L, null)),
      Seq(t("r", "s", 2L, B), t("k", "v", 9L, null)), "multiplicity")
    // randomized: seeded multiset churn over a tiny value domain (forces
    // heavy duplication and both-side overlaps)
    val rnd = new scala.util.Random(42)
    def randRows(n: Int) = Seq.fill(n)((
      if (rnd.nextBoolean()) "a" else null,
      if (rnd.nextBoolean()) "b" else "c",
      java.lang.Long.valueOf(rnd.nextInt(3).toLong),
      if (rnd.nextBoolean()) B else null))
    for (round <- 0 until 5) check(randRows(40), randRows(40), s"random-$round")
    // NESTED null shifts: Spark's hash skips nulls inside struct fields and
    // array elements too (where no top-level flag can reach) — the JSON
    // canonicalization must keep these distinct
    val nsch = StructType(Seq(StructField("k", StringType),
      StructField("s", StructType(Seq(StructField("a", StringType), StructField("b", StringType)))),
      StructField("arr", ArrayType(StringType))))
    def ndf(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), nsch)
    import org.apache.spark.sql.Row
    val nestedCases = Seq(
      (Row("k1", Row("x", null), Seq("a")), Row("k1", Row(null, "x"), Seq("a"))),
      (Row("k2", Row("y", "z"), Seq("a", null)), Row("k2", Row("y", "z"), Seq(null, "a"))),
      (Row("k3", Row("w", "v"), Seq.empty[String]), Row("k3", Row("w", "v"), Seq(null.asInstanceOf[String]))))
    for (((l, r), i) <- nestedCases.zipWithIndex) {
      val (d, ins) = Changelog.slimDiff(ndf(Seq(l)), ndf(Seq(r)), nsch)
      assert(d.count() === 1L && ins.count() === 1L,
        s"nested null shift case $i must NOT cancel in the fingerprint diff")
    }
    // identical nested rows DO cancel
    val same = Row("k4", Row("p", null), Seq(null, "q"))
    val (d4, i4) = Changelog.slimDiff(ndf(Seq(same)), ndf(Seq(same)), nsch)
    assert(d4.count() === 0L && i4.count() === 0L)
    // a user column colliding with ANY helper name falls back to exceptAll
    // (silent corruption otherwise: _cl_i would be overwritten by the
    // replication index)
    val csch = StructType(Seq(StructField("k", StringType), StructField("_cl_i", LongType)))
    val c1 = Seq(("x", 1L), ("y", 2L)).toDF("k", "_cl_i")
    val c2 = Seq(("x", 1L)).toDF("k", "_cl_i")
    val (cd, ci) = Changelog.slimDiff(c1, c2, csch)
    assertSameRows(cd.localCheckpoint(true),
      c1.exceptAll(c2).localCheckpoint(true), "helper-name fallback")
    assert(ci.count() === 0L)

    // map-typed column: no canonical equality exists in Spark (hash and set
    // ops are both forbidden) → the diff must refuse loudly, not mis-diff
    val msch = StructType(Seq(StructField("k", StringType),
      StructField("m", MapType(StringType, LongType))))
    val m1 = Seq(("x", Map("p" -> 1L)), ("y", Map("q" -> 2L))).toDF("k", "m")
    val m2 = Seq(("x", Map("p" -> 1L))).toDF("k", "m")
    val err = intercept[IllegalArgumentException] { Changelog.slimDiff(m1, m2, msch) }
    assert(err.getMessage.contains("map-typed column 'm'"))
  }

  test("changes(0) covers the whole history; bad snapshot ids fail loudly") {
    val t = GraftTable.create(spark, tmpDir("chg-zero"), Synth.pageSchema)
    t.append(Synth.pages(spark, 100, hosts = 4, partitions = 2))
    t.append(Synth.pages(spark, 50, hosts = 4, partitions = 1, seed = 2))
    val ev = t.changes(0)
    assert(counts(ev).getOrElse("insert", 0L) === 150L)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Synth.pageSchema)
    assertSameRows(fold(empty, ev), t.read(), "full-history fold")
    assert(intercept[IllegalArgumentException](t.changes(999)).getMessage.contains("unknown"))
  }
}
