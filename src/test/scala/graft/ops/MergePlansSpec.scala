package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.{GraftTable, Snapshot}

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * MERGE has two plans in each write mode: the driver plan for sources
 * within `spark.sql.autoBroadcastJoinThreshold`, and the full-outer join
 * plan for the rest (threshold `-1` forces it). Each case below runs the
 * same merges on twin tables, one per plan, in both modes, and asserts
 * equal reads and equal deletion-vector cardinality after every merge.
 */
class MergePlansSpec extends SparkSuite {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val MoR = "merge-on-read"
  private val CoW = "copy-on-write"

  private lazy val data: DataFrame = Synth.pages(spark, 600, partitions = 4).localCheckpoint(true)

  private def table(name: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(name), Synth.pageSchema)
    t.append(data.repartition(4))
    t
  }

  private def joinPlan[T](body: => T): T = {
    spark.conf.set(Threshold, "-1")
    try body finally spark.conf.unset(Threshold)
  }

  private def dvRows(t: GraftTable): Long = t.positionDeletes().map(_.rows).sum

  /** Per write mode, twin tables, each `prep`ared alike, then each merge
    * of `merges` (given the mode) on both — the driver plan on one, the
    * join plan on the other; both modes end with equal rows. Returns the
    * merge-on-read driver-plan table. */
  private def bothPlans(name: String, prep: GraftTable => Unit = _ => ())(
      merges: ((GraftTable, String) => Snapshot)*): GraftTable = {
    val driverTables = for (mode <- Seq(CoW, MoR)) yield {
      val (d, j) = (table(s"graft-plans-$name-$mode-d"), table(s"graft-plans-$name-$mode-j"))
      prep(d); prep(j)
      for ((merge, i) <- merges.zipWithIndex) {
        assert(merge(d, mode).summary("merge-plan") == "driver", s"$mode merge $i of $name")
        assert(joinPlan(merge(j, mode)).summary("merge-plan") == "join", s"$mode merge $i of $name")
        assertSameRows(d.read(), j.read(), s"$name, $mode, after merge $i")
        assert(dvRows(d) == dvRows(j), s"$name, $mode, DV rows after merge $i")
      }
      d
    }
    assertSameRows(driverTables.head.read(), driverTables.last.read(), s"$name, $CoW vs $MoR")
    driverTables.last
  }

  private lazy val rows: Map[String, (String, java.sql.Timestamp, Array[Byte], String, String)] =
    data.as[(String, java.sql.Timestamp, Array[Byte], String, String)].collect().map(r => r._1 -> r).toMap
  private lazy val urls: Seq[String] = rows.keys.toSeq.sorted

  /** Latest-wins change rows: `(url, ts shift in seconds, text, deleted)`. */
  private def cdc(changes: (String, Long, String, Boolean)*): DataFrame =
    changes.map { case (u, shift, text, deleted) =>
      val ts = rows.get(u).map(_._2.getTime).getOrElse(1735689600000L) + shift * 1000L
      (u, new java.sql.Timestamp(ts), Array[Byte](7), text, "en", deleted)
    }.toDF("url", "warc_ts", "html", "text", "lang", "_deleted")

  test("latest-wins: late rows, absent-key deletes, NULL keys, duplicate target keys, DV-deleted rows, no-op batch") {
    val dupKeys = urls.slice(100, 103)
    // a NULL key never matches; the newest NULL-key row is a delete (the
    // table's url column is NOT NULL, so a NULL-key insert is left out)
    // duplicate target keys: a second live row for three urls
    def prep(t: GraftTable): Unit =
      t.append(data.filter(col("url").isin(dupKeys: _*)).withColumn("text", lit("DUP")))
    val first = cdc(
      urls.take(12).map(u => (u, 5L, "UPD", false)) ++
        urls.slice(20, 26).map(u => (u, 5L, "DEL", true)) ++
        Seq((urls(30), -5L, "LATE", false), ("https://absent.example.com/x", 5L, "GONE", true),
          (null, 5L, "NULL-KEY", false), (null, 9L, "NULL-DEL", true), (dupKeys(0), 5L, "ONE", false),
          (dupKeys(1), 5L, "DEL-DUP", true), ("https://new.example.com/1", 0L, "NEW", false)): _*)
    // chained: rows the first merge updated or deleted are DV-deleted now
    val second = cdc(
      urls.take(4).map(u => (u, 10L, "UPD2", false)) ++
        urls.slice(20, 22).map(u => (u, 10L, "BACK", false)) ++
        Seq((dupKeys(0), 10L, "TWO", false), ("https://new.example.com/1", 5L, "NEW2", false)): _*)
    val noop = cdc(("https://absent.example.com/y", 0L, "GONE", true))
    bothPlans("cdc", prep)((t, m) => Merge.into(t, first, mode = m), (t, m) => Merge.into(t, second, mode = m),
      (t, m) => Merge.into(t, noop, mode = m))
  }

  test("ANSI: column-level updates with per-row masks, inserts, and duplicate all-noop keys") {
    val src = Seq(
      // clause A sets text and lang, clause B only lang (text keeps the target's)
      (urls(1), "A-TEXT", "xx", "A"),
      (urls(2), "B-TEXT", "yy", "B"),
      (urls(3), "C-TEXT", "zz", "A"),
      // two rows of one key that fire no clause: legal, and nothing changes
      (urls(4), "N", "N", "N"),
      (urls(4), "N", "N", "N"),
      ("https://new.example.com/ansi", "-", "-", "I"))
      .toDF("url", "text", "lang", "op")
    val clauses = Seq(
      Merge.WhenMatched(Merge.Update(Map("text" -> col("s.text"), "lang" -> col("s.lang"))),
        Some(col("s.op") === "A")),
      Merge.WhenMatched(Merge.Update(Map("lang" -> col("s.lang"))), Some(col("s.op") === "B")),
      Merge.WhenNotMatched(Merge.Insert(Map("url" -> col("s.url"),
        "warc_ts" -> lit(new java.sql.Timestamp(1735689600000L)), "html" -> lit(Array[Byte](1)),
        "text" -> lit("INSERTED"), "lang" -> lit("en")))))
    bothPlans("ansi")((t, m) => Merge.into(t, src, Seq("url"), latestWins = false, clauses = clauses, mode = m))
  }

  test("ANSI: a MATCHED condition and SET value that read target columns") {
    // ten matched rows; the clause fires where the target's lang differs
    // from the source's, and appends the source text to the target's
    val src = urls.slice(10, 20).zipWithIndex
      .map { case (u, i) => (u, s"#$i", if (i % 2 == 0) rows(u)._5 else "xx") }
      .toDF("url", "text", "lang")
    val clauses = Seq(Merge.WhenMatched(
      Merge.Update(Map("text" -> concat(col("t.text"), col("s.text")), "lang" -> col("s.lang"))),
      Some(col("t.lang") =!= col("s.lang"))))
    val d = bothPlans("target-refs")(
      (t, m) => Merge.into(t, src, Seq("url"), latestWins = false, clauses = clauses, mode = m))
    val got = d.read().filter(col("url").isin(urls.slice(10, 20): _*))
      .select("url", "text", "lang").as[(String, String, String)].collect().map(r => r._1 -> r).toMap
    for ((u, i) <- urls.slice(10, 20).zipWithIndex) {
      val (_, _, _, text, lang) = rows(u)
      val want = if (i % 2 == 0 || lang == "xx") (u, text, lang) else (u, s"$text#$i", "xx")
      assert(got(u) == want, s"row $i")
    }
  }

  test("ANSI duplicate-key error has the same text under both plans") {
    val src = Seq((urls(7), "ONE"), (urls(7), "TWO"), ("https://new.example.com/dup", "X"))
      .toDF("url", "text")
    val set = Seq(Merge.WhenMatched(Merge.Update(Map("text" -> col("s.text")))))
    for (mode <- Seq(CoW, MoR)) {
      def error(t: GraftTable): String = intercept[IllegalArgumentException](
        Merge.into(t, src, Seq("url"), latestWins = false, clauses = set, mode = mode)).getMessage
      val (d, j) = (table(s"graft-plans-dup-$mode-d"), table(s"graft-plans-dup-$mode-j"))
      val msg = error(d)
      assert(msg == joinPlan(error(j)), mode)
      assert(msg == s"MERGE source has multiple rows for matched key '${urls(7)}' " +
        "(a target row must not be modified by more than one source row)", mode)
    }
  }

  test("a NOT NULL violation through MERGE raises the same text under both plans") {
    val schema = StructType(Seq(StructField("k", StringType, nullable = false), StructField("v", LongType)))
    // a NULL key never matches, so MERGE inserts it
    val nullKey = Seq(("a", 10L), (null, 11L)).toDF("k", "v").withColumn("_deleted", lit(false))
    /** The innermost message of what the merge throws. */
    def error(t: GraftTable, mode: String): String = {
      val e = intercept[Exception](Merge.into(t, nullKey, Seq("k"), versionCol = "v", mode = mode))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage
    }
    for (mode <- Seq(CoW, MoR)) {
      val Seq(d, j) = Seq("d", "j").map { p =>
        val t = GraftTable.create(spark, tmpDir(s"graft-plans-notnull-$mode-$p"), schema)
        t.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
        t
      }
      val msg = error(d, mode)
      assert(msg.contains("NOT NULL constraint violated: column 'k' is NULL"), s"$mode: $msg")
      assert(msg == joinPlan(error(j, mode)), mode)
      assert(d.read().count() == 2 && j.read().count() == 2, mode)
    }
  }

  test("a driver-written merge file: _SUCCESS, warc_ts bounds, the url bloom filter, read back after RENAME COLUMN") {
    val t = GraftTable.create(spark, tmpDir("graft-plans-format"), Synth.pageSchema,
      Map(GraftTable.BloomColumnsProp -> "url"))
    t.append(data.repartition(4))
    val before = t.files().map(_.path).toSet
    val src = cdc(urls.take(3).map(u => (u, 5L, "FMT", false)) :+ (("https://new.example.com/fmt", 0L, "FMT", false)): _*)
    assert(Merge.into(t, src).summary("merge-plan") == "driver")
    val added = t.files().filterNot(f => before(f.path))
    assert(added.nonEmpty)
    for (f <- added) {
      val path = t.absPath(f)
      assert(new java.io.File(new java.io.File(path).getParentFile, "_SUCCESS").isFile, f.path)
      assert(f.minValues.contains("warc_ts") && f.maxValues.contains("warc_ts"), f.path)
      assert(bloomFlags(path).forall(_("url")), s"expected a bloom filter on url in ${f.path}")
    }
    t.renameColumn("text", "body")
    assert(t.read().filter(col("body") === "FMT").count() == 4)
    assert(t.read().count() == 601)
  }

  test("NOT MATCHED BY SOURCE takes the join plan") {
    val src = Seq((urls(1), "A")).toDF("url", "text")
    for (mode <- Seq(CoW, MoR)) {
      val snap = Merge.into(table(s"graft-plans-nmbs-$mode"), src, Seq("url"), latestWins = false, mode = mode,
        clauses = Seq(Merge.WhenMatched(Merge.Update(Map("text" -> col("s.text")))),
          Merge.WhenNotMatchedBySource(Merge.Delete, Some(col("t.lang") === "fr"))))
      assert(snap.summary("merge-plan") == "join", mode)
    }
  }

  test("binary merge keys are refused at planning") {
    val t = table("graft-plans-binary")
    for (mode <- Seq("copy-on-write", MoR))
      assert(intercept[IllegalArgumentException](Merge.into(t, t.read().limit(1), Seq("html"), mode = mode))
        .getMessage.contains("unsupported key type BinaryType"))
  }
}
