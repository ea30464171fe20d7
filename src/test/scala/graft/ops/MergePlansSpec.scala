package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.run.Synth
import graft.table.{GraftTable, Snapshot}

/**
 * Merge-on-read MERGE has two plans: the driver plan for sources within
 * `spark.sql.autoBroadcastJoinThreshold`, and the full-outer join plan for
 * the rest (threshold `-1` forces it). Each case below runs the same merges
 * on twin tables, one per plan, and asserts equal reads and equal
 * deletion-vector cardinality after every merge.
 */
class MergePlansSpec extends SparkSuite {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val MoR = "merge-on-read"

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

  /** Twin tables, each `prep`ared alike, then each merge of `merges` on
    * both — the driver plan on one, the join plan on the other. */
  private def bothPlans(name: String, prep: GraftTable => Unit = _ => ())(
      merges: (GraftTable => Snapshot)*): GraftTable = {
    val (d, j) = (table(s"graft-plans-$name-d"), table(s"graft-plans-$name-j"))
    prep(d); prep(j)
    for ((merge, i) <- merges.zipWithIndex) {
      assert(merge(d).summary("merge-plan") == "driver", s"merge $i of $name")
      assert(joinPlan(merge(j)).summary("merge-plan") == "join", s"merge $i of $name")
      assertSameRows(d.read(), j.read(), s"$name, after merge $i")
      assert(dvRows(d) == dvRows(j), s"$name, DV rows after merge $i")
    }
    d
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
    bothPlans("cdc", prep)(
      Merge.into(_, first, mode = MoR), Merge.into(_, second, mode = MoR), Merge.into(_, noop, mode = MoR))
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
    bothPlans("ansi")(Merge.into(_, src, Seq("url"), latestWins = false, clauses = clauses, mode = MoR))
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
      Merge.into(_, src, Seq("url"), latestWins = false, clauses = clauses, mode = MoR))
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
    def error(t: GraftTable): String = intercept[IllegalArgumentException](
      Merge.into(t, src, Seq("url"), latestWins = false, clauses = set, mode = MoR)).getMessage
    val (d, j) = (table("graft-plans-dup-d"), table("graft-plans-dup-j"))
    val msg = error(d)
    assert(msg == joinPlan(error(j)))
    assert(msg == s"MERGE source has multiple rows for matched key '${urls(7)}' " +
      "(a target row must not be modified by more than one source row)")
  }

  test("NOT MATCHED BY SOURCE takes the join plan") {
    val t = table("graft-plans-nmbs")
    val src = Seq((urls(1), "A")).toDF("url", "text")
    val snap = Merge.into(t, src, Seq("url"), latestWins = false, mode = MoR, clauses = Seq(
      Merge.WhenMatched(Merge.Update(Map("text" -> col("s.text")))),
      Merge.WhenNotMatchedBySource(Merge.Delete, Some(col("t.lang") === "fr"))))
    assert(snap.summary("merge-plan") == "join")
  }

  test("binary merge keys are refused at planning") {
    val t = table("graft-plans-binary")
    for (mode <- Seq("copy-on-write", MoR))
      assert(intercept[IllegalArgumentException](Merge.into(t, t.read().limit(1), Seq("html"), mode = mode))
        .getMessage.contains("unsupported key type BinaryType"))
  }
}
