package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSuite
import graft.ops.Merge
import graft.run.Synth

/**
 * CHECK and NOT NULL constraints: data-quality gates enforced inline in the write pass
 * (one codegen'd assert filter, no extra scan per write) — the guard a
 * training-data pipeline needs so a bad producer cannot poison the corpus.
 */
class ConstraintSpec extends SparkSuite {

  private def batch(tag: String, n: Int) =
    Synth.pages(spark, n, hosts = 5, partitions = 2)
      .withColumn("url", concat(lit(s"$tag/"), col("url")))

  test("writes refuse violating rows; NULL passes; drop re-allows") {
    // `text` nullable here: the NULL check result below needs a NULL value
    val schema = StructType(Synth.pageSchema.map(f =>
      if (f.name == "text") f.copy(nullable = true) else f))
    val tbl = GraftTable.create(spark, tmpDir("constr"), schema)
    tbl.append(batch("a", 100))
    tbl.addConstraint("has-text", "length(text) > 0")

    // a violating append fails loudly with the constraint name and commits
    // nothing (the write dies before any manifest is recorded)
    val bad = batch("b", 10).withColumn("text", lit(""))
    val ex = intercept[Exception](tbl.append(bad))
    assert(ex.getMessage.contains("has-text") ||
      Option(ex.getCause).exists(_.getMessage.contains("has-text")))
    assert(tbl.read().count() == 100, "failed write must not commit")

    // clean rows pass; SQL-semantics NULL passes too
    tbl.append(batch("c", 20))
    tbl.append(batch("d", 5).withColumn("text", lit(null).cast("string")))
    assert(tbl.read().count() == 125)

    tbl.dropConstraint("has-text")
    tbl.append(bad)
    assert(tbl.read().count() == 135)
    intercept[IllegalArgumentException](tbl.dropConstraint("missing"))
    tbl.dropConstraint("missing", ifExists = true)
  }

  test("adding a constraint validates existing rows; rewrites never trip") {
    val tbl = GraftTable.create(spark, tmpDir("constr-add"), Synth.pageSchema)
    tbl.append(batch("a", 50).withColumn("lang", lit("zz")))
    intercept[IllegalArgumentException](
      tbl.addConstraint("known-lang", "lang <> 'zz'"))

    Merge.deleteWhere(tbl, col("lang") === "zz")
    tbl.append(batch("b", 80))
    tbl.addConstraint("known-lang", "lang <> 'zz'")
    // compaction rewrites validated rows under the live constraint
    graft.ops.Compact.run(tbl, targetBytes = 1L << 30)
    assert(tbl.read().count() == 80)

    // merge output is enforced: an update writing a violating value dies
    val upd = tbl.read().limit(1).select("url", "warc_ts", "html", "text")
      .withColumn("lang", lit("zz"))
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1000 DAYS"))
      .withColumn("_deleted", lit(false))
    intercept[Exception](Merge.into(tbl, upd))
    assert(tbl.read().filter(col("lang") === "zz").count() == 0)
  }

  /** Whether `e` or a cause of it says `column 'k'` broke its NOT NULL. */
  private def notNullError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("NOT NULL constraint violated: column 'k'")))

  test("NOT NULL columns refuse NULLs on every write path, naming the column; the table stays readable") {
    import spark.implicits._
    val schema = StructType(Seq(StructField("k", StringType, nullable = false),
      StructField("v", LongType)))
    val t = GraftTable.create(spark, tmpDir("constr-notnull"), schema)
    t.append(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val good = t.read().collect().toSet
    // a NULL key never matches, so MERGE inserts it: refused like an append
    val nullKey = Seq(("a", 10L), (null, 11L)).toDF("k", "v").withColumn("_deleted", lit(false))
    def refused(path: String)(write: => Any): Unit = {
      val e = intercept[Exception](write)
      assert(notNullError(e), s"$path: ${e.getMessage}")
      assert(t.read().collect().toSet == good, s"$path committed")
    }
    refused("append")(t.append(Seq(("d", 4L), (null, 5L)).toDF("k", "v")))
    refused("copy-on-write merge")(Merge.into(t, nullKey, Seq("k"), versionCol = "v"))
    refused("merge-on-read merge, driver plan")(
      Merge.into(t, nullKey, Seq("k"), versionCol = "v", mode = "merge-on-read"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try refused("merge-on-read merge, join plan")(
      Merge.into(t, nullKey, Seq("k"), versionCol = "v", mode = "merge-on-read"))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    refused("SQL INSERT")(spark.sql(s"INSERT INTO graft.`${t.root}` VALUES (NULL, 6)").collect())
    refused("updateWherePositional")(
      t.updateWherePositional(col("k") === "a", Map("k" -> lit(null).cast("string"))))
    refused("updateWhere")(Merge.updateWhere(t, col("k") === "b", Map("k" -> lit(null).cast("string"))))
    assert(t.read().filter(col("k").isNull).count() == 0)
  }

  test("SQL surface: ADD/DROP CONSTRAINT; raw TBLPROPERTIES refuses the prefix") {
    val tbl = GraftTable.create(spark, tmpDir("constr-sql"), Synth.pageSchema)
    tbl.append(batch("a", 40))
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` ADD CONSTRAINT url-present CHECK (url IS NOT NULL)")
    assert(tbl.constraints == Map("url-present" -> "url IS NOT NULL"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`${tbl.root}` SET TBLPROPERTIES ('constraint.x'='1=1')"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`${tbl.root}` UNSET TBLPROPERTIES ('constraint.url-present')"))
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP CONSTRAINT url-present")
    assert(tbl.constraints.isEmpty)
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP CONSTRAINT IF EXISTS gone")
  }
}
