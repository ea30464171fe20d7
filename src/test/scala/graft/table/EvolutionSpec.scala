package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}

import graft.SparkSuite
import graft.run.Synth

/** Snapshot rollback + add-only schema evolution. */
class EvolutionSpec extends SparkSuite {

  private def batch(tag: String, n: Int) =
    Synth.pages(spark, n, hosts = 5, partitions = 2)
      .withColumn("url", concat(lit(s"$tag/"), col("url")))

  test("rollback moves the pointer without touching data") {
    val tbl = GraftTable.create(spark, tmpDir("rollback"), Synth.pageSchema)
    val s1 = tbl.append(batch("a", 200)).id
    val s2 = tbl.append(batch("b", 100)).id
    assert(tbl.read().count() === 300)

    tbl.rollback(s1)
    assert(tbl.read().count() === 200)
    assert(tbl.currentSnapshot.map(_.id).contains(s1))
    // the abandoned snapshot stays readable (redo = roll forward)
    assert(tbl.readSnapshot(s2).count() === 300)
    tbl.rollback(s2)
    assert(tbl.read().count() === 300)

    // post-rollback commits get fresh, monotonic snapshot ids
    tbl.rollback(s1)
    val s3 = tbl.append(batch("c", 50)).id
    assert(s3 > s2)
    assert(tbl.read().count() === 250)
    assert(intercept[IllegalArgumentException](tbl.rollback(999L))
      .getMessage.contains("unknown or expired"))
  }

  test("added nullable column reads as NULL from old files, real from new") {
    val tbl = GraftTable.create(spark, tmpDir("addcol"), Synth.pageSchema)
    tbl.append(batch("a", 150))
    tbl.addColumn(StructField("score", DoubleType, nullable = true))

    val afterAdd = tbl.read()
    assert(afterAdd.schema.fieldNames.contains("score"))
    assert(afterAdd.filter(col("score").isNull).count() === 150)

    tbl.append(batch("b", 60).withColumn("score", lit(0.5)))
    val mixed = tbl.read()
    assert(mixed.count() === 210)
    assert(mixed.filter(col("score").isNull).count() === 150)
    assert(mixed.filter(col("score") === 0.5).count() === 60)

    // pruning on the new column must not drop old (stat-less) files
    assert(tbl.read(Some(col("score").isNull)).count() === 150)
    assert(tbl.planFiles(Some(col("score") === 0.5)).nonEmpty)

    // guard rails
    assert(intercept[IllegalArgumentException](
      tbl.addColumn(StructField("score", DoubleType))).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      tbl.addColumn(StructField("req", DoubleType, nullable = false)))
      .getMessage.contains("nullable"))
  }

  test("mergeSchema append auto-adds new top-level columns") {
    val tbl = GraftTable.create(spark, tmpDir("merge-schema"), Synth.pageSchema)
    tbl.append(batch("a", 100))

    // without the flag, unknown incoming columns are dropped (status quo)
    tbl.append(batch("b", 50).withColumn("score", lit(0.5)))
    assert(!tbl.schema.fieldNames.contains("score"))

    // with the flag: the column joins the schema (nullable), old rows read
    // NULL, new rows carry values — both via the API and the writer option
    tbl.append(batch("c", 30).withColumn("score", lit(0.7)), mergeSchema = true)
    assert(tbl.schema("score").nullable &&
      tbl.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(tbl.read().filter(col("score").isNull).count() == 150)
    assert(tbl.read().filter(col("score") === 0.7).count() == 30)
    batch("d", 20).withColumn("score", lit(0.9)).withColumn("stars", lit(3L))
      .write.format("graft").mode("append").option("mergeSchema", "true")
      .save(tbl.root)
    assert(tbl.schema.fieldNames.contains("stars"))
    assert(tbl.read().filter(col("stars") === 3L).count() == 20)

    // addColumn guards still apply through the auto path: retired names refuse
    tbl.renameColumn("score", "quality")
    intercept[IllegalArgumentException](
      tbl.append(batch("e", 5).withColumn("score", lit(1.0)), mergeSchema = true))
  }

  test("rename column: old files stay readable by field id, stats keep pruning") {
    val tbl = GraftTable.create(spark, tmpDir("rename"), Synth.pageSchema)
    tbl.append(batch("a", 150))
    val preTexts = tbl.read().select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    tbl.renameColumn("text", "content")
    assert(tbl.schema.fieldNames.toSeq ===
      Seq("url", "warc_ts", "html", "content", "lang"))
    // old files' data binds to the NEW name through the stable field id —
    // not 150 NULLs
    val post = tbl.read().select("url", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(post === preTexts, "renamed column must carry the old files' values")

    // stats keys were remapped: pruning on the NEW name still works
    val f = tbl.files().head
    assert(f.minValues.contains("content") && !f.minValues.contains("text"))
    // a pushed-down predicate on the NEW name must still hit old files
    // (parquet drops filters on columns a file does not physically carry)
    val sampleText = preTexts.values.head
    assert(tbl.read().filter(col("content") === sampleText).count() >= 1,
      "equality filter on renamed column must find old files' rows")
    // new appends write the new physical name; both generations read
    tbl.append(batch("b", 60).withColumnRenamed("text", "content"))
    assert(tbl.read().count() === 210)
    assert(tbl.read().filter(col("content").isNotNull).count() === 210)

    // a merge keyed on a RENAMED key column plans and runs
    tbl.renameColumn("url", "page_url")
    val upd = tbl.read().limit(10).withColumn("content", lit("RENAMED-MERGE"))
    graft.ops.Merge.into(tbl, upd, Seq("page_url"), latestWins = false)
    assert(tbl.read().filter(col("content") === "RENAMED-MERGE").count() === 10)
    assert(tbl.read().count() === 210)

    // guards
    assert(intercept[Exception](tbl.renameColumn("page_url", "lang"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](tbl.renameColumn("nope", "x"))
      .getMessage.toLowerCase.contains("nope"))
  }

  test("drop column: projection stops; vacated names are permanently retired") {
    val tbl = GraftTable.create(spark, tmpDir("dropcol"), Synth.pageSchema)
    tbl.append(batch("a", 100))
    tbl.dropColumn("html")
    assert(tbl.schema.fieldNames.toSeq === Seq("url", "warc_ts", "text", "lang"))
    assert(tbl.read().columns.toSeq === Seq("url", "warc_ts", "text", "lang"))
    assert(tbl.files().head.minValues.keySet.forall(_ != "html"))
    assert(tbl.read().count() === 100)

    // the vacated name can never rebind: old files carry a physical 'html'
    // column, and parquet filter pushdown matches by NAME — a reintroduced
    // 'html' would prune row groups against the dead column's values
    assert(intercept[Exception](
      tbl.addColumn(StructField("html", org.apache.spark.sql.types.BinaryType, nullable = true)))
      .getMessage.contains("previously dropped"))
    // same for renaming another column ONTO a retired name
    assert(intercept[Exception](tbl.renameColumn("text", "html"))
      .getMessage.contains("previously dropped"))

    // a rename/drop commit is row-preserving for incremental readers
    val from = tbl.currentSnapshot.get.id
    tbl.renameColumn("lang", "language")
    tbl.append(batch("b", 40).withColumnRenamed("lang", "language").drop("html")
      .select("url", "warc_ts", "text", "language"))
    assert(tbl.incrementalRead(from).count() === 40)

    assert(intercept[Exception](tbl.dropColumn("nope"))
      .getMessage.toLowerCase.contains("nope"))
  }

  test("evolution is refused where physical names are load-bearing") {
    // partition-transform source column
    val t1 = GraftTable.create(spark, tmpDir("evo-guard"), Synth.pageSchema,
      Map(PartitionSpec.Property -> "bucket(4, url)"))
    t1.append(batch("a", 50))
    assert(intercept[Exception](t1.renameColumn("url", "page_url"))
      .getMessage.contains("partition transform"))
    assert(intercept[Exception](t1.dropColumn("url"))
      .getMessage.contains("partition transform"))

    // a key delete's DV entries name files and positions, not columns: a
    // rename after it succeeds and the deleted rows stay hidden
    val t2 = GraftTable.create(spark, tmpDir("evo-guard2"), Synth.pageSchema)
    t2.append(batch("a", 50))
    import spark.implicits._
    val dead = t2.read().select("url").as[String].take(3).toSeq
    t2.deleteByKeysMoR(dead.toDF("url"))
    t2.renameColumn("text", "content")
    assert(t2.schema.fieldNames.contains("content"))
    assert(t2.read().count() == 47 && t2.read().filter(col("url").isin(dead: _*)).count() == 0)

    // legacy tables (no field ids in metadata) refuse rename/drop
    val t3 = GraftTable.create(spark, tmpDir("evo-legacy"), Synth.pageSchema)
    t3.append(batch("a", 30))
    t3.commitMetadataUpdate(md => md.copy(schemaJson = None)) // simulate pre-field-id metadata
    assert(intercept[Exception](t3.renameColumn("text", "content"))
      .getMessage.contains("field-id"))
  }

  test("widen column: old files read through the wider type, stats stay sound") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", IntegerType), StructField("f", FloatType)))
    val t = GraftTable.create(spark, tmpDir("widen"), schema)
    t.append((1 to 100).map(i => (i.toLong, i * 10, i / 4.0f)).toDF("k", "n", "f").coalesce(2))
    val preSum = t.read().agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)

    t.widenColumn("n", LongType)
    assert(t.schema("n").dataType === LongType)
    // old int32 files read through the wider type, values intact
    assert(t.read().agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) === preSum)
    // integral bounds survive (same canonical strings) and still prune
    assert(t.files().forall(_.minValues.contains("n")))
    assert(t.read(Some(col("n") === 500L)).count() === 1)
    assert(t.planFiles(Some(col("n") === -1L)).isEmpty, "widened bounds must still prune")

    // float → double strips the column's bounds (decimal re-parse is not
    // the widened value; boundary pruning would be unsound)
    t.widenColumn("f", DoubleType)
    assert(t.files().forall(f => !f.minValues.contains("f")))
    assert(t.read().filter(col("f") > 12.0d).count() === 52)
    // mixed generations: a post-widen append carries real long/double
    t.append((101 to 120).map(i => (i.toLong, i * 10L, i / 4.0d)).toDF("k", "n", "f"))
    assert(t.read().count() === 120)
    assert(t.read().agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      === preSum + (101 to 120).map(_ * 10L).sum)

    // guards: non-widening changes refused; merge on the widened key works
    assert(intercept[Exception](t.widenColumn("n", IntegerType))
      .getMessage.contains("cannot widen"))
    graft.ops.Merge.into(t,
      (1 to 5).map(i => (i.toLong, 7L, 0.0d)).toDF("k", "n", "f"),
      Seq("k"), latestWins = false)
    assert(t.read().filter(col("n") === 7L).count() === 5)
  }

  test("SQL ALTER COLUMN TYPE widens") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("n", IntegerType)))
    val t = GraftTable.create(spark, tmpDir("widen-sql"), schema)
    t.append((1 to 30).map(i => (i.toLong, i)).toDF("k", "n"))
    spark.sql(s"ALTER TABLE graft.`${t.root}` ALTER COLUMN n TYPE BIGINT")
    assert(t.schema("n").dataType === LongType)
    assert(t.read().agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) === 465L)
    assert(intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`${t.root}` ALTER COLUMN n TYPE INT").collect())
      .getMessage.contains("cannot widen"))
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN") {
    val tbl = GraftTable.create(spark, tmpDir("evo-sql"), Synth.pageSchema)
    tbl.append(batch("a", 80))
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` RENAME COLUMN text TO content")
    assert(tbl.schema.fieldNames.contains("content"))
    assert(tbl.read().filter(col("content").isNotNull).count() === 80)
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP COLUMN html")
    assert(tbl.schema.fieldNames.toSeq === Seq("url", "warc_ts", "content", "lang"))
    assert(tbl.read().count() === 80)
  }

  test("SQL evolution names resolve case-insensitively (session resolver)") {
    val tbl = GraftTable.create(spark, tmpDir("evo-sql-ci"), Synth.pageSchema)
    tbl.append(batch("a", 40))
    // the rest of the SQL surface (MERGE targets, ON keys) is resolver-
    // aware; ALTER must find column 'text' for TEXT too
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` RENAME COLUMN TEXT TO content")
    assert(tbl.schema.fieldNames.contains("content"))
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP COLUMN HTML")
    assert(!tbl.schema.fieldNames.contains("html"))
    import org.apache.spark.sql.types._
    import spark.implicits._
    val t2 = GraftTable.create(spark, tmpDir("evo-sql-ci2"),
      StructType(Seq(StructField("k", LongType, nullable = false), StructField("n", IntegerType))))
    t2.append(Seq((1L, 2)).toDF("k", "n"))
    spark.sql(s"ALTER TABLE graft.`${t2.root}` ALTER COLUMN N TYPE BIGINT")
    assert(t2.schema("n").dataType === LongType)
  }

  // ---- nested-field evolution (leaves inside structs, by nested field id) --

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

  private val nestedSchema = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("author", StringType),
      StructField("score", IntegerType),
      StructField("sub", StructType(Seq(
        StructField("d", DoubleType), StructField("e", LongType)))))))))

  /** frame WITHOUT any field ids — as a user's append arrives */
  private def nestedBatch(tag: String, n: Int) = spark.createDataFrame(
    spark.sparkContext.parallelize((1 to n).map(i =>
      Row(s"$tag/$i", Row(s"auth$i", i, Row(i / 2.0, i.toLong)))), 2),
    nestedSchema)

  test("nested rename binds old files by field id; manifests reused verbatim") {
    val tbl = GraftTable.create(spark, tmpDir("evo-nest1"), nestedSchema)
    tbl.append(nestedBatch("a", 100))
    val preAuthors = tbl.read().selectExpr("url", "meta.author").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val preManifests = tbl.currentSnapshot.get.manifests.map(_.path)

    tbl.renameColumn("meta.author", "writer")
    // old files' interior values bind to the NEW name through the nested id
    val post = tbl.read().selectExpr("url", "meta.writer").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(post === preAuthors, "nested rename must carry old files' values")
    // nested leaves carry no stats keys: the commit reuses parent manifests
    assert(tbl.currentSnapshot.get.manifests.map(_.path) === preManifests,
      "nested-only evolution must not rewrite manifests")
    // filter through the renamed path over old files stays correct
    assert(tbl.read().filter(col("meta.writer") === "auth42").count() === 1)
    // ...including through the file-pruning read path: nested predicates
    // carry no stats keys, so they must evaluate as UNKNOWN (keep the file),
    // never wrongly prune
    assert(tbl.read(Some(col("meta.writer") === "auth42")).count() === 1)

    // post-rename appends write the new interior name; both generations read
    val b = nestedBatch("b", 40)
    tbl.append(spark.createDataFrame(b.rdd, tbl.schema))
    assert(tbl.read().filter(col("meta.writer").isNotNull).count() === 140)

    // deep: struct-in-struct leaf rename
    tbl.renameColumn("meta.sub.d", "dd")
    assert(tbl.read().selectExpr("sum(meta.sub.dd)").head().getDouble(0) > 0)

    // retired interior path cannot come back
    assert(intercept[Exception](tbl.renameColumn("meta.writer", "author"))
      .getMessage.contains("previously dropped"))
    assert(intercept[Exception](
      tbl.addField("meta", StructField("author", StringType)))
      .getMessage.contains("previously dropped"))
    // sibling collision inside the struct
    assert(intercept[Exception](tbl.renameColumn("meta.writer", "score"))
      .getMessage.contains("already exists in struct"))
  }

  test("nested add + widen: NULL on old files, values on new; widen across generations") {
    val tbl = GraftTable.create(spark, tmpDir("evo-nest2"), nestedSchema)
    tbl.append(nestedBatch("a", 60))
    tbl.addField("meta", StructField("extra", DoubleType))
    assert(tbl.read().filter(col("meta.extra").isNull).count() === 60)
    // new appends carry the field (frame aligned to the evolved schema)
    val b = spark.createDataFrame(
      spark.sparkContext.parallelize((1 to 20).map(i =>
        Row(s"b/$i", Row(s"auth$i", i, Row(i / 2.0, i.toLong), i * 1.5))), 1),
      tbl.schema)
    tbl.append(b)
    assert(tbl.read().filter(col("meta.extra").isNotNull).count() === 20)

    // widen nested int -> long: old int32 interiors read through, sum intact
    val preSum = (1 to 60).map(_.toLong).sum + (1 to 20).map(_.toLong).sum
    tbl.widenColumn("meta.score", LongType)
    assert(tbl.schema("meta").dataType.asInstanceOf[StructType]("score").dataType === LongType)
    assert(tbl.read().selectExpr("sum(meta.score)").head().getLong(0) === preSum)
    assert(tbl.read().filter(col("meta.score") === 42L).count() === 1)

    // SQL surface: nested add / rename / widen / drop, case-insensitive
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` ADD COLUMNS (META.tag STRING)")
    assert(tbl.read().filter(col("meta.tag").isNull).count() === 80)
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` RENAME COLUMN META.SCORE TO points")
    assert(tbl.read().selectExpr("sum(meta.points)").head().getLong(0) === preSum)
    spark.sql(s"ALTER TABLE graft.`${tbl.root}` DROP COLUMN meta.sub.e")
    assert(!tbl.schema("meta").dataType.asInstanceOf[StructType]("sub")
      .dataType.asInstanceOf[StructType].fieldNames.contains("e"))
    assert(tbl.read().count() === 80)
  }

  test("nested drop: container and leaf; empty-struct and last-field guards") {
    val tbl = GraftTable.create(spark, tmpDir("evo-nest3"), nestedSchema)
    tbl.append(nestedBatch("a", 30))
    // drop a CONTAINER inside a struct (name-based projection, no id needed)
    tbl.dropColumns(Seq("meta.sub"))
    assert(!tbl.schema("meta").dataType.asInstanceOf[StructType].fieldNames.contains("sub"))
    assert(tbl.read().count() === 30)
    assert(tbl.read().selectExpr("meta.author").where("meta.author is not null").count() === 30)
    // dropping the last field of a struct is refused, dropping both at once too
    assert(intercept[Exception](tbl.dropColumns(Seq("meta.author", "meta.score")))
      .getMessage.contains("every field"))
    tbl.dropColumns(Seq("meta.author"))
    assert(intercept[Exception](tbl.dropColumns(Seq("meta.score")))
      .getMessage.contains("last field"))
    // retired container path: re-adding meta.sub refused
    assert(intercept[Exception](tbl.addField("meta",
      StructField("sub", StructType(Seq(StructField("x", IntegerType))))))
      .getMessage.contains("previously dropped"))
  }

  test("complex-typed columns cannot be renamed in place (groups bind by name)") {
    val tbl = GraftTable.create(spark, tmpDir("evo-nest4"), nestedSchema)
    tbl.append(nestedBatch("a", 10))
    // struct container: verified empirically — a renamed GROUP reads as NULL
    // from every old file in every reader path; must refuse, top-level...
    assert(intercept[Exception](tbl.renameColumn("meta", "info"))
      .getMessage.contains("cannot be renamed in place"))
    // ...and nested containers
    assert(intercept[Exception](tbl.renameColumn("meta.sub", "s2"))
      .getMessage.contains("cannot be renamed in place"))
  }

  test("nested evolution guards: legacy interiors, array crossing, unknown paths") {
    import org.apache.spark.sql.types.ArrayType
    val tbl = GraftTable.create(spark, tmpDir("evo-nest5"), nestedSchema)
    tbl.append(nestedBatch("a", 10))
    // simulate a table whose struct interior predates nested field ids
    val stripped = StructType(tbl.schema.fields.map {
      case f if f.name == "meta" =>
        GraftTable.fieldWithId(StructField("meta",
          org.apache.spark.sql.types.DataType.fromJson(
            f.dataType.json).asInstanceOf[StructType] match {
              case st => StructType(st.fields.map(x =>
                x.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
            }), 2)
      case f => f
    })
    tbl.commitMetadataUpdate(md => md.copy(schemaJson = Some(stripped.json)))
    assert(intercept[Exception](tbl.renameColumn("meta.author", "writer"))
      .getMessage.contains("predates nested field ids"))
    // nested ADD on a legacy interior stays id-less (consistent, readable)
    tbl.addField("meta", StructField("extra", DoubleType))
    assert(tbl.read().filter(col("meta.extra").isNull).count() === 10)
    assert(!tbl.schema("meta").dataType.asInstanceOf[StructType]("extra")
      .metadata.contains(GraftTable.FieldIdKey))

    // paths crossing array/map are refused
    val t2 = GraftTable.create(spark, tmpDir("evo-nest6"), StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("arr", ArrayType(StructType(Seq(StructField("x", IntegerType))))))))
    assert(intercept[Exception](t2.renameColumn("arr.x", "y"))
      .getMessage.contains("STRUCT fields only"))
    // unknown segment names the missing piece
    assert(intercept[Exception](tbl.renameColumn("meta.nope", "x"))
      .getMessage.toLowerCase.contains("nope"))
  }
}
