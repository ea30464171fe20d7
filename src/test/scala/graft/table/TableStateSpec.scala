package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.SparkSuite
import graft.ops.{Cluster, Compact, Merge}
import graft.run.Synth

/**
 * Operations plan from ONE pinned [[TableState]]: one `metadata/` listing
 * and one `v<N>.json` parse to plan, plus one of each per commit attempt.
 * The FileIO bounds below are per-op totals (metadata, manifests, step log,
 * lineage, staging) on a fixed fixture: 4,000 pages in 8 files, then 4
 * upserts of 60 keys each, copy-on-write and merge-on-read.
 */
class TableStateSpec extends SparkSuite {

  private val CoW = "copy-on-write"
  private val MoR = "merge-on-read"

  /** 60 existing keys, re-crawled one day later per batch. */
  private def upsert(i: Int): DataFrame =
    Synth.pages(spark, 4000, partitions = 8)
      .filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
        .between(i * 60L, i * 60L + 59))
      .withColumn("warc_ts", col("warc_ts") + expr(s"INTERVAL $i DAYS"))
      .withColumn("text", concat(col("text"), lit(s"#$i")))

  private lazy val pristine: Map[String, String] = Seq(CoW, MoR).map { mode =>
    val t = GraftTable.create(spark, tmpDir(s"graft-state-$mode"), Synth.pageSchema)
    t.append(Synth.pages(spark, 4000, partitions = 8))
    // copy-on-write upserts on the join plan, which writes each rewrite as
    // several files (the driver plan writes these 8 touched files as one),
    // so compaction has files to bin
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    if (mode == CoW) spark.conf.set(threshold, "-1")
    try (1 to 4).foreach(i => Merge.into(t, upsert(i), Seq("url"), mode = mode))
    finally spark.conf.unset(threshold)
    mode -> t.root
  }.toMap

  /** A private copy of the fixture table (roots are relative in metadata). */
  private def fixture(mode: String): GraftTable = {
    val root = tmpDir("graft-state-copy")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(pristine(mode)), new java.io.File(root))
    GraftTable.load(spark, root)
  }

  /** FileIO calls made by `body`, reported under `what`. */
  private def fileio(what: String)(body: => Any): Long = {
    val before = FileIO.opCount.get()
    body
    val n = FileIO.opCount.get() - before
    info(s"$what: $n FileIO calls")
    n
  }

  test("a state costs one listing and one parse; its views read only manifests, once") {
    val t = fixture(CoW)
    var st: TableState = null
    assert(fileio("table.state") { st = t.state } == 2)
    assert(fileio("schema, specs, properties") {
      st.schema; st.allPartitionSpecs; st.bloomColumns; st.constraints; st.retired } == 0)
    val manifests = st.snapshot.get.manifests.size
    assert(fileio("files, twice, and a pruned plan") {
      st.files; st.planFiles(Some(col("lang") === "de")); st.files } == manifests)
    assert(fileio("the parent snapshot's files") { st.at(st.snapshot.get.parentId.get).files } > 0)
  }

  test("merge FileIO stays bounded: copy-on-write 14, merge-on-read 25") {
    for ((mode, bound) <- Seq(CoW -> 14, MoR -> 25)) {
      val t = fixture(mode)
      val n = fileio(s"$mode merge")(Merge.into(t, upsert(5), Seq("url"), mode = mode))
      assert(n <= bound, s"$mode merge made $n FileIO calls")
    }
  }

  test("compaction FileIO stays bounded: 18 on the copy-on-write table, 33 on merge-on-read") {
    for ((mode, bound) <- Seq(CoW -> 18, MoR -> 33)) {
      val t = fixture(mode)
      val n = fileio(s"compact, $mode table")(assert(Compact.run(t).nonEmpty))
      assert(n <= bound, s"compact on the $mode table made $n FileIO calls")
    }
  }

  test("z-order cluster FileIO stays bounded at 16") {
    val t = fixture(CoW)
    val n = fileio("cluster")(assert(Cluster.zorderRewrite(t).nonEmpty))
    assert(n <= 16, s"cluster made $n FileIO calls")
  }

  test("positional delete FileIO stays bounded at 17") {
    val t = fixture(MoR)
    val n = fileio("deleteWherePositional")(assert(t.deleteWherePositional(col("lang") === "de").nonEmpty))
    assert(n <= 17, s"deleteWherePositional made $n FileIO calls")
  }

  test("a state keeps its schema, specs, bloom columns and files across later commits") {
    val t = GraftTable.create(spark, tmpDir("graft-state-pin"), Synth.pageSchema)
    t.append(Synth.pages(spark, 200, partitions = 2))
    val st = t.state
    t.addColumn(StructField("extra", StringType))
    t.setPartitionSpec(Some("bucket(4, url)"))
    t.commitMetadataUpdate(md =>
      md.copy(properties = md.properties + (GraftTable.BloomColumnsProp -> "url")))
    t.append(Synth.pages(spark, 200, partitions = 2, seed = 7).withColumn("extra", lit("x")))

    assert(st.schema.fieldNames.toSeq == Synth.pageSchema.fieldNames.toSeq)
    assert(st.partitionSpecs.isEmpty && st.allPartitionSpecs.isEmpty)
    assert(st.bloomColumns.isEmpty)
    assert(st.files.map(_.rows).sum == 200)
    assert(st.read().count() == 200)

    val now = t.state
    assert(now.schema.fieldNames.last == "extra")
    assert(now.partitionSpecs.map(_.toString) == Seq("bucket(4, url)"))
    assert(now.bloomColumns == Seq("url"))
    assert(now.files.map(_.rows).sum == 400)
  }
}
