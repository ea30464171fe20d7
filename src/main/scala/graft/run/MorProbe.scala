package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Compact, Merge}
import graft.table.GraftTable

/**
 * Write-amplification probe: a trickle CDC upsert (update/delete/insert a
 * small fraction of keys) against the SAME staged table, once copy-on-write
 * and once merge-on-read. Prints one JSON line with bytes written, wall
 * seconds, and the post-merge full-scan seconds of each mode — the number
 * that justifies MoR at 100 TB (CoW rewrites every touched FILE; MoR writes
 * the changed ROWS) and the read tax it costs until compaction.
 *
 * Usage: runMain graft.run.MorProbe [nUrls=2000000] [changePermille=2] [cpus=8]
 */
object MorProbe {
  def main(args: Array[String]): Unit = {
    val nUrls = args.headOption.map(_.toLong).getOrElse(2000000L)
    val changePermille = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-mor-probe")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def stage(root: String): GraftTable = {
      val t = GraftTable.create(spark, root, Synth.pageSchema)
      t.append(Synth.pages(spark, nUrls, hosts = 2000, partitions = 64, htmlRepeatMax = 64))
      // a realistic maintained table: right-sized, key-ordered files
      Compact.run(t, targetBytes = 128L << 20, orderBy = Some("url"))
      t
    }

    def cdcSource(t: GraftTable, seed: Long) = {
      val n = math.max(1L, nUrls * changePermille / 1000)
      // updates: newer version of an existing-key slice; deletes: another
      // slice; inserts: fresh keys — the reference's incremental-load mix
      val upd = t.read().filter(pmod(xxhash64(col("url"), lit(seed)), lit(1000)) < lit(changePermille))
        .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 100 DAYS"))
        .withColumn("text", concat(lit("UPD-"), col("text")))
        .withColumn("_deleted", lit(false))
      val del = t.read().filter(pmod(xxhash64(col("url"), lit(seed + 1)), lit(2000)) < lit(changePermille))
        .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 100 DAYS"))
        .withColumn("_deleted", lit(true))
      val ins = Synth.pages(spark, n / 4 + 1, hosts = 50, seed = seed + 2)
        .withColumn("url", concat(lit("https://fresh.example.com/"), col("url")))
        .withColumn("_deleted", lit(false))
      upd.unionByName(del).unionByName(ins).localCheckpoint(true)
    }

    def dirBytes(t: GraftTable): Long = t.files().map(_.bytes).sum

    val base = java.nio.file.Files.createTempDirectory("graft-morprobe").toString
    val results = Seq("copy-on-write", "merge-on-read").map { mode =>
      val t = stage(s"$base/$mode/t")
      val tableBytes = dirBytes(t)
      val preFiles = t.files().map(f => f.path -> f.bytes).toMap
      val src = cdcSource(t, 42L)
      val srcRows = src.count()
      val t0 = System.nanoTime()
      val snap = Merge.into(t, src, mode = mode)
      val mergeSec = (System.nanoTime() - t0) / 1e9
      // bytes physically written by the merge commit = new data files + DVs
      val newData = t.files().filterNot(f => preFiles.contains(f.path)).map(_.bytes).sum
      val dvBytes = t.positionDeletes().map(_.bytes).sum
      val rows = t.read().count()
      // time ONE real scan: a hash aggregate cannot be metadata-answered on
      // either side (counts are — free on the CoW table, a real scan
      // through the DV filter on the MoR one — so they stay untimed)
      val r0 = System.nanoTime()
      t.read().agg(bit_xor(xxhash64(col("url")))).first()
      val readSec = (System.nanoTime() - r0) / 1e9
      // the read tax is bounded in time: a delete-pressure compaction
      // materializes the DVs and restores the plain-scan path
      val postCompactSec =
        if (t.positionDeletes().isEmpty) readSec
        else {
          Compact.run(t, targetBytes = 128L << 20, deleteRatioThreshold = 1e-9)
          val c0 = System.nanoTime()
          t.read().agg(bit_xor(xxhash64(col("url")))).first()
          (System.nanoTime() - c0) / 1e9
        }
      (mode, tableBytes, srcRows, mergeSec, newData + dvBytes, rows, readSec, postCompactSec, snap.operation)
    }
    val json = results.map { case (m, tb, sr, ms, wb, rows, rs, pc, op) =>
      s"""{"mode":"$m","op":"$op","table_bytes":$tb,"src_rows":$sr,""" +
        f""""merge_sec":$ms%.2f,"written_bytes":$wb,"rows_after":$rows,"full_scan_sec":$rs%.2f,"post_compact_scan_sec":$pc%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"mor-write-amplification","n_urls":$nUrls,"change_permille":$changePermille,"cpus":$cpus,"results":$json}""")
    graft.table.FileIO.deleteRecursively(base)
  }
}
