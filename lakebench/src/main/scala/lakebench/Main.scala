package lakebench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Cluster, Compact, Expire, ManifestRewrite, Merge}
import graft.run.Synth
import graft.table.{FileIO, GraftTable}

/**
 * One benchmark run of one workload in one JVM at local[cores]. Inputs are
 * generated from the seed during set-up; the engine only ever sees the
 * staged inputs. Results (samples, checks, spans, jobs) go to `--out` as
 * JSON; `run.py` turns them into metrics.
 *
 * Usage: Main --workload maintain|upsert|contract --seed N --seconds S
 *             --trace 0|1 --cores C --work DIR --out FILE
 *             [--data DIR --queries q01_recon_agg,…]   (contract only)
 */
object Main {
  private var current: SparkSession = _
  def spark: SparkSession = current

  private val localDir = sys.props.getOrElse("java.io.tmpdir", "/tmp")

  def startSession(cores: Int): Unit = {
    if (current != null) {
      current.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    current = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
  }

  /** Run `unit(i)` for i = 0, 1, … until `seconds` have passed and at
    * least `minUnits` units ran. Unit 0 pays the JIT warm-up of its op
    * paths, which per-op medians over three or more units leave out. In traced
    * runs with `alternate`, odd units are traced and even ones are not, so
    * the two halves give the tracing overhead; otherwise all are traced. */
  def loop(rec: Recorder, seconds: Double, minUnits: Int, alternate: Boolean = true)(
      unit: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    do {
      rec.tracing(!alternate || i % 2 == 1)
      unit(i)
      i += 1
    } while ((System.nanoTime() - t0) / 1e9 < seconds || i < minUnits)
    rec.tracing(false)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Row count plus an order-independent hash of the given columns. */
  def digest(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def bytesUnder(dir: String): Long =
    FileIO.listFilesRecursively(dir, ".parquet").map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum

  def main(argv: Array[String]): Unit = {
    val opt = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    startSession(cores)
    val rec = new Recorder(spark.sparkContext, traced)
    try workload match {
      case "maintain" => new Maintain(rec, seed, cores, work).run(seconds)
      case "upsert"   => new Upsert(rec, seed, work).run(seconds)
      case "contract" => new Contract(rec, opt("data"), opt("queries").split(",").toSeq, work).run(seconds)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      rec.tracing(false)
      rec.dump(opt("out"))
      spark.stop()
    }
  }
}

/** The fixed reads run after every write: point lookups, host-prefix scans
  * and lang + time-range scans, each checked against an expected count. */
final case class Read(kind: String, pred: Column)

object Reads {
  val baseTs = "2025-01-01 00:00:00"

  def hostPrefix(url: String): String = url.substring(0, url.indexOf("/p/") + 3)

  def of(pointUrls: Seq[String]): Seq[Read] =
    pointUrls.map(u => Read("point", col("url") === u)) ++
      pointUrls.map(u => Read("host", col("url").startsWith(hostPrefix(u)))) ++ Seq(
        Read("lang_ts", col("lang") === "de" &&
          col("warc_ts") < (lit(baseTs).cast("timestamp") + expr("INTERVAL 10 DAYS"))),
        Read("lang_ts", col("lang") === "fr" &&
          col("warc_ts") >= (lit(baseTs).cast("timestamp") + expr("INTERVAL 20 DAYS"))))

  /** Expected count of every read over `df`, in one job. */
  def expected(df: DataFrame, reads: Seq[Read]): Seq[Long] = {
    val sums = reads.map(x => sum(when(x.pred, 1L).otherwise(0L)))
    val r = df.agg(sums.head, sums.tail: _*).head()
    reads.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Run every read on `tbl` as a span named `name`, record its seconds
    * under `name` and `name.kind`, and check each count against `expected`. */
  def round(rec: Recorder, tbl: GraftTable, reads: Seq[Read], expected: Seq[Long],
      name: String): Unit =
    reads.zip(expected).foreach { case (r, want) =>
      val (n, s) = rec.timed(name)(tbl.read().filter(r.pred).count())
      rec.add(s"$name.${r.kind}", s)
      rec.check(s"$name ${r.kind}")(n == want)
      if (rec.traced) {
        val (kept, ps) = Main.time(tbl.planFiles(Some(r.pred)).size)
        rec.add(s"plan_files.$name", ps)
        rec.add(s"files_kept_ratio.$name.${r.kind}", kept.toDouble / math.max(1, tbl.files().size))
      }
    }
}

/** `maintain`: the paper's headline path on a fresh table of small files —
  * compact → Z-order cluster → manifest rewrite → expire → reads. The
  * small-file table is appended once per set-up ("pristine") and each
  * cycle works on a file copy of it, so cycles do not pay for the append. */
final class Maintain(rec: Recorder, seed: Long, cores: Int, work: String) {
  import Main.{spark, time}
  val Pages = 12000L
  val Files = 48

  private val staged = s"$work/maintain-input"
  private val pristine = s"$work/maintain-pristine"

  private def stage(): Unit = {
    Synth.pages(spark, Pages, hosts = 400, seed = seed, partitions = Files, htmlRepeatMax = 48)
      .write.mode("overwrite").parquet(staged)
    FileIO.deleteRecursively(pristine)
    // repartition: Spark's read-combining would otherwise write a few
    // large files and leave compaction nothing to do
    GraftTable.create(spark, pristine, Synth.pageSchema).append(input.repartition(Files))
  }

  /** Table paths are relative to the table root, so a copied tree is an
    * independent table with the same files and history. */
  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val paths = java.nio.file.Files.walk(src)
    try paths.forEach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally paths.close()
  }

  private def input: DataFrame = spark.read.schema(Synth.pageSchema).parquet(staged)

  /** One cycle on a fresh table; returns (compact+cluster seconds, bytes
    * they read). */
  private def cycle(name: String, reads: Seq[Read], expected: Seq[Long],
      want: (Long, Long)): (Double, Long) = {
    val root = s"$work/$name"
    try {
      copyTree(pristine, root)
      val tbl = GraftTable.load(spark, root)
      val inBytes = tbl.files().map(_.bytes).sum
      val target = math.max(1L << 20, inBytes / 8)
      if (rec.traced) rec.timed("compact.plan")(Compact.plan(tbl, target, Some("url")))
      val tCompact = rec.timed("compact")(Compact.run(tbl, targetBytes = target,
        orderBy = Some("url"), jobParallelism = cores))._2
      val compacted = tbl.files()
      val cBytes = compacted.map(_.bytes).sum
      val tCluster = rec.timed("cluster")(Cluster.zorderRewrite(tbl, Cluster.ZDims(),
        targetFileBytes = math.max(1L << 20, cBytes / 8), saltThresholdRows = Pages / 4,
        jobParallelism = cores))._2
      val clustered = tbl.files().size
      rec.timed("manifest_rewrite")(ManifestRewrite.run(tbl))
      rec.timed("expire")(Expire.expire(tbl))
      rec.add("compact_gbps", inBytes / 1e9 / tCompact)
      rec.add("cluster_gbps", cBytes / 1e9 / tCluster)
      if (rec.traced) {
        rec.add("live_files.compacted", compacted.size)
        rec.add("live_files.clustered", clustered)
        rec.add("metadata", time { tbl.metadata; tbl.files() }._2)
      }
      Reads.round(rec, tbl, reads, expected, "read")
      rec.check(s"$name scan equals input")(Main.digest(tbl.read(), "url", "text") == want)
      (tCompact + tCluster, inBytes + cBytes)
    } finally FileIO.deleteRecursively(root)
  }

  def run(seconds: Double): Unit = {
    for (_ <- 1 to 3) rec.add("setup", time(stage())._2)
    val pointUrls = input.select("url").orderBy(xxhash64(col("url"), lit(seed)))
      .limit(2).collect().map(_.getString(0)).toSeq
    val reads = Reads.of(pointUrls)
    val expected = Reads.expected(input, reads)
    val want = Main.digest(input, "url", "text")
    Main.loop(rec, seconds, minUnits = 5)(i => rec.unit("cycle")(cycle(s"cycle-$i", reads, expected, want)))
    if (rec.traced) {
      val z = input
      val b = Cluster.computeBounds(z)
      val (_, s) = time(z.select(Cluster.zkeyCol(Cluster.ZDims(), b).as("z")).agg(expr("bit_xor(z)")).head())
      rec.set("zkey_rows_per_s", Pages / s)
      rec.prefix = "scale."
      rec.set("scaling_1_to_4", scaling(reads, expected, want))
      rec.prefix = ""
    }
  }

  /** Throughput of local[4·n/4]… : local[1] vs local[cores] maintenance
    * passes on the same staged input, first (warm-up) pass of each level
    * excluded, median of the rest; the ratio is reported unclamped. */
  private def scaling(reads: Seq[Read], expected: Seq[Long], want: (Long, Long)): Double = {
    val gbps = Seq(1, cores).map { c =>
      Main.startSession(c)
      val passes = (0 until 2).map(i => cycle(s"scale-$c-$i", reads, expected, want))
      val warm = passes.drop(1).map { case (s, b) => b / 1e9 / s }.sorted
      warm(warm.size / 2)
    }
    gbps(1) / gbps(0)
  }
}

/** `upsert`: a CDC pipeline landing host-local re-crawls into a
  * copy-on-write and a merge-on-read copy of the same table. */
final class Upsert(rec: Recorder, seed: Long, work: String) {
  import Main.{spark, time}
  val BaseUrls = 8000L
  val NewUrls = 2000L
  val Files = 16
  val HostsPerBatch = 2
  val ExpireEvery = 3
  private val pageCols = Synth.pageSchema.fieldNames.toSeq.map(col)
  private val universePath = s"$work/upsert-universe"

  /** Every version of every url this run can ever write, with the url id,
    * its version and its host: versions 0 of the first BaseUrls urls are
    * the table, later versions and urls arrive in batches. */
  private def universe: DataFrame = spark.read.parquet(universePath)

  private def stage(): (GraftTable, GraftTable) = {
    FileIO.deleteRecursively(s"$work/cow")
    FileIO.deleteRecursively(s"$work/mor")
    Synth.pages(spark, BaseUrls + NewUrls, versions = 2, hosts = 300, seed = seed,
      partitions = 8, htmlRepeatMax = 32)
      .withColumn("uid", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .withColumn("ver", ((unix_seconds(col("warc_ts")) - lit(1735689600L)) / lit(86400L * 40)).cast("int"))
      .withColumn("host", regexp_extract(col("url"), "^(https://[^/]+/p/)", 1))
      .write.mode("overwrite").parquet(universePath)
    val base = universe.filter(col("uid") < BaseUrls && col("ver") === 0).select(pageCols: _*)
      .repartitionByRange(Files, col("url")).sortWithinPartitions("url")
    val Seq(cow, mor) = Seq("cow", "mor").map { n =>
      val t = GraftTable.create(spark, s"$work/$n", Synth.pageSchema)
      t.append(base)
      t
    }
    (cow, mor)
  }

  /** The table's expected content once `hosts` have been re-crawled. */
  private def model(hosts: Seq[String]): DataFrame = {
    val picked = col("host").isin(hosts: _*)
    universe.filter(
      (col("uid") < BaseUrls && ((picked && col("ver") === 1) || (!picked && col("ver") === 0))) ||
        (col("uid") >= BaseUrls && picked && col("ver") === 0)).select(pageCols: _*)
  }

  /** Hosts with a similar url count (so batches are alike), in seeded order. */
  private def pickHosts(): Seq[String] = {
    val counts = universe.filter(col("uid") < BaseUrls && col("ver") === 0)
      .groupBy("host").count().collect().map(r => r.getString(0) -> r.getLong(1))
    counts.sortBy { case (h, n) => (math.abs(n - 30), h) }.take(30).map(_._1).toSeq
      .sortBy(h => scala.util.hashing.MurmurHash3.stringHash(h, seed.toInt))
  }

  private def written(t: GraftTable): Map[String, Long] =
    (t.files() ++ t.positionDeletes()).map(f => f.path -> f.bytes).toMap

  def run(seconds: Double): Unit = {
    var tables: (GraftTable, GraftTable) = null
    for (_ <- 1 to 3) rec.add("setup", time { tables = stage() }._2)
    val (cow, mor) = tables
    val hosts = pickHosts()
    val allCols = Seq("url", "warc_ts", "html", "text", "lang")
    var batches = 0
    Main.loop(rec, seconds, minUnits = 4) { b =>
      batches = b + 1
      rec.unit("batch") {
        val batchHosts = hosts.slice(b * HostsPerBatch, (b + 1) * HostsPerBatch)
        require(batchHosts.size == HostsPerBatch, s"host list exhausted at batch $b")
        val done = hosts.take((b + 1) * HostsPerBatch)
        val chgPath = s"$work/change-$b"
        universe.filter(col("host").isin(batchHosts: _*) &&
          ((col("uid") < BaseUrls && col("ver") === 1) || (col("uid") >= BaseUrls && col("ver") === 0)))
          .select(pageCols: _*).write.parquet(chgPath)
        val chgBytes = Main.bytesUnder(chgPath)
        val src = spark.read.schema(Synth.pageSchema).parquet(chgPath)
        Seq(cow -> "cow", mor -> "mor").foreach { case (t, m) =>
          val before = if (rec.traced) written(t) else Map.empty[String, Long]
          if (rec.traced) {
            val (touched, _) = rec.timed(s"touched_$m")(Merge.touchedFiles(t, src.select("url"), "url"))
            rec.add(s"touched_ratio_$m", touched.size.toDouble / math.max(1, t.files().size))
          }
          val mode = if (m == "cow") "copy-on-write" else "merge-on-read"
          rec.timed(s"merge_$m")(Merge.into(t, src, Seq("url"), mode = mode))
          if (rec.traced) {
            val bytes = written(t).collect { case (p, n) if !before.contains(p) => n }.sum
            rec.add(s"bytes_written_$m", bytes)
            rec.add(s"write_amp_$m", bytes.toDouble / chgBytes)
            rec.add("metadata", time { t.metadata; t.files() }._2)
          }
        }
        // one point lookup of a re-crawled url, its host, and the lang+ts scans
        val reads = Reads.of(src.select("url").orderBy("url").limit(1).collect().map(_.getString(0)).toSeq)
        val expected = Reads.expected(model(done), reads)
        Reads.round(rec, cow, reads, expected, "read")
        Reads.round(rec, mor, reads, expected, "read_mor")
        FileIO.deleteRecursively(chgPath)
        if ((b + 1) % ExpireEvery == 0)
          for (t <- Seq(cow, mor)) rec.timed("expire")(Expire.expire(t))
      }
    }
    val want = Main.digest(model(hosts.take(batches * HostsPerBatch)), allCols: _*)
    rec.check("cow equals model")(Main.digest(cow.read(), allCols: _*) == want)
    rec.check("mor equals model")(Main.digest(mor.read(), allCols: _*) == want)
    if (rec.traced) {
      rec.set("live_files.cow", cow.files().size)
      rec.set("live_files.mor", mor.files().size)
      val dvs = mor.positionDeletes()
      rec.set("dv_files", dvs.size)
      rec.set("dv_rows", dvs.map(_.rows).sum)
    }
  }
}

/** `contract`: a fixed subset of `SparkEntry.queries` over seeded
  * TPC-H-ish tables; the first pass's outputs and each query's oracle SQL
  * are written for the DuckDB check in run.py. */
final class Contract(rec: Recorder, data: String, queries: Seq[String], work: String) {
  import Main.spark

  def run(seconds: Double): Unit = {
    FileIO.mkdirs(s"$work/out")
    queries.foreach(q => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/out/$q.sql"), graft.SparkEntry.oracleSql(q)))
    // pass 0 warms the JIT up and is checked; later passes are measured
    Main.loop(rec, seconds, minUnits = 2, alternate = false) { pass =>
      queries.foreach { q =>
        var out: DataFrame = null
        var rows: Array[Row] = null
        rec.unit(q) {
          out = graft.SparkEntry.queries(q)(spark, data)
          rows = out.collect()
        }.foreach { s =>
          rec.add(s"query.$q", s)
          if (pass == 0)
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
              .coalesce(1).write.parquet(s"$work/out/$q")
        }
      }
    }
  }
}
