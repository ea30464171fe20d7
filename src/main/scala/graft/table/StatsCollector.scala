package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/**
 * Per-file column statistics from Parquet footers — the analog of the
 * reference's driver-side schema knowledge plus HBase's region boundaries,
 * turned into real min/max pruning stats (cf. key-prefix pruning at
 * `sql/HQLEngine.java:136-155`).
 *
 * Footers are metadata-only reads (no data pages touched). For large commits
 * the footer reads are distributed over executors via a Dataset of paths —
 * at 100 TB / ~1 GB files that is ~10^5 footer reads, which a driver-side
 * loop would serialize; `mapPartitions` keeps it parallel and returns only
 * the tiny `DataFileMeta` rows to the driver.
 */
object StatsCollector {

  private[table] lazy val footerPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors()),
        r => { val t = new Thread(r, "graft-footer"); t.setDaemon(true); t }))

  /** Read stats for `absPaths`, returning metas with paths relative to `root`. */
  def collect(
      spark: SparkSession,
      schema: StructType,
      root: String,
      absPaths: Seq[String],
      commitUuid: String,
      distributedThreshold: Int = 64): Seq[DataFileMeta] = {
    if (absPaths.isEmpty) return Seq.empty
    if (absPaths.size < distributedThreshold) {
      // small commit: parallel footer reads on the driver via a thread pool
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = StatsCollector.footerPool
      Await.result(
        Future.sequence(absPaths.map(p => Future(readOne(schema, root, p, commitUuid)))),
        Duration.Inf).toVector
    } else {
      import spark.implicits._
      val ddl = schema.toDDL
      val rootB = root
      val cu = commitUuid
      spark.createDataset(absPaths)
        .repartition(math.min(absPaths.size, 256))
        .mapPartitions { it =>
          val sch = StructType.fromDDL(ddl)
          it.map(p => readOne(sch, rootB, p, cu))
        }
        .collect().toVector
    }
  }

  /** One Hadoop configuration per JVM (driver or executor) for footer
    * reads: building one re-parses `core-default.xml`. */
  private[graft] lazy val hadoopConf: Configuration = new Configuration()

  /** A reader of `absPath` on the per-JVM configuration — `open(file)`
    * without options would build a fresh `Configuration` per file. */
  private[graft] def openReader(absPath: String): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(absPath), hadoopConf),
      HadoopReadOptions.builder(hadoopConf).build())

  /** Footer stats for one file. Runs on driver or executor. */
  def readOne(schema: StructType, root: String, absPath: String, commitUuid: String): DataFileMeta = {
    val reader = openReader(absPath)
    try {
      val footer = reader.getFooter
      import scala.jdk.CollectionConverters._
      val blocks = footer.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      var mins = Map.empty[String, String]
      var maxs = Map.empty[String, String]
      var nulls = Map.empty[String, Long]
      for (block <- blocks; col <- block.getColumns.asScala) {
        // only top-level primitive columns carry usable bounds
        val path = col.getPath.toArray
        if (path.length == 1) {
          val name = path(0)
          byName.get(name).filter(Bounds.supported) match {
            case Some(dt) =>
              val st = col.getStatistics
              if (st != null && !st.isEmpty) {
                nulls = nulls.updated(name, nulls.getOrElse(name, 0L) + st.getNumNulls)
                if (st.hasNonNullValue) {
                  for (mn <- Bounds.fromParquetStat(dt, st.genericGetMin()))
                    mins = mins.updated(name, mins.get(name).map(Bounds.min(dt, _, mn)).getOrElse(mn))
                  for (mx <- Bounds.fromParquetStat(dt, st.genericGetMax()))
                    maxs = maxs.updated(name, maxs.get(name).map(Bounds.max(dt, _, mx)).getOrElse(mx))
                }
              }
            case None => ()
          }
        }
      }
      val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(absPath))
      val rel = relativize(root, absPath)
      // truncate string bounds AFTER accumulation (full-precision min/max
      // across blocks, O(bytes) in the manifest entry; widening is sound)
      val tMins = mins.map { case (k, v) => k -> Bounds.truncatedMin(byName(k), v) }
      val tMaxs = maxs.map { case (k, v) => k -> Bounds.truncatedMax(byName(k), v) }
      DataFileMeta(rel, rows, bytes, tMins, tMaxs, nulls, commitUuid)
    } finally reader.close()
  }

  /** `absPath` relative to `root`, both compared in java.nio's normal form
    * (no trailing or doubled `/`) — the form [[FileIO]] listings return —
    * so a root given as `/t/` or `/a//t` still yields `data/…`. */
  def relativize(root: String, absPath: String): String = {
    val r = java.nio.file.Paths.get(root).toString.stripSuffix("/") + "/"
    val a = java.nio.file.Paths.get(absPath).toString
    if (a.startsWith(r)) a.substring(r.length) else absPath
  }
}
