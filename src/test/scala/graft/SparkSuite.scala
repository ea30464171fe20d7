package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + helpers for all suites. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** fresh temp dir for a test table; deleted in the suite's `afterAll` */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    tmpDirs.add(dir)
    dir + "/t"
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  /** Parquet footer of a local data file. */
  def footer(path: String): org.apache.parquet.hadoop.metadata.ParquetMetadata =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(new java.io.File(path).toURI))

  /** Per row group of a data file: leaf column path → has a bloom filter. */
  def bloomFlags(path: String): Seq[Map[String, Boolean]] = {
    import scala.jdk.CollectionConverters._
    footer(path).getBlocks.asScala.toSeq.map(_.getColumns.asScala
      .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap)
  }

  /** Descriptions of the jobs `body` starts, and the number of RDD blocks
    * stored meanwhile (a persisted RDD caches one per computed partition). */
  def sparkJobs(body: => Any): (Seq[String], Int) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rddBlocks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        ()
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD) { rddBlocks.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(listener)
    (descs.asScala.toSeq, rddBlocks.get)
  }

  /** multiset equality of two DataFrames */
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$hint row sets differ: ${extraA} rows only in left, ${extraB} only in right")
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "4g")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
