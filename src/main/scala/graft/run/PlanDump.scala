package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Dumps `.explain("formatted")` artifacts for the optimization round:
 *
 *   sbt "runMain graft.run.PlanDump <outDir> <query...>"
 *
 * For every named contract query, writes `<outDir>/<query>.txt` with the
 * formatted physical plan of the RETURNED frame. Lifecycle queries
 * checkpoint their result (the interesting plans live inside the ops), so
 * this also dumps the op-internal plans the optimization claims are about,
 * via dedicated `internal:<name>` targets:
 *
 *   internal:changelog_diff — the changes() frame over q35's CoW MERGE
 *   internal:dedup_exact    — Dedup.exact over the planted corpus (q11)
 *   internal:dv_read        — q44's read with its three deletion-vector
 *                             files live (before REWRITE DELETES)
 *
 * Diagnostic only; Bench/Verify are untouched.
 */
object PlanDump {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", math.max(cpus, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query|internal:name>...")
    val outDir = args.head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def write(name: String, text: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"), text.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$name.txt")
    }
    for (q <- args.tail) q match {
      case "internal:changelog_diff" =>
        // q35's table build + merge, then the changes() frame whose plan
        // carries the CoW commit's slimDiff shape (the delta aggregate)
        import org.apache.spark.sql.functions.{col, lit, pmod, when}
        val cust = spark.read.parquet(s"$dir/customer.parquet")
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        val root = java.nio.file.Files.createTempDirectory("graft-plandump-cl").toString + "/t"
        val tbl = graft.table.GraftTable.create(spark, root, cust.schema)
        tbl.append(cust.coalesce(8))
        val from = tbl.currentSnapshot.get.id
        val m = cust.filter(pmod(col("c_custkey"), lit(6)) === 0)
          .withColumn("op", when(pmod(col("c_custkey"), lit(4)) === 0, "D").otherwise("U"))
        m.createOrReplaceTempView("pdsrc")
        spark.sql(
          s"""MERGE INTO graft.`$root` t USING pdsrc s ON t.c_custkey = s.c_custkey
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal + 25.0""".stripMargin).collect()
        write("internal_changelog_diff", formatted(tbl.changes(from)))
        graft.table.FileIO.deleteRecursively(
          root.substring(0, root.lastIndexOf('/')))
      case "internal:dv_read" =>
        // q44's table and deletes; its returned frame is checkpointed, so
        // the DV-covered scan is dumped here (executed: the final plan)
        import org.apache.spark.sql.functions.col
        val ord = spark.read.parquet(s"$dir/orders.parquet").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("price"))
        val root = java.nio.file.Files.createTempDirectory("graft-plandump-dv").toString + "/t"
        val tbl = graft.table.GraftTable.create(spark, root, ord.schema)
        tbl.append(ord.coalesce(8))
        tbl.deleteWherePositional(col("o_orderpriority") === "1-URGENT")
        tbl.deleteWherePositional(col("o_orderpriority") === "5-LOW")
        tbl.deleteWherePositional(col("o_orderstatus") === "F" && col("price") < 50000.0)
        val df = spark.sql(s"SELECT * FROM graft.`$root`").groupBy("o_orderpriority").count()
        df.collect()
        write("internal_dv_read", formatted(df))
        graft.table.FileIO.deleteRecursively(root.substring(0, root.lastIndexOf('/')))
      case "internal:dedup_exact" =>
        import org.apache.spark.sql.functions.col
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val planted = d.unionByName(d.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        write("internal_dedup_exact",
          formatted(graft.textops.Dedup.exact(planted, col("text"), col("doc_id"))))
      case name =>
        val df = graft.SparkEntry.queries(name)(spark, dir)
        write(name, formatted(df))
    }
    spark.stop()
  }
}
