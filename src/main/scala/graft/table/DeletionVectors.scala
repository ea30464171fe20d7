package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/**
 * Position deletes (deletion vectors) as one 64-bit Roaring bitmap per data
 * file — the Iceberg v3 DV shape (https://iceberg.apache.org/spec/#deletion-vectors)
 * over graft's `(_file, _pos)` parquet delete files.
 *
 * Planning reads each DV file once with parquet-hadoop (footer pool of
 * [[StatsCollector]], the session's Hadoop conf) and caches its per-file
 * bitmaps by ABSOLUTE path in a bounded in-process LRU. DV files are
 * write-once under a fresh UUID dir, so an entry can never go stale: a table
 * dropped and recreated at the same root writes its DVs under new dirs.
 *
 * Scans apply the bitmaps through [[DvKeep]], a codegen'd
 * `dv_keep(_metadata.file_path, _metadata.row_index)` filter that resolves
 * a file's bitmap once per file change and probes it once per row — no DV
 * read job, no `distinct`, no broadcast, no join. The bitmaps ride the
 * stage's task binary (Spark broadcasts that once per stage).
 */
object DeletionVectors {

  /** Data-file path (table-relative, = [[DataFileMeta.path]]) → deleted
    * row positions. Cached maps are SHARED: never mutate a bitmap in one. */
  type Bitmaps = Map[String, Roaring64Bitmap]

  /** Cache bound: estimated bitmap + key bytes held across all tables. A DV
    * file larger than the whole budget is read but never cached. */
  private val CacheBudgetBytes = 64L << 20

  private final case class Entry(bitmaps: Bitmaps, bytes: Long)

  private val cache = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var cachedBytes = 0L

  private def cached(absPath: String): Option[Bitmaps] = cache.synchronized {
    Option(cache.get(absPath)).map(_.bitmaps)
  }

  private def remember(absPath: String, bitmaps: Bitmaps): Unit = {
    val bytes = bitmaps.iterator.map { case (f, b) => 2L * f.length + b.serializedSizeInBytes() }.sum
    if (bytes > CacheBudgetBytes) return
    cache.synchronized {
      if (!cache.containsKey(absPath)) {
        cache.put(absPath, Entry(bitmaps, bytes))
        cachedBytes += bytes
        val it = cache.values.iterator
        while (cachedBytes > CacheBudgetBytes && it.hasNext) {
          cachedBytes -= it.next().bytes
          it.remove()
        }
      }
    }
  }

  /** Union of the bitmaps of the DV files at `absPaths` (duplicate
    * `(_file, _pos)` entries across files count once). Uncached files are
    * read in parallel on the footer pool. */
  def load(spark: SparkSession, absPaths: Seq[String]): Bitmaps = {
    val hits = absPaths.distinct.map(p => p -> cached(p))
    val missing = hits.collect { case (p, None) => p }
    val read =
      if (missing.isEmpty) Map.empty[String, Bitmaps]
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = StatsCollector.footerPool
        val conf = spark.sessionState.newHadoopConf()
        Await.result(Future.sequence(missing.map(p => Future(p -> readFile(conf, p)))),
          Duration.Inf).toMap
      }
    read.foreach { case (p, bms) => remember(p, bms) }
    union(hits.map { case (p, hit) => hit.getOrElse(read(p)) })
  }

  private def union(parts: Seq[Bitmaps]): Bitmaps = parts.filter(_.nonEmpty) match {
    case Seq()     => Map.empty
    case Seq(only) => only
    case many =>
      many.flatMap(_.toSeq).groupBy(_._1).map {
        case (f, Seq((_, b))) => f -> b
        case (f, bs) =>
          val out = new Roaring64Bitmap()
          bs.foreach { case (_, b) => out.or(b) }
          f -> out
      }
  }

  /** Read one DV parquet file into per-data-file bitmaps: column readers
    * over each row group, no per-row objects. Null cells (never written by
    * graft) are skipped. */
  private def readFile(conf: Configuration, absPath: String): Bitmaps = {
    val out = scala.collection.mutable.HashMap.empty[String, Roaring64Bitmap]
    // explicit options: `open(file)` alone builds a fresh Configuration per file
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(absPath), conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = meta.getSchema
      val fileCol = schema.getColumnDescription(Array("_file"))
      val posCol = schema.getColumnDescription(Array("_pos"))
      val converter = new GroupRecordConverter(schema).getRootConverter
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val store = new ColumnReadStoreImpl(pages, converter, schema, meta.getCreatedBy)
        val files = store.getColumnReader(fileCol)
        val poss = store.getColumnReader(posCol)
        var lastFile: Binary = null
        var cur: Roaring64Bitmap = null
        var i = 0L
        while (i < pages.getRowCount) {
          val fileSet = files.getCurrentDefinitionLevel == fileCol.getMaxDefinitionLevel
          val posSet = poss.getCurrentDefinitionLevel == posCol.getMaxDefinitionLevel
          if (fileSet && posSet) {
            val f = files.getBinary
            if (lastFile == null || !f.equals(lastFile)) {
              lastFile = f.copy()
              cur = out.getOrElseUpdate(f.toStringUsingUTF8, new Roaring64Bitmap())
            }
            cur.addLong(poss.getLong)
          }
          files.consume()
          poss.consume()
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
    out.foreach(_._2.runOptimize())
    out.toMap
  }

  /** `dv_keep(_metadata.file_path, _metadata.row_index)` over the bitmaps
    * of the DV files at `absPaths` — true for rows none of them deletes.
    * Must sit directly above a file-source scan (where `_metadata`
    * resolves). */
  def keep(spark: SparkSession, absPaths: Seq[String]): Column = {
    import org.apache.spark.sql.functions.col
    Shims.column(DvKeep(Shims.expression(col("_metadata.file_path")),
      Shims.expression(col("_metadata.row_index")),
      new DvSet(absPaths.distinct.sorted, load(spark, absPaths))))
  }

  /** Table-relative data-file path (= [[DataFileMeta.path]]) of a scanned
    * row's `_metadata.file_path`, a URL-encoded URI: its decoded path's
    * `data/` plus everything after the LAST `/data/` (the table's data dir;
    * hidden-partition dirs are `name=value` and never equal `data`),
    * whatever the root's URI spelling. The ONE derivation behind both the
    * `_file` values DV writers record ([[DvRelPath]]) and the probe's
    * bitmap lookup ([[DvSet.bitmapFor]]). */
  def relPath(filePath: String): String = {
    val path = new java.net.URI(filePath).getPath
    val i = path.lastIndexOf("/data/")
    "data/" + (if (i < 0) path else path.substring(i + 6))
  }

  /** `_metadata.file_path` as [[relPath]] — the `_file` value a DV entry
    * records for a scanned row. Must sit directly above a file-source scan. */
  def relPathColumn: Column = {
    import org.apache.spark.sql.functions.col
    Shims.column(DvRelPath(Shims.expression(col("_metadata.file_path"))))
  }
}

/** The bitmaps a [[DvKeep]] probes. Equal when built from the same DV file
  * set (bitmaps are a pure function of immutable files), so plan
  * comparison never walks bitmap contents; prints as a one-line summary. */
final class DvSet(val key: Seq[String], val bitmaps: DeletionVectors.Bitmaps) extends Serializable {

  /** Bitmap of the data file a `_metadata.file_path` names, or null. */
  def bitmapFor(filePath: UTF8String): Roaring64Bitmap =
    bitmaps.getOrElse(DeletionVectors.relPath(filePath.toString), null)

  override def equals(o: Any): Boolean = o match {
    case d: DvSet => d.key == key
    case _        => false
  }
  override def hashCode: Int = key.hashCode
  override def toString: String = s"${key.size} DV files over ${bitmaps.size} data files"
}

/** `dv_keep(file_path, row_index)` → false iff the row's position is set in
  * its file's bitmap. Codegen keeps the current file's path and bitmap in
  * mutable state: the string compare runs per row, the lookup per file. */
case class DvKeep(filePath: Expression, rowIndex: Expression, dvs: DvSet)
  extends Expression with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(filePath, rowIndex)
  override def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "dv_keep"

  override def eval(input: InternalRow): Any = {
    val p = filePath.eval(input)
    val i = rowIndex.eval(input)
    if (p == null || i == null) true
    else {
      val bm = dvs.bitmapFor(p.asInstanceOf[UTF8String])
      bm == null || !bm.contains(i.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = filePath.genCode(ctx)
    val i = rowIndex.genCode(ctx)
    val ref = ctx.addReferenceObj("dvSet", dvs, classOf[DvSet].getName)
    val lastPath = ctx.addMutableState(classOf[UTF8String].getName, "dvLastPath")
    val bitmap = ctx.addMutableState(classOf[Roaring64Bitmap].getName, "dvBitmap")
    ev.copy(
      code = code"""
        ${p.code}
        ${i.code}
        boolean ${ev.value} = true;
        if (!${p.isNull} && !${i.isNull}) {
          if ($lastPath == null || !$lastPath.equals(${p.value})) {
            $lastPath = ${p.value}.clone();
            $bitmap = $ref.bitmapFor($lastPath);
          }
          ${ev.value} = $bitmap == null || !$bitmap.contains(${i.value});
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(filePath = newChildren(0), rowIndex = newChildren(1))
}

/** `dv_rel_path(file_path)` → [[DeletionVectors.relPath]]. Codegen keeps the
  * current file's path and result in mutable state: the string compare runs
  * per row, the URI decode per file. */
case class DvRelPath(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "dv_rel_path"

  override protected def nullSafeEval(p: Any): Any =
    UTF8String.fromString(DeletionVectors.relPath(p.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val utf8 = classOf[UTF8String].getName
    val lastPath = ctx.addMutableState(utf8, "dvRelLastPath")
    val rel = ctx.addMutableState(utf8, "dvRel")
    nullSafeCodeGen(ctx, ev, p => s"""
      if ($lastPath == null || !$lastPath.equals($p)) {
        $lastPath = $p.clone();
        $rel = $utf8.fromString(graft.table.DeletionVectors$$.MODULE$$.relPath($lastPath.toString()));
      }
      ${ev.value} = $rel;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
