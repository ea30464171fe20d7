package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/**
 * Position deletes (deletion vectors): the deleted row positions of one data
 * file as one serialized 64-bit Roaring bitmap, the Iceberg v3 DV shape
 * (https://iceberg.apache.org/spec/#deletion-vectors). The only place that
 * knows the bytes: everything else handles [[DvMeta]] entries and
 * in-memory [[Bitmaps]].
 *
 * A DV-writing commit gathers its positions per data file in one Spark job
 * ([[collect]]) or on the driver ([[of]]), writes all its bitmaps back to back into one blob file
 * `data/<commit-uuid>/deletes.dv`, and records one [[DvMeta]] per data file
 * ([[write]]). Entries are additive: a later delete of the same file adds
 * another entry, and readers OR a file's entries. A rewrite of a data file
 * drops its entries from the manifests, and the blob stays until no kept
 * entry references it (expiry).
 *
 * Planning reads each bitmap once and caches it by blob ABSOLUTE path and
 * offset in a bounded in-process LRU. Blobs are write-once under a fresh
 * commit dir, so an entry can never go stale: a table dropped and recreated
 * at the same root writes its DVs under new dirs. Blob reads are data-plane
 * reads, like the parquet reads of data files: they bypass
 * [[FileIO]] and its metadata-call counter.
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

  /** File-name suffix of a DV blob (orphan GC sweeps it with `.parquet`). */
  val BlobSuffix = ".dv"

  /** Cache bound: estimated bitmap + key bytes held across all tables. A
    * bitmap larger than the whole budget is read but never cached. */
  private val CacheBudgetBytes = 64L << 20

  private final case class Entry(bitmap: Roaring64Bitmap, bytes: Long)

  private val cache = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var cachedBytes = 0L

  private def cached(key: String): Option[Roaring64Bitmap] = cache.synchronized {
    Option(cache.get(key)).map(_.bitmap)
  }

  private def remember(key: String, bitmap: Roaring64Bitmap, bytes: Long): Unit = {
    if (bytes > CacheBudgetBytes) return
    cache.synchronized {
      if (!cache.containsKey(key)) {
        cache.put(key, Entry(bitmap, bytes))
        cachedBytes += bytes
        val it = cache.values.iterator
        while (cachedBytes > CacheBudgetBytes && it.hasNext) {
          cachedBytes -= it.next().bytes
          it.remove()
        }
      }
    }
  }

  private def serialize(b: Roaring64Bitmap): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(Math.toIntExact(b.serializedSizeInBytes()))
    b.serialize(buf)
    buf.array()
  }

  private def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val b = new Roaring64Bitmap()
    b.deserialize(java.nio.ByteBuffer.wrap(bytes))
    b
  }

  /** Cache key of `e`'s bitmap under table `root`. */
  private def keyOf(root: String, e: DvMeta): String = s"$root/${e.blob}#${e.offset}"

  /** The bitmaps of `positions`, each a (data file, row position) pair. */
  def of(positions: IterableOnce[(String, Long)]): Bitmaps = {
    val out = scala.collection.mutable.HashMap.empty[String, Roaring64Bitmap]
    positions.iterator.foreach { case (f, pos) => out.getOrElseUpdate(f, new Roaring64Bitmap()).addLong(pos) }
    out.valuesIterator.foreach(_.runOptimize())
    out.toMap
  }

  /** The positions of `rows`, per data file: `_gdv_rel`/`_gdv_idx` as
    * [[TableState.withPositionDeletesKeepingPos]] adds them. ONE Spark job:
    * each task builds its partition's bitmaps ([[of]]) and ships them
    * serialized. */
  def collect(rows: DataFrame): Bitmaps = {
    import rows.sparkSession.implicits._
    val parts = rows.select("_gdv_rel", "_gdv_idx").as[(String, Long)].mapPartitions { it =>
      of(it).iterator.map { case (f, b) => (f, serialize(b)) }
    }.collect()
    union(parts.toSeq.map { case (f, bytes) => f -> deserialize(bytes) })
  }

  /** Write `bitmaps` back to back into one blob under `data/<commitUuid>/`
    * of table `root`; returns one entry per data file (none, and no file,
    * when `bitmaps` is empty). */
  def write(root: String, commitUuid: String, bitmaps: Bitmaps): Seq[DvMeta] = {
    if (bitmaps.isEmpty) return Seq.empty
    val blob = s"data/$commitUuid/deletes$BlobSuffix"
    val out = new java.io.ByteArrayOutputStream()
    val entries = bitmaps.toSeq.sortBy(_._1).map { case (f, b) =>
      val bytes = serialize(b)
      val e = DvMeta(f, blob, out.size.toLong, bytes.length.toLong, b.getLongCardinality, commitUuid)
      out.write(bytes)
      e
    }
    FileIO.writeBytes(s"$root/$blob", out.toByteArray)
    entries
  }

  /** Union per data file of the bitmaps `entries` (of table `root`) name;
    * positions repeated across entries count once. Uncached bitmaps are
    * read with one open per blob. */
  def load(root: String, entries: Seq[DvMeta]): Bitmaps = {
    val hits = entries.distinct.map(e => e -> cached(keyOf(root, e)))
    val read = hits.collect { case (e, None) => e }.groupBy(_.blob).flatMap { case (blob, es) =>
      val bytes = readRanges(s"$root/$blob", es.map(e => (e.offset, Math.toIntExact(e.length))))
      es.zip(bytes).map { case (e, b) =>
        val (key, bm) = (keyOf(root, e), deserialize(b))
        remember(key, bm, b.length + 2L * key.length)
        e -> bm
      }
    }
    union(hits.map { case (e, hit) => e.dataFile -> hit.getOrElse(read(e)) })
  }

  /** The bytes at each `(offset, length)` of one blob, in one open. */
  private def readRanges(path: String, ranges: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(path))
    try ranges.map { case (offset, length) =>
      val buf = java.nio.ByteBuffer.allocate(length)
      while (buf.hasRemaining)
        if (ch.read(buf, offset + buf.position()) < 0)
          throw new java.io.EOFException(s"$path ends before ${offset + length}")
      buf.array()
    } finally ch.close()
  }

  /** OR of the bitmaps given per data file. */
  private def union(parts: Seq[(String, Roaring64Bitmap)]): Bitmaps =
    parts.groupBy(_._1).map {
      case (f, Seq((_, b))) => f -> b
      case (f, bs) =>
        val out = new Roaring64Bitmap()
        bs.foreach { case (_, b) => out.or(b) }
        out.runOptimize()
        f -> out
    }

  /** `dv_keep(_metadata.file_path, _metadata.row_index)` over the bitmaps
    * `entries` (of table `root`) name — true for rows none of them deletes.
    * Must sit directly above a file-source scan (where `_metadata`
    * resolves). */
  def keep(root: String, entries: Seq[DvMeta]): Column = {
    import org.apache.spark.sql.functions.col
    Shims.column(DvKeep(Shims.expression(col("_metadata.file_path")),
      Shims.expression(col("_metadata.row_index")),
      new DvSet(entries.map(keyOf(root, _)).distinct.sorted, load(root, entries))))
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

/** The bitmaps a [[DvKeep]] probes. Equal when built from the same DV
  * entries (bitmaps are a pure function of immutable blobs), so plan
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
  override def toString: String = s"${key.size} DVs over ${bitmaps.size} data files"
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
